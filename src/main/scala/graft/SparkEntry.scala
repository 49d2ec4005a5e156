package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (one entry per implemented
  * operator from SURVEY.md §2 plus the training-data extensions);
  * `oracleSql` holds the DuckDB-equivalent SQL for every query whose
  * semantics are ANSI-SQL-expressible. Column names/aliases are kept
  * identical on both sides (driver compare sorts columns by name).
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalQueries.queries, RelationalQueries.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (EventQueries.queries, EventQueries.oracles),
      (DedupQueries.queries, DedupQueries.oracles),
      (SimilarityQueries.queries, SimilarityQueries.oracles),
      (TextAnalysisQueries.queries, TextAnalysisQueries.oracles),
      (CurationQueries.queries, CurationQueries.oracles),
      (MultimodalQueries.queries, MultimodalQueries.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** The entries a catalog main runs: `names` in the order given, or
    * every entry by name when None. An unknown name throws before the
    * caller builds a session: a typo'd filter would otherwise run (or
    * dump) nothing and read as a pass.
    */
  def select(names: Option[Seq[String]]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val chosen = names.getOrElse(all.keys.toSeq.sorted)
    val unknown = chosen.filterNot(all.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.mkString(", ")} (known: ${all.keys.toSeq.sorted.mkString(", ")})")
    chosen.map(n => n -> all(n))
  }
}
