package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Builder tooling: synthesize a larger scale factor by replicating a
  * driver-generated sfDir `factor`× with consistent key offsets, so the
  * bench can be run one order of magnitude up (`sf1` from `sf0.1`)
  * without touching the read-only testdata.
  *
  * Replication mirrors organic growth, not duplication:
  *  - fact/entity keys are offset per copy, and FOREIGN keys are offset by
  *    the same stride, so join fan-outs stay realistic (10× orders share
  *    10× customers, not one hot customer)
  *  - region/nation stay fixed (TPC-H dimension tables do not scale)
  *  - document text gets a per-copy marker token, so the corpus grows
  *    without becoming 90% exact duplicates (shingle/token document
  *    frequencies still scale linearly, like a real crawl)
  *  - embeddings perturb one non-bucket dimension per copy: sign buckets
  *    and labels are preserved, cosine neighborhoods shift slightly
  *
  * {{{ sbt "runMain graft.ScaleData /root/testdata/sf0.1 .localdata/sf1 10" }}}
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, factor, exact) = args match {
      case Array(s, o) => (s, o, 10, false)
      case Array(s, o, f) if f.forall(_.isDigit) && f.nonEmpty => (s, o, f.toInt, false)
      case Array(s, o, f, "exact") if f.forall(_.isDigit) && f.nonEmpty => (s, o, f.toInt, true)
      case _ =>
        System.err.println("usage: graft.ScaleData <srcSfDir> <outDir> [factor=10] [exact]")
        sys.exit(2)
    }
    val spark = EngineSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", EngineSession.defaultCores), "graft-scaledata")
    try scaleUp(spark, srcDir, outDir, factor, exact) finally spark.stop()
  }

  /** `exact = true` replicates documents byte-identically (no per-copy
    * marker): the EXACT-duplicate-dense corpus — mirror spam — that
    * instruments how the capped/pre-filtered operators behave when
    * duplication is pure copies rather than near-dups.
    */
  def scaleUp(spark: SparkSession, srcDir: String, outDir: String, factor: Int,
      exact: Boolean = false): Unit = {
    def src(name: String): DataFrame = Tables(spark, srcDir, name)
    def stride(df: DataFrame, key: String): Long = df.agg(max(col(key))).head().getLong(0) + 1

    val custN = stride(src("customer"), "c_custkey")
    val suppN = stride(src("supplier"), "s_suppkey")
    val partN = stride(src("part"), "p_partkey")
    val ordN = stride(src("orders"), "o_orderkey")
    val evtN = stride(src("events"), "event_id")
    val userN = src("events").agg(max(col("user_id"))).head().getLong(0) + 1
    val docN = stride(src("documents"), "doc_id")
    val vecN = stride(src("embeddings"), "vec_id")

    /** Union of `factor` copies with per-copy column rewrites. */
    def copies(name: String)(rewrite: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => rewrite(src(name), i)).reduce(_ unionByName _)

    def offset(df: DataFrame, i: Int, cols: (String, Long)*): DataFrame =
      cols.foldLeft(df) { case (d, (c, n)) => d.withColumn(c, col(c) + lit(i * n)) }

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> copies("customer")((d, i) => offset(d, i, "c_custkey" -> custN)),
      "supplier" -> copies("supplier")((d, i) => offset(d, i, "s_suppkey" -> suppN)),
      "part" -> copies("part")((d, i) => offset(d, i, "p_partkey" -> partN)),
      "orders" -> copies("orders")((d, i) =>
        offset(d, i, "o_orderkey" -> ordN, "o_custkey" -> custN)),
      "lineitem" -> copies("lineitem")((d, i) =>
        offset(d, i, "l_orderkey" -> ordN, "l_partkey" -> partN, "l_suppkey" -> suppN)),
      "events" -> copies("events")((d, i) =>
        offset(d, i, "event_id" -> evtN, "user_id" -> userN)),
      "documents" -> copies("documents")((d, i) =>
        offset(d, i, "doc_id" -> docN)
          .withColumn("text",
            if (i == 0 || exact) col("text") else concat(lit(s"c$i "), col("text")))
          .withColumn("n_chars",
            if (i == 0 || exact) col("n_chars") else col("n_chars") + lit(s"c$i ".length.toLong))),
      "embeddings" -> copies("embeddings")((d, i) =>
        offset(d, i, "vec_id" -> vecN)
          .withColumn("embedding",
            // perturb the LAST dimension (sign buckets read the first 16)
            transform(col("embedding"), (x, j) =>
              when(j === size(col("embedding")) - 1, x * lit(1.0f + i * 0.001f))
                .otherwise(x)))))

    out.foreach { case (name, df) =>
      // File-count policy: ~2 MiB of source bytes per output file. The
      // original coalesce(4) wrote each table as 4 single-row-group files,
      // and parquet splits at ROW-GROUP granularity — so every scan of the
      // replica was pinned to 4 tasks no matter the cluster width. A 51 MiB
      // embeddings table is small in BYTES but feeds compute-amplified
      // operators (the K·dim k-means assignment), where 4-way parallelism
      // on a 32-core host is an 8× wall-clock tax (measured: sf10
      // embedding_kmeans 171 s at cpu/wall 3.8). Real lakes have the same
      // hazard in reverse — many row groups per file — so the replica
      // should look like a real table: enough row groups to occupy the
      // host, bounded file count so the dimension tables stay compact.
      val srcBytes = tableBytes(s"$srcDir/$name.parquet")
      val estBytes = srcBytes * (if (name == "region" || name == "nation") 1 else factor)
      val parts = math.max(4L, math.min(128L, estBytes / (2L << 20))).toInt
      df.repartition(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"wrote $name ($parts files)")
    }
  }

  /** Size of a source table — a single parquet file or a directory of
    * part files (replica-of-replica builds read the latter).
    */
  private def tableBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      // listFiles() is null on races/permission errors; and only the
      // data files count — _SUCCESS/.crc sidecars would inflate the
      // estimate (r11 advisory)
      val files = Option(f.listFiles()).getOrElse(
        sys.error(s"cannot list source table directory: $path"))
      files.filter(p => p.isFile && p.getName.endsWith(".parquet"))
        .map(_.length).sum
    } else if (f.isFile) f.length
    else sys.error(s"source table not found: $path")
  }
}
