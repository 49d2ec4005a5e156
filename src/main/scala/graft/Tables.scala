package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst keeps full pushdown/pruning freedom —
  * filters and projections in downstream queries reach the scan. The
  * schema comes from the file's footer ([[footerSchema]]), so a read
  * starts no Spark job.
  *
  * `events.ts` is normalized to TimestampType here whatever the parquet
  * physical type, so every downstream query sees ONE timestamp semantics:
  *  - TIMESTAMP(NANOS): sessions must set
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (done once at
  *    construction by [[EngineSession]] — this loader deliberately does
  *    NOT mutate session conf as a side effect); the column surfaces as
  *    nanos-since-epoch LONG and is rebuilt by integer-dividing to
  *    micros — the same ns→us truncation DuckDB applies.
  *  - TIMESTAMP(MICROS) without isAdjustedToUTC (a later testdata
  *    generation): Spark 4 infers TIMESTAMP_NTZ, which instant-typed
  *    functions (`unix_micros`, watermarks) refuse; cast to TimestampType.
  *    The session timezone is pinned UTC ([[EngineSession]]), so the cast
  *    is value-preserving and agrees with DuckDB's naive reading.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    val path = s"$sfDir/$name.parquet"
    normalized(name, footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path))
  }

  /** The schema Spark's inference gives a SINGLE-file table, read from its
    * footer on the driver with the converter inference itself uses
    * ([[graft.bridge.SparkInternals.parquetFooterSchema]], which honors
    * the session's `nanosAsLong`, binary-as-string and NTZ settings).
    * Inference would spend a one-task Spark job per read on the same
    * footer. A directory (a table written by Spark, as specs do) returns
    * None and is inferred.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    if (st.isFile) Some(graft.bridge.SparkInternals.parquetFooterSchema(spark, st)) else None
  }

  /** `events.ts` rebuilt as TimestampType from whatever type the read
    * gave it (see the object doc); every other table as read.
    */
  private[graft] def normalized(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
}
