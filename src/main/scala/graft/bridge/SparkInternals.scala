package graft.bridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** THE single graft-side doorway to Spark-internal API.
  *
  * Two helper files live inside `org.apache.spark.sql.graft` because they
  * touch `private[sql]` members ([[org.apache.spark.sql.graft.ColumnBridge]],
  * [[org.apache.spark.sql.graft.CheckpointBridge]]); everything else in
  * this library reaches internals ONLY through this facade, so the whole
  * internal surface is auditable in one place and fenced by one spec
  * (SparkBridgeSpec), which fails with an upgrade checklist when the
  * session's Spark version drifts off the pin.
  */
object SparkInternals {

  /** The Spark version every internal signature below was validated
    * against (the build's unmanaged jars). SparkBridgeSpec asserts the
    * RUNNING session matches; constructor drift additionally surfaces as
    * compile failures confined to the two bridge files.
    */
  val PinnedSparkVersion = "4.1.2"

  /** Every internal signature the bridges touch — the upgrade checklist.
    * On a version bump: re-validate each against the new jars, then move
    * the pin.
    */
  val TouchedInternals: Seq[String] = Seq(
    "org.apache.spark.sql.classic.ExpressionUtils.column(Expression): Column",
    "org.apache.spark.sql.classic.ExpressionUtils.expression(Column): Expression",
    "org.apache.spark.sql.classic.Dataset.ofRows(classic.SparkSession, LogicalPlan): DataFrame",
    "org.apache.spark.sql.catalyst.plans.logical.LocalRelation(output, data) over DataTypeUtils.toAttributes(schema) (localRelation)",
    "org.apache.spark.sql.catalyst.expressions.JsonToStructs(schema, options, child, timeZoneId).eval (Engine.searchJson)",
    "org.apache.spark.sql.execution.LogicalRDD(output, rdd, partitioning, ordering)(session, Some(Statistics), None)",
    "org.apache.spark.sql.classic.SparkSession (cast from sql.SparkSession for ofRows/LogicalRDD)",
    "QueryExecution.toRdd / executedPlan.outputPartitioning / outputOrdering (checkpoint reconstruction)",
    "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(xxhash64, n, bits) (CurationQueries.bloomOf)",
    "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bloom, xxhash64) (CurationQueries.mightContain)",
    "ParquetFileFormat.readSchemaFromFooter(Footer, ParquetToSparkSchemaConverter(SQLConf)) over ParquetFooterReader.readFooter(HadoopInputFile, SKIP_ROW_GROUPS), with classic.SparkSession.sessionState.conf (Tables.footerSchema)")

  /** Wrap a native Catalyst expression as a public Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  /** Unwrap a Column to its backing expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Re-wrap a logical plan as a DataFrame (plan surgery, e.g. dropping a
    * global Sort before an update-mode streaming sink).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, plan)

  /** `rows` (of `schema`) as a DataFrame over a local relation: no
    * analysis beyond the leaf, and a `collect()` runs no Spark job.
    */
  def localRelation(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** The Spark schema of one parquet file from its footer, read on the
    * driver and converted as schema inference converts each file (its
    * per-file step, `readSchemaFromFooter`, under the session's SQLConf)
    * — without inference's one-task Spark job.
    */
  def parquetFooterSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val meta = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.sparkContext.hadoopConfiguration),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf))
  }

  /** Eager local checkpoint whose new leaf carries MEASURED statistics —
    * see [[org.apache.spark.sql.graft.CheckpointBridge]] for the driver
    * stats-blowup this exists to kill. Reach it via
    * [[graft.operators.Checkpoints.fresh]]/[[graft.operators.Checkpoints.corpusScaled]],
    * which add the block-lifecycle discipline.
    */
  def localCheckpointMeasured(df: DataFrame, level: StorageLevel): DataFrame =
    org.apache.spark.sql.graft.CheckpointBridge.localCheckpointMeasured(df, level)
}
