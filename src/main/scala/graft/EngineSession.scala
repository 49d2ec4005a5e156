package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured engine session (the Spark
  * analog of the reference's `config.json` bootstrap, `master.py:215-216`).
  *
  * Session-level settings live HERE, not inside table loaders or query
  * builders — mutating `spark.conf` mid-query is a session-global side
  * effect that is neither thread-safe nor scoped (see Tables scaladoc for
  * the one conf the testdata requires).
  */
object EngineSession {

  /** Confs any session using this library's table loaders must carry.
    *
    * `nanosAsLong`: the driver-generated `events.parquet` stores
    * TIMESTAMP(NANOS), which Spark otherwise refuses to read; with this
    * conf it surfaces as nanos-since-epoch LONG and [[Tables]] rebuilds a
    * proper TimestampType column (same ns→us truncation DuckDB applies).
    *
    * `ansi.enabled=false`: Spark 4 defaults to ANSI mode, where x/0 and
    * out-of-bounds element_at THROW; the DuckDB oracle (and classic Spark)
    * return NULL. A tokenless document would otherwise crash text_quality
    * (0/0), a single-row group agg_variance (n-1=0), and a zero-norm
    * vector the cosine queries — legal inputs must degrade to NULL rows,
    * not kill the job.
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false")

  /** Builder carrying the engine's required confs and extensions but NO
    * master or parallelism settings — for cluster deployment, where
    * spark-submit supplies the master and shuffle parallelism scales with
    * executors. `local` builds on this for the single-node harness.
    */
  def configured(appName: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      // Runtime bloom-filter join pruning: when a shuffle join's small side
      // carries a selective filter, build a bloom over its join keys and
      // push a might_contain probe into the BIG side's scan — at 100 TB
      // this prunes most of a fact scan before the exchange. This PINS the
      // Spark 4 default (already true) so the engine's posture survives a
      // cluster-level or future-default change; thresholds stay at the
      // production defaults (creation side <= 10 MB, probe side >= 10 GB),
      // so it only engages at the scale it pays for. ScaleOpsSpec lowers
      // them to prove the injection fires.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Join strategy stays at Spark's defaults (sort-merge preferred, no
    // shuffled-hash local-map threshold). Both alternatives were measured
    // and refuted: preferring shuffled-hash join cost +3.3% over the
    // catalog (`git show e9e7a22:OPTIMIZATION_r16.md`), and a 256m
    // local-map threshold heap-OOMs under memory pressure where
    // sort-merge spills (`git show e9e7a22:OPTIMIZATION_r17.md` #2).
    requiredConfs.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The local core count a main runs with when `SPARK_GRAFT_CPUS` is
    * unset: the host's.
    */
  def defaultCores: String = Runtime.getRuntime.availableProcessors().toString

  /** Local-mode builder with the engine's standard tuning: shuffle
    * parallelism = core count (not the 200 default — right-sized for a
    * single node; on a real cluster this scales with executor count), AQE
    * on for runtime coalescing/skew handling.
    */
  def local(cores: String, appName: String): SparkSession = {
    val shufflePartitions = if (cores == "*") defaultCores else cores
    val spark = configured(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
