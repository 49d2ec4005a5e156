package perfbench

import java.nio.file.Files

import graft.SparkEntry
import graft.operators.{Checkpoints, SessionCache}

/** Multi-job iterative catalog operators, one per catalog module, run in
  * a fixed order into the `noop` sink. One op is a cold-cache pass: it
  * starts with `SessionCache.clear()` and `Checkpoints.drain()`, as a
  * fresh session would; at least one pass is measured, and another only
  * while it is expected to end inside the measured window. Correctness:
  * an untimed first pass writes each query's rows to parquet, and
  * `run.py` compares their order-insensitive hash with DuckDB's result
  * for `SparkEntry.oracleSql(q)` on the same tables.
  */
object Catalog {
  val Queries: Seq[(String, String)] = Seq(
    "dedup_canonical" -> "DedupQueries",
    "decontaminate_fuzzy" -> "CurationQueries",
    "ann_ivfpq" -> "SimilarityQueries")
  /** How long the measured passes wait for the oracle to finish. */
  val OracleWaitS = 120

  def run(ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("tables").toString
    val verify = ctx.work.resolve("verify")
    val rec = ctx.rec
    val oracles = SparkEntry.oracleSql
    // written under a temporary name and renamed, so run.py can start
    // the oracle while the first pass runs
    val sqlTmp = ctx.work.resolve("oracle_sql.json.tmp")
    Files.writeString(sqlTmp, Json.render(Queries.map { case (q, _) => q -> oracles(q) }.toMap))
    Files.move(sqlTmp, ctx.work.resolve("oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    /** One cold-cache pass; `sink` executes a built frame. Returns the
      * pass wall time and the cache fills it caused.
      */
    def pass(label: String, sink: (String, org.apache.spark.sql.DataFrame) => Unit,
        record: Boolean): Option[(Double, Long)] = {
      val fills0 = SessionCache.fills
      val t0 = System.nanoTime()
      var drainS = 0.0
      var ok = true
      def drain(): Unit = {
        val t = System.nanoTime()
        Checkpoints.drain()
        drainS += (System.nanoTime() - t) / 1e9
      }
      SessionCache.clear()
      drain()
      Queries.foreach { case (q, module) =>
        rec.attempt(s"$label $q")(ctx.probe.span(s"$module.$q") {
          sink(q, SparkEntry.queries(q)(ctx.spark, dir))
        }) match {
          case Some((_, s)) =>
            rec.attempted += 1
            if (!record) rec.layer(s"first_pass.$q.s", s.wallS)
            else {
              rec.layer(s"$module.$q.s", s.wallS)
              rec.layer(s"$module.$q.jobs", s.c.jobs.toDouble)
              rec.layer(s"$module.$q.tasks", s.c.tasks.toDouble)
              rec.layer(s"$module.$q.shuffle_bytes", s.c.shuffleBytes.toDouble)
              rec.layer(s"$module.$q.spill_bytes", s.c.spillBytes.toDouble)
              rec.layer(s"$module.$q.executor_cpu_s", s.c.cpuS)
              rec.layer("spark.run_s", s.c.runS)
            }
          case None => ok = false
        }
        drain()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (record) rec.layer("Checkpoints.drain_s", drainS)
      if (ok) Some((wall, SessionCache.fills - fills0)) else None
    }

    // untimed first pass: JIT and codegen warm-up, and the rows run.py
    // checks against DuckDB
    val first = pass("verify", (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(verify.resolve(q).toString), record = false)
    val fills = first.map(_._2).toSeq.toBuffer
    // the measured passes must not share the cores with the oracle
    val done = ctx.work.resolve("oracle.done")
    val waitStart = System.nanoTime()
    while (!Files.exists(done) && (System.nanoTime() - waitStart) / 1e9 < OracleWaitS)
      Thread.sleep(50)
    rec.info("oracle_wait_s") = (System.nanoTime() - waitStart) / 1e9
    ctx.startClock()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (walls.isEmpty || ctx.fits(walls.last)) {
      pass("pass", (_, df) => df.write.format("noop").mode("overwrite").save(), record = true)
        .foreach { case (w, f) => walls += w; fills += f }
    }
    ctx.rec.ops ++= walls
    fills.foreach(f => rec.layer("SessionCache.fills", f.toDouble))
    // every pass starts cold, so every pass must fill the cache alike
    rec.verdict("SessionCache.fills repeat across passes",
      if (fills.distinct.size <= 1) None else Some(s"fills per pass ${fills.mkString(",")}"))
    val busy = rec.layers.get("spark.run_s").map(_.sum).getOrElse(0.0)
    if (walls.nonEmpty) rec.layer("spark.slot_busy_frac", busy / (walls.sum * ctx.cores))
    rec.layers.remove("spark.run_s")
    rec.info("queries") = Queries.map(_._1)
  }
}
