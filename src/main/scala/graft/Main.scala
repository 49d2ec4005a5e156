package graft

import org.apache.spark.sql.SparkSession

/** CLI front end — the analog of the reference's Flask app (`app.py:18-46`)
  * and `python3 master.py` boot (EP3, `master.py:303-304`):
  *
  *   - `run <config.json>`         — `POST /launch_map_reduce`: load the
  *     config file, run the job, print a completion status line
  *   - `run <op> <inDir> <outDir>` — same with an inline config
  *   - `fetch <outDir>`            — `GET /final_output`: print the stored
  *     result as JSON lines
  *   - `lookup <outDir> <term>`    — PDF Part-2 "Streaming Search" UI: point
  *     lookup of one key in a stored result
  *   - `serve <port> [config.json]` — start the HTTP front end
  *     ([[HttpFrontEnd]], the reference's Flask verbs) and block
  *
  * `fetch`/`lookup` collect to the driver deliberately: they serve a final,
  * already-aggregated result (the reference's final-output JSON), not a data
  * path — SURVEY §2.1 S7 declares this a thin app layer over the engine.
  * Both render rows with [[Engine.jsonLines]], so a `lookup` on a JSON
  * result runs no Spark job.
  */
object Main {

  /** Testable dispatcher (no session lifecycle, no exit). Returns 0 on
    * success, 2 on usage error.
    */
  def dispatch(spark: SparkSession, args: Seq[String]): Int = args.toList match {
    case "run" :: cfgPath :: Nil =>
      runJob(spark, JobConfig.fromJsonFile(spark, cfgPath))
    case "run" :: op :: in :: out :: Nil =>
      runJob(spark, JobConfig(op, in, out))
    case "fetch" :: out :: Nil =>
      Engine.jsonLines(Engine.fetchResult(spark, out)).foreach(println)
      0
    case "lookup" :: out :: term :: Nil =>
      Engine.jsonLines(Engine.lookup(spark, out, term)).foreach(println)
      0
    case "serve" :: portStr :: rest if rest.length <= 1 && portStr.forall(_.isDigit) =>
      val boot = rest.headOption.map(p => JobConfig.fromJsonFile(spark, p))
      // /bm25 ranks against the conventional tables-dir env var when set
      val server = HttpFrontEnd.start(spark, boot, portStr.toInt,
        sys.env.get("SPARK_GRAFT_SF_DIR"))
      println(s"""{"status":"serving","port":${server.getAddress.getPort}}""")
      while (true) synchronized { wait() } // serve until killed (wait() wakes spuriously)
      0
    case _ =>
      System.err.println(
        """usage: graft.Main run <config.json>
          |       graft.Main run <operation> <inputDir> <outputDir>
          |       graft.Main fetch <outputDir>
          |       graft.Main lookup <outputDir> <term>
          |       graft.Main serve <port> [config.json]
          |operations: """.stripMargin + OperationRegistry.names.mkString(", "))
      2
  }

  private def runJob(spark: SparkSession, cfg: JobConfig): Int = {
    Engine.run(spark, cfg)
    // count the WRITTEN result (one small JSON file) — counting the
    // returned DataFrame would re-execute the whole uncached pipeline
    val n = Engine.fetchResult(spark, cfg.outputPath).count()
    println(s"""{"status":"complete","operation":${JsonUtil.escape(cfg.operation)},"rows":$n,"output":${JsonUtil.escape(cfg.outputPath)}}""")
    0
  }

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", EngineSession.defaultCores), "graft")
    val rc = try dispatch(spark, args.toSeq) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
