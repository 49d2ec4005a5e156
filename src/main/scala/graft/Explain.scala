package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit tool: print the formatted physical plan of named catalog
  * queries (all of them with no args) against `SPARK_GRAFT_SF_DIR`.
  *
  * {{{
  *   sbt "runMain graft.Explain q1_pricing dedup_simhash_pairs"
  * }}}
  *
  * The things to look for (see SCALE.md): `PushedFilters`/`ReadSchema` on
  * scans, `ReusedExchange` on self-joins, `partial_*` aggregates before
  * exchanges, `TakeOrderedAndProject` for top-k, broadcast only on
  * structurally small sides, and wide `WholeStageCodegen` spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // --run: execute the query first and print the FINAL adaptive plan —
    // AQE decisions (ReusedExchange, broadcast/skew rewrites) only appear
    // after execution, so the static plan under-reports exchange reuse.
    val (flags, queryArgs) = args.partition(_.startsWith("--"))
    val run = flags.contains("--run")
    val selected =
      try SparkEntry.select(Some(queryArgs.toSeq).filter(_.nonEmpty))
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val spark = EngineSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", EngineSession.defaultCores), "graft-explain")
    selected.foreach { case (name, fn) =>
      println(s"===== $name =====")
      // construction is INSIDE the timing: iterative queries (e.g.
      // dedup_clusters' label loop) execute eagerly while the DataFrame
      // is built, so timing only the collect would under-report them
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (run) {
        // collect() drives THIS DataFrame's QueryExecution (a noop write
        // would plan a fresh one and show the pre-AQE plan); catalog
        // results are small, so the driver-side materialization is fine.
        val n = df.collect().length
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[$n rows in $secs%.2f s]")
        println(df.queryExecution.executedPlan.toString)
      } else
        println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
