package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR (or the directory given as the first argument —
  * e.g. the 10× `.localdata/sf1` replica `graft.ScaleData` builds) and
  * prints JSON lines with per-query seconds, so scaling evidence is
  * the same machine-checkable artifact at every SF. Three lines are
  * printed, largest first, so a tail-truncated log capture always keeps
  * the (tiny, final) total/failed summary — see the comment at the
  * output block for the r11 truncation incident that forced this shape.
  *
  * Queries are forced through the `noop` sink rather than `.count()` —
  * count() lets Catalyst prune all projections away, which would benchmark
  * an empty plan for projection-shaped queries.
  *
  * The artifact is self-diagnosing: twice (r9, r10) an official bench was
  * poisoned by host contention while the identical command at the same
  * HEAD measured 2-4× faster, and a bare seconds number cannot tell a
  * contended host from a code regression. Each query therefore also
  * records its JVM GC-time delta (`gc` map, seconds) and its
  * process-CPU/wall ratio (`cpu` map): a healthy 32-thread local run
  * shows cpu well above 1 and gc a small fraction of wall; a query whose
  * wall time balloons while its OWN cpu and gc stay flat was starved by
  * the HOST, not by the plan. Optional `SPARK_GRAFT_BENCH_REPS=N` runs
  * each query N times and reports the MIN rep (with that rep's gc/cpu) —
  * min-of-N is the standard floor estimator under noise.
  */
object Bench {

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def main(args: Array[String]): Unit = {
    val harnessT0 = System.nanoTime()
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt)
    val spark = EngineSession.local(cpus, "graft-bench")

    // Warm the session before timing: file listing, parquet footer reads,
    // page cache, and JIT of the scan path otherwise land entirely on the
    // alphabetically first query (agg_rollup carried ~4s of warmup in r2).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Scan warmup alone leaves the aggregate/join machinery cold: the
    // first heavy queries (alphabetically the lineitem agg_* family) have
    // historically carried a C2-compilation storm — the same HEAD
    // measured agg_rollup at 79.8 / 19.9 / 1.2 s across sf1 chains, with
    // the slow runs showing HIGH cpu ratios (the JIT compiler threads,
    // not starvation). One small grouped-sum + join action compiles the
    // shared hash-aggregate / exchange / join classes before timing
    // starts; per-query generated code still JITs per query, but the
    // hot shared runtime does not land on query #3's clock.
    try {
      import org.apache.spark.sql.functions._
      val l = Tables(spark, sfDir, "lineitem").limit(50000)
      val o = Tables(spark, sfDir, "orders").limit(50000)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(_) => () }

    // A query that throws still gets a timing entry, but is ALSO listed in
    // "failed" — a broken query must never read as a speedup in the bench
    // line.
    case class Rep(sec: Double, gcSec: Double, cpuRatio: Double, ok: Boolean)
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String): Rep = {
      val gc0 = gcMillis(); val cpu0 = processCpuNanos(); val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      // this query's action is complete — release any checkpoints it
      // retired, so block accumulation can't poison later queries' heap
      // (the r9 driver-bench regression; Checkpoints scaladoc). Blocking:
      // the next query must start against a clean block store.
      graft.operators.Checkpoints.drain()
      val wallNs = System.nanoTime() - t0
      val cpuRatio =
        if (cpu0 < 0) -1.0 else (processCpuNanos() - cpu0).toDouble / wallNs
      Rep(wallNs / 1e9, (gcMillis() - gc0) / 1e3, cpuRatio, ok)
    }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 narrows the chain to named queries —
    // the single-query reproduction harness (a failed query in a 108-query
    // chain needs a 30 s rerun, not a 30 min one). A typo must fail LOUDLY:
    // a silently-empty filter would emit a JSON line indistinguishable from
    // a (suspiciously fast) full official chain.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val rs = (1 to reps).map(_ => once(fn, name))
      val best = rs.minBy(_.sec)
      (name, best.copy(ok = rs.forall(_.ok)), rs.map(_.sec).max)
    }
    def mapOf(f: Rep => Double, fmt: String): String = results
      .map { case (k, r, _) => "\"" + k + "\":" + fmt.format(f(r)) }
      .mkString("{", ",", "}")
    val qs = mapOf(_.sec, "%.3f")
    val gc = mapOf(_.gcSec, "%.3f")
    val cpu = mapOf(_.cpuRatio, "%.2f")
    // max rep per query — under reps>1 with the session cache, a cached
    // query's MIN rep is the warm steady state and the COLD build cost
    // would otherwise vanish from the per-query record entirely (it is
    // in `wall`, but unattributed); max ≈ the cold rep for cached
    // queries, and the min/max spread doubles as a noise indicator.
    val cold = results
      .map { case (k, _, mx) => "\"" + k + "\":" + "%.3f".format(mx) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, r, _) if !r.ok => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2.sec).sum
    val gcTotal = results.map(_._2.gcSec).sum
    // `value` is the sum of per-query MIN reps — the floor estimate. With
    // the session cache, a later rep of a cached query measures the WARM
    // steady state, so under reps>1 the cold build cost would vanish from
    // `value` entirely; `wall` is the true harness elapsed time (warmup +
    // every rep + drains), so the artifact carries both numbers and
    // cannot overstate health.
    val wall = (System.nanoTime() - harnessT0) / 1e9
    val onlyField = only.fold("")(n =>
      ",\"only\":" + n.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","wall":$wall%.3f,"queries":$qs,"gc":$gc,"cpu":$cpu,"cold":$cold,"reps":$reps,"failed":$failed$onlyField,"sf":"$sfDir"}"""
    // The driver only keeps the LAST ~2 KB of the captured log, and the
    // full self-diagnosing line (queries + gc + cpu maps, ~7.5 KB) outgrew
    // that window in r11 — the official artifact lost its per-query
    // SECONDS and kept a cpu-ratio fragment that read as timings. Output
    // order below makes the record truncation-proof at ANY tail size:
    //   1. the full line goes to a FILE (SPARK_GRAFT_BENCH_FULL, default
    //      bench_full_<sf>_c<cpus>_<epochMillis>.json in the working
    //      directory, so runs never overwrite each other) and to stdout
    //      first (chain logs);
    //   2. a seconds-only {"metric":"queries",...} line — if the tail
    //      window is generous, per-query SECONDS are what it captures
    //      (seconds print with 3 decimals, cpu ratios with 2, so even a
    //      head-truncated fragment is identifiable);
    //   3. the FINAL line is a ~250-byte summary (total, gc_total, reps,
    //      failed, full-artifact path) that survives any plausible tail.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", {
      val sf = new java.io.File(sfDir).getName
      new java.io.File(s"bench_full_${sf}_c${cpus}_${System.currentTimeMillis}.json")
        .getAbsolutePath
    })
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}") }
    println(fullLine)
    println(s"""{"metric":"queries","unit":"sec","queries":$qs}""")
    val summaryLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","wall":$wall%.3f,"gc_total":$gcTotal%.3f,"reps":$reps,"failed":$failed$onlyField,"sf":"$sfDir","full":"$fullPath"}"""
    println(summaryLine)
    spark.stop()
    // The FINAL line must survive the driver's ~2 KB tail capture at any
    // catalog size (the r11 truncation incident; VERDICT r16 #8). On the
    // official full-catalog path it has no per-query content, so it only
    // grows if a failure list explodes — in which case the run is red
    // anyway; enforce the healthy-path bound so growth is caught here, not
    // in a blind round-over-round gap. ONLY-narrowed probe runs are
    // exempt (their `only` list is legitimate line mass, and they are not
    // the driver's artifact). Checked after the line is printed, so the
    // record it protects is never lost to the failure.
    if (only.isEmpty && failed == "[]" && summaryLine.length >= 1500) {
      System.err.println(
        s"[bench] summary line grew to ${summaryLine.length} bytes — no longer tail-safe")
      sys.exit(1)
    }
  }
}
