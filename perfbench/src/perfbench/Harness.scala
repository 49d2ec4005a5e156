package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Raw samples of one run; `run.py` turns them into the reported
  * metrics.
  */
final class Recorder {
  val ops = ArrayBuffer.empty[Double]
  /** The calls of an op by kind, when an op is several calls: how many
    * of that kind one op makes, and their latencies over the measured
    * ops.
    */
  val opParts = mutable.LinkedHashMap.empty[String, (Int, ArrayBuffer[Double])]
  val layers = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def opPart(kind: String, perOp: Int, v: Double): Unit =
    opParts.getOrElseUpdate(kind, (perOp, ArrayBuffer.empty))._2 += v

  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Count one attempted operation; `problem` is None when its output
    * was right.
    */
  def verdict(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $p"
      System.err.println(s"[perfbench] FAILED $what: $p")
    }
  }

  /** Run an operation, counting an exception as a failed attempt. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        verdict(what, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        None
    }

  def failureList: Seq[String] = failures.toSeq
}

final case class Ctx(spark: SparkSession, probe: Probe, work: Path, seconds: Double,
    trace: Boolean, rec: Recorder) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private var t0 = System.nanoTime()
  /** Start the measured window (after the workload's warm-up). */
  def startClock(): Unit = t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  /** Whether another op that takes about `opS` ends inside the
    * measured window.
    */
  def fits(opS: Double): Boolean = elapsed + opS <= seconds
}

/** Entry point of the benchmark JVM.
  *
  * `--workload <mapreduce|catalog_iterative> --work <dir>
  *  --seconds <n> --trace <0|1> --result <file>`
  *
  * `<dir>` holds the inputs and expected results `run.py` generated; the
  * raw samples go to `<file>` as JSON.
  */
object Harness {
  val Cores = "4"
  // per-process identifiers and launcher boilerplate, not settings
  private val Volatile = Seq(".id", ".startTime", ".port", ".host", "extraJavaOptions")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work"))
    val trace = opt.getOrElse("trace", "0") == "1"
    val rec = new Recorder

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, setup) = Setup.build(work.resolve("warm"))
    rec.layer("EngineSession.cold_s", (setup.coldReadyMs - jvmStartMs) / 1e3)
    rec.info("setup_samples_s") = setup.samples
    val probe = Probe.install(spark, keepSpans = trace)
    val ctx = Ctx(spark, probe, work, opt("seconds").toDouble, trace, rec)
    try workload match {
      case "mapreduce" => MapReduce.run(ctx)
      case "catalog_iterative" => Catalog.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      rec.info("measure_wall_s") = ctx.elapsed
      rec.info("peak_rss_mb") = peakRssMb
      rec.info("spark_conf") = spark.conf.getAll.filter { case (k, _) =>
        !Volatile.exists(k.endsWith) }.toSeq.sorted.toMap
      rec.info("cores") = ctx.cores
      rec.info("max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
      Files.writeString(Paths.get(opt("result")), Json.render(Map(
        "ops_s" -> rec.ops,
        "op_parts" -> rec.opParts.map { case (k, (n, xs)) => k -> Map("per_op" -> n, "samples_s" -> xs) },
        "attempted" -> rec.attempted, "failed" -> rec.failed,
        "failures" -> rec.failureList, "layers" -> rec.layers,
        "info" -> rec.info,
        "spans" -> probe.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))
      spark.stop()
    }
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Session set-up, timed several times in one JVM. */
object Setup {
  final case class Result(coldReadyMs: Long, samples: Seq[Double])
  val Rebuilds = 3

  /** Build the engine session and warm it with one tiny job through the
    * engine's own path (scan, clean, wordcount, JSON sink, lookup). The
    * first build pays class loading; it is reported on its own. The
    * session is then stopped and rebuilt `Rebuilds` times; those are the
    * samples `setup_s` is the median of.
    */
  def build(warmDir: Path): (SparkSession, Result) = {
    def once(): SparkSession = {
      val spark = graft.EngineSession.local(Harness.Cores, "perfbench")
      val out = warmDir.resolveSibling("warm_out").toString
      graft.Engine.run(spark, graft.JobConfig("wordcount", warmDir.toString, out))
      val hit = graft.Engine.lookup(spark, out, "alpha").collect()
      require(hit.length == 1 && hit(0).getAs[Long]("count") == 3L,
        s"warm-up lookup returned ${hit.mkString(",")}")
      spark
    }
    var spark = once()
    val coldReady = System.currentTimeMillis()
    // the inputs are generated while this JVM starts; the timed set-ups
    // must not share the cores with that
    val ready = warmDir.resolveSibling("inputs.ready")
    while (!Files.exists(ready)) Thread.sleep(20)
    val samples = (1 to Rebuilds).map { _ =>
      spark.stop()
      val t = System.nanoTime()
      spark = once()
      (System.nanoTime() - t) / 1e9
    }
    (spark, Result(coldReady, samples))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
