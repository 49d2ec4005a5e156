package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{Engine, JobConfig}
import graft.sources.Sinks

/** File arrival → recompute → searchable result (the paper's FaaS
  * variant). `Engine.runStreamIncremental` (wordcount, update mode, merged
  * into the keyed parquet result) watches an empty directory; each
  * [[batch]] lands the next 16 seeded files atomically — one trigger, as
  * 16 is `corpusStream`'s `maxFilesPerTrigger` — and times from the last
  * landing until `processAllAvailable()` returns and the result is
  * lookup-visible. [[lookups]] read the keyed result while the stream keeps
  * running. Expected counts are the sums of `gen.py`'s per-batch word
  * counts over the batches landed so far.
  */
final class FileArrival(ctx: Ctx) {
  val FilesPerBatch = 16
  private val rec = ctx.rec
  private val in = Files.createDirectories(ctx.work.resolve("stream_in"))
  private val out = ctx.work.resolve("stream_out").toString
  private val batches: IndexedSeq[Seq[Path]] =
    Files.list(ctx.work.resolve("stream_files")).iterator.asScala.toSeq
      .sortBy(_.getFileName.toString).grouped(FilesPerBatch).toIndexedSeq
  private val deltas: Map[Int, Seq[(String, Long)]] = tsv("stream_deltas.tsv")
    .map(a => (a(0).toInt, a(1), a(2).toLong)).groupBy(_._1)
    .map { case (b, xs) => b -> xs.map(x => (x._2, x._3)) }
  private val terms: Map[Int, Seq[String]] = tsv("stream_terms.tsv")
    .map(a => (a(0).toInt, a(1))).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) }
  private val expected = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val merges = ArrayBuffer.empty[Sinks.MergeStats]
  private var landed = 0

  Sinks.onMerge(m => merges.synchronized(merges += m))
  // started outside any span: the stream thread must not inherit one
  private val query = Engine.runStreamIncremental(ctx.spark, JobConfig("wordcount", in.toString, out))

  private def tsv(name: String): Seq[Array[String]] =
    Files.readAllLines(ctx.work.resolve(name)).asScala.toSeq.map(_.split("\t", -1))

  def remaining: Int = batches.size - landed

  /** Land the next batch and wait until it is processed. Returns the
    * latency, or NaN on failure.
    */
  def batch(record: Boolean): Double = {
    val b = landed
    merges.synchronized(merges.clear())
    batches(b).foreach { f =>
      // write under a hidden name, then rename into view
      val name = f.getFileName.toString
      val tmp = in.resolve("." + name + ".tmp")
      Files.copy(f, tmp)
      Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    landed += 1
    deltas.getOrElse(b, Nil).foreach { case (w, c) => expected(w) += c }
    val what = s"stream batch $b"
    rec.attempt(what)(ctx.probe.span("StreamingPipelines.batch")(query.processAllAvailable())) match {
      case Some((_, s)) =>
        rec.verdict(what, query.exception.map(_.getMessage))
        if (record) recordBatch(s)
        s.wallS
      case None => Double.NaN
    }
  }

  /** Seeded point lookups on the keyed result, each checked. */
  def lookups(record: Boolean): Unit =
    terms.getOrElse(landed - 1, Nil).foreach { term =>
      val what = s"keyed lookup '$term' after batch ${landed - 1}"
      if (record && ctx.trace) rec.attempt(what) {
        val (_, s) = ctx.probe.span("Sinks.readKeyedParquet")(Sinks.readKeyedParquet(ctx.spark, out))
        rec.layer("Sinks.readKeyedParquet.self_s", s.wallS)
      }
      rec.attempt(what)(ctx.probe.span("Engine.lookup.keyed")(
        Engine.lookup(ctx.spark, out, term).collect())).foreach { case (rows, s) =>
        val got = rows.map(_.getAs[Long]("count")).toSeq
        val want = Some(expected(term)).filter(_ > 0).toSeq
        rec.verdict(what, if (got == want) None else Some(s"got $got, expected $want"))
        if (record) {
          rec.layer("Engine.lookup.keyed_s", s.wallS)
          if (ctx.trace) rec.layer("Engine.lookup.keyed_jobs", s.c.jobs.toDouble)
        }
      }
    }

  /** Stop the stream and check the whole keyed table. */
  def finish(): Unit = {
    query.stop()
    Sinks.clearOnMerge()
    rec.attempt("keyed table") {
      val got = Engine.fetchResult(ctx.spark, out).collect()
        .map(row => row.getAs[String]("word") -> row.getAs[Long]("count")).toMap
      val want = expected.toMap
      rec.verdict(s"keyed table after $landed batches",
        if (got == want) None
        else Some(s"${got.size} keys (${(got.toSet diff want.toSet).size} wrong), expected ${want.size}"))
      val bytes = Files.walk(Path.of(out)).iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      rec.layer("stream.bytes_per_key", bytes.toDouble / got.size.max(1))
    }
  }

  private def recordBatch(s: Sample): Unit = {
    rec.layer("StreamingPipelines.batch_s", s.wallS)
    rec.layer("spark.jobs_per_batch", s.c.jobs.toDouble)
    if (!ctx.trace) return
    query.recentProgress.filter(_.numInputRows > 0).lastOption.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      rec.layer("StreamingPipelines.trigger_s", d.getOrElse("triggerExecution", 0.0))
      rec.layer("StreamingPipelines.addBatch_s", d.getOrElse("addBatch", 0.0))
      rec.layer("StreamingPipelines.planning_s", d.getOrElse("queryPlanning", 0.0))
      rec.layer("StreamingPipelines.walCommit_s", d.getOrElse("walCommit", 0.0))
      rec.layer("StreamingPipelines.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      rec.layer("StreamingPipelines.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
    merges.synchronized(merges.toList).foreach { m =>
      rec.layer("Sinks.mergeIntoKeyedParquet.s", m.totalSec)
      rec.layer("Sinks.mergeIntoKeyedParquet.compaction_s", m.compactionSec)
      rec.layer("Sinks.mergeIntoKeyedParquet.delta_bytes", m.deltaBytes.toDouble)
      rec.layer("Sinks.mergeIntoKeyedParquet.absorbed_bytes", m.absorbedBytes.toDouble)
      rec.layer("Sinks.mergeIntoKeyedParquet.compact_buckets", m.compactBuckets.toDouble)
      rec.layer("Sinks.mergeIntoKeyedParquet.write_amp",
        if (m.deltaBytes > 0) (m.deltaBytes + m.absorbedBytes).toDouble / m.deltaBytes else 1.0)
    }
  }
}
