package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.{Engine, JobConfig, OperationRegistry}
import graft.sources.CorpusReader

/** Expected wordcount / inverted index, as `gen.py` computed them. */
final class WordIndex(path: Path) {
  val entries: Map[String, (Long, Seq[String])] =
    Files.readAllLines(path).asScala.iterator.map { l =>
      val Array(w, c, d) = l.split("\t", -1)
      w -> (c.toLong, d.split(",").toSeq)
    }.toMap
  val sortedWords: IndexedSeq[String] = entries.keys.toIndexedSeq.sorted
}

/** The paper's users: they run a job, look words up in the result, and
  * upload files that the FaaS variant recomputes while search keeps
  * answering. One op is a round: `Engine.run` wordcount and then inverted
  * index over the seeded corpus, each from submit until its sorted JSON
  * is published and each followed by point lookups on that JSON; the
  * op's time is the sum of those calls. `WarmupRounds` identical rounds
  * run first, checked and not timed; then the loop runs at least
  * `MinRounds` rounds and then another while it is expected to end
  * inside the measured window. In a traced run, [[FileArrival]] batches
  * then feed the streaming layers (they report per-layer metrics only).
  * Every publish and every lookup is checked against the oracle, outside
  * the timed calls.
  */
object MapReduce {
  val Ops = Seq("wordcount", "invertedindex")
  val LookupsPerJob = 4
  val WarmupRounds = 2
  val MinRounds = 2
  private val mapper = new ObjectMapper()

  def run(ctx: Ctx): Unit = {
    val corpus = ctx.work.resolve("corpus").toString
    val expected = new WordIndex(ctx.work.resolve("expected.tsv"))
    val terms = Files.readAllLines(ctx.work.resolve("lookups.txt")).asScala.toIndexedSeq
    var next = 0
    def nextTerm(): String = { next += 1; terms((next - 1) % terms.size) }

    def job(op: String, traced: Boolean, rec: Boolean, lookups: Int): Double = {
      val out = ctx.work.resolve(s"out_$op").toString
      val conf = JobConfig(op, corpus, out)
      val t = if (traced) tracedRun(ctx, conf) else {
        val r = ctx.rec.attempt(s"Engine.run $op")(ctx.probe.span(s"Engine.run.$op")(Engine.run(ctx.spark, conf)))
        r.foreach { case (_, s) =>
          if (rec) {
            ctx.rec.layer(s"Engine.run.${op}_s", s.wallS)
            ctx.rec.opPart(s"Engine.run.$op", 1, s.wallS)
          }
        }
        r.map(_._2.wallS).getOrElse(Double.NaN)
      }
      if (!t.isNaN) ctx.rec.verdict(s"Engine.run $op", checkPublished(Path.of(out), op, expected))
      val reads = (1 to lookups).map { _ =>
        val s = lookup(ctx, out, op, nextTerm(), expected, traced)
        if (rec && !s.isNaN) {
          ctx.rec.layer("Engine.lookup.json_s", s)
          ctx.rec.opPart(s"Engine.lookup.$op", lookups, s)
        }
        s
      }
      t + reads.sum
    }

    // warm-up: JIT and codegen, checked, not timed
    (1 to WarmupRounds).foreach(_ => Ops.foreach(job(_, traced = false, rec = false, LookupsPerJob)))
    ctx.startClock()
    var round = 0
    var roundWall = 0.0
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (round < MinRounds || ctx.fits(roundWall)) {
      // a traced run alternates traced and untraced rounds, so the
      // tracing overhead is measured in the same JVM
      val tr = ctx.trace && round % 2 == 1
      val t0 = ctx.elapsed
      val s = Ops.map(job(_, tr, rec = !tr, lookups = LookupsPerJob)).sum
      if (!s.isNaN) (if (tr) traced else untraced) += s
      roundWall = roundWall max (ctx.elapsed - t0)
      round += 1
    }
    ctx.rec.ops ++= untraced
    if (!ctx.trace) return
    if (traced.nonEmpty && untraced.nonEmpty)
      ctx.rec.layer("trace.overhead_s", median(traced) - median(untraced))

    val arrival = new FileArrival(ctx)
    try {
      while (arrival.remaining > 0) {
        arrival.batch(record = true)
        arrival.lookups(record = true)
      }
    } finally arrival.finish()
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def observedCount(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One traced job: materialise the scan, then the pipeline on top of
    * it, then the whole `Engine.run`; each layer's self time is the
    * difference between consecutive prefixes. Returns the whole traced
    * wall time (all three prefixes), or NaN on failure.
    */
  private def tracedRun(ctx: Ctx, conf: JobConfig): Double = {
    val p = ctx.probe
    val op = conf.operation
    val name = if (op == "wordcount") "wordCount" else "invertedIndex"
    ctx.rec.attempt(s"Engine.run $op (traced)") {
      val (rows, scan) = p.span("CorpusReader.cleaned") {
        val (df, o) = observedCount(CorpusReader.cleaned(ctx.spark, conf.inputPath))
        noop(df)
        o.get("n").asInstanceOf[Long]
      }
      val (keys, pipe) = p.span(s"TextPipelines.$name") {
        val (df, o) = observedCount(
          OperationRegistry(op)(CorpusReader.cleaned(ctx.spark, conf.inputPath), false))
        noop(df)
        o.get("n").asInstanceOf[Long]
      }
      val (_, full) = p.span(s"Engine.run.$op")(Engine.run(ctx.spark, conf))
      val r = ctx.rec
      r.layer("CorpusReader.self_s", scan.wallS)
      r.layer("CorpusReader.rows_out", rows.toDouble)
      r.layer("CorpusReader.input_bytes", scan.c.inputBytes.toDouble)
      r.layer(s"TextPipelines.$name.self_s", pipe.wallS - scan.wallS)
      r.layer(s"TextPipelines.$name.shuffle_write_bytes", pipe.c.shuffleWriteBytes.toDouble)
      r.layer(s"TextPipelines.$name.keys_out", keys.toDouble)
      r.layer("Sinks.sortedSingleFileJson.self_s", full.wallS - pipe.wallS)
      r.layer("Sinks.sortedSingleFileJson.bytes_written", full.c.outputBytes.toDouble)
      r.layer("Engine.run.jobs", full.c.jobs.toDouble)
      r.layer("Engine.run.tasks", full.c.tasks.toDouble)
      r.layer("Engine.run.slot_busy_frac", full.slotBusyFrac(ctx.cores))
      r.layer("Engine.run.gc_s", full.gcS)
      scan.wallS + pipe.wallS + full.wallS
    }.getOrElse(Double.NaN)
  }

  /** One point lookup on a published JSON result; checked; returns its
    * latency (NaN on failure). A traced lookup also times the eager
    * `fetchResult` on its own.
    */
  private def lookup(ctx: Ctx, out: String, op: String, term: String,
      expected: WordIndex, traced: Boolean): Double = {
    val what = s"Engine.lookup $op '$term'"
    if (traced) ctx.rec.attempt(what) {
      val (_, fetch) = ctx.probe.span("Engine.fetchResult")(Engine.fetchResult(ctx.spark, out))
      ctx.rec.layer("Engine.fetchResult.self_s", fetch.wallS)
    }
    ctx.rec.attempt(what)(ctx.probe.span("Engine.lookup")(
      Engine.lookup(ctx.spark, out, term).collect())) match {
      case Some((rows, s)) =>
        ctx.rec.verdict(what, checkLookup(rows, op, term, expected))
        if (traced) {
          ctx.rec.layer("Engine.lookup.self_s", s.wallS)
          ctx.rec.layer("Engine.lookup.jobs", s.c.jobs.toDouble)
          ctx.rec.layer("Engine.lookup.input_bytes", s.c.inputBytes.toDouble)
        }
        s.wallS
      case None => Double.NaN
    }
  }

  def checkLookup(rows: Array[Row], op: String, term: String, exp: WordIndex): Option[String] =
    exp.entries.get(term) match {
      case None => if (rows.isEmpty) None else Some(s"absent word returned ${rows.length} rows")
      case Some((c, docs)) =>
        if (rows.length != 1) Some(s"expected 1 row, got ${rows.length}")
        else if (op == "wordcount") {
          val got = rows(0).getAs[Long]("count")
          if (got == c) None else Some(s"count $got, expected $c")
        } else {
          val got = rows(0).getAs[scala.collection.Seq[String]]("docs").toSeq
          if (got == docs) None else Some(s"docs ${got.take(3)}…, expected ${docs.take(3)}…")
        }
    }

  /** The published artifact must be one JSON-lines file, key-sorted,
    * holding exactly the expected entries.
    */
  def checkPublished(dir: Path, op: String, exp: WordIndex): Option[String] = {
    val parts = Files.list(dir).iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    if (parts.size != 1) return Some(s"${parts.size} part files, expected 1")
    val lines = Files.readAllLines(parts.head).asScala
    if (lines.size != exp.sortedWords.size)
      return Some(s"${lines.size} keys, expected ${exp.sortedWords.size}")
    var i = 0
    while (i < lines.size) {
      val n = mapper.readTree(lines(i))
      val w = n.get("word").asText
      if (w != exp.sortedWords(i)) return Some(s"line $i key '$w', expected '${exp.sortedWords(i)}'")
      val (c, docs) = exp.entries(w)
      val ok =
        if (op == "wordcount") n.get("count").asLong == c
        else n.get("docs").elements.asScala.map(_.asText).toSeq == docs
      if (!ok) return Some(s"wrong value for '$w'")
      i += 1
    }
    None
  }
}
