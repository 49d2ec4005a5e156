package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Scale-floor benchmark for the INCREMENTAL dedup streams — the
  * delta-proportional-publish claim, measured instead of argued.
  *
  * Replays the documents table of SPARK_GRAFT_SF_DIR (or the dir given
  * as the first argument) through [[graft.streaming.StreamingPipelines
  * .incrementalDedupStream]] (doc-granular, Hamming-3 probe) and
  * [[graft.streaming.StreamingPipelines.incrementalChunkDedupStream]]
  * (chunk-granular) as SPARK_GRAFT_STREAM_BATCHES (default 8) arriving
  * crawl batches: slice i = doc_id % N == i, written as one parquet file
  * into the watched dir, then `processAllAvailable()` — so each measured
  * interval is exactly one micro-batch's sign → probe → upsert cycle
  * against the history accumulated by batches 0..i-1.
  *
  * What "flat" must mean here: per-batch wall time may carry a
  * history-proportional TERM (the anti-join probe scans the published
  * signature table — at steady state that read is the floor of any
  * dedup-against-history design), but must not grow SUPER-linearly in
  * the history (a quadratic re-publish, an unbounded state store, a
  * checkpoint leak). The r12 8-batch replays could not separate the
  * LSM sink's amortized compaction spikes from real growth (chunk
  * last/first drifted 1.1–2.0× across every chain), so each batch is
  * now DECOMPOSED via [[graft.sources.Sinks.onMerge]]: per batch the
  * artifact carries the sink's publish seconds (staging + renames +
  * manifest), the compaction seconds and absorbed historical bytes
  * (the spiky amortized term), and the residual probe seconds
  * (batch wall − sink wall: the history anti-join + within-batch work).
  * The flatness claim is then checked on publish_excl_compaction and
  * the growth claim on probe seconds vs history size — machine-readable
  * instead of entangled.
  *
  * Output: the [[Bench]] convention — full JSON line first, then a
  * compact final summary line that survives any log-tail capture.
  */
object StreamBench {

  private case class BatchAttribution(
      mergeSec: Double, compactSec: Double,
      deltaBytes: Long, absorbedBytes: Long, compactBuckets: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", EngineSession.defaultCores)
    val nBatches = math.max(2,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt)
    val spark = EngineSession.local(cpus, "graft-stream-bench")

    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")

    def runStream(
        start: (String, String, String, String) => org.apache.spark.sql.streaming.StreamingQuery,
        outKeyed: String => Long)
        : (Seq[Double], Seq[Long], Long, Seq[BatchAttribution]) = {
      val work = Files.createTempDirectory("graft-streambench").toString
      val in = s"$work/in"; val hist = s"$work/history"
      val out = s"$work/out"; val ckpt = s"$work/ckpt"
      Files.createDirectories(java.nio.file.Paths.get(in))
      // collect every merge the sink performs; drained per batch below.
      // foreachBatch runs on the stream's thread — synchronize the buffer.
      val merges = scala.collection.mutable.ArrayBuffer[graft.sources.Sinks.MergeStats]()
      graft.sources.Sinks.onMerge(ms => merges.synchronized { merges += ms })
      val q = start(in, hist, out, ckpt)
      val times = Seq.newBuilder[Double]
      val rows = Seq.newBuilder[Long]
      val attr = Seq.newBuilder[BatchAttribution]
      for (i <- 0 until nBatches) {
        val slice = docs.filter(pmod(col("doc_id"), lit(nBatches)) === i)
        // one file per slice → one trigger per processAllAvailable (the
        // source's maxFilesPerTrigger=16 never splits it)
        slice.repartition(1).write.mode("append").parquet(in)
        rows += slice.count()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        times += (System.nanoTime() - t0) / 1e9
        val batchMerges = merges.synchronized {
          val snap = merges.toList; merges.clear(); snap
        }
        attr += BatchAttribution(
          batchMerges.map(_.totalSec).sum,
          batchMerges.map(_.compactionSec).sum,
          batchMerges.map(_.deltaBytes).sum,
          batchMerges.map(_.absorbedBytes).sum,
          batchMerges.map(_.compactBuckets).sum)
      }
      q.stop()
      graft.sources.Sinks.clearOnMerge()
      val published = outKeyed(out)
      // the work dir is throwaway; historySize read before deletion
      (times.result(), rows.result(), published, attr.result())
    }

    val (docTimes, docRows, docOut, docAttr) = runStream(
      (in, hist, out, ckpt) => graft.streaming.StreamingPipelines
        .incrementalDedupStream(spark, in, hist, out, ckpt, hamming = 3),
      out => graft.sources.Sinks.readKeyedParquet(spark, out).count())

    val (chTimes, chRows, chOut, chAttr) = runStream(
      (in, hist, out, ckpt) => graft.streaming.StreamingPipelines
        .incrementalChunkDedupStream(spark, in, hist, out, ckpt),
      out => graft.sources.Sinks.readKeyedParquet(spark, out).count())

    // ---- last-touch attribution replay (the O(1)-state claim's floor) ----
    // Events arrive as nBatches TIME-ordered slices (the i-th N-tile of
    // the event-time range — state carry only means anything if batches
    // arrive in order), each one micro-batch. The flatness claim: state
    // per user is one triple, so batch cost tracks the BATCH's rows, not
    // the accumulated history — unlike the dedup streams there is no
    // history-proportional probe term at all.
    val (atTimes, atRows, atOut) = {
      val events = Tables(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "ts")
      val work = Files.createTempDirectory("graft-streambench-attr").toString
      val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
      Files.createDirectories(java.nio.file.Paths.get(in))
      val us = unix_micros(col("ts"))
      // an empty events table yields a NULL min/max row — replay zero
      // batches instead of NPE-ing on getLong (ADVICE r14)
      val mm = events.agg(min(us).as("mn"), max(us).as("mx")).head()
      val (mn, mx) =
        if (mm.isNullAt(0) || mm.isNullAt(1)) (0L, -1L)
        else (mm.getLong(0), mm.getLong(1))
      val span = math.max(mx - mn + 1, 1L)
      // integer N-tile arithmetic: `div` (integer division), not `/`
      // (double) + floor — a double quotient can land an event at an
      // exact N-tile boundary one batch off (ADVICE r14)
      val batchOf = least(lit(nBatches - 1),
        expr(s"((unix_micros(ts) - ${mn}L) * $nBatches) div ${span}L"))
        .cast("int")
      val q = graft.streaming.StreamingPipelines.attributionStream(
          spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "16").parquet(in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      val times = Seq.newBuilder[Double]
      val rows = Seq.newBuilder[Long]
      for (i <- 0 until nBatches) {
        val slice = events.filter(batchOf === i)
        slice.repartition(1).write.mode("append").parquet(in)
        rows += slice.count()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        times += (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      (times.result(), rows.result(), spark.read.parquet(out).count())
    }

    def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    def arrL(xs: Seq[Long]): String = xs.mkString("[", ",", "]")
    def attrJson(ts: Seq[Double], as: Seq[BatchAttribution]): String = {
      val probe = ts.zip(as).map { case (t, a) => math.max(t - a.mergeSec, 0.0) }
      val publish = as.map(a => math.max(a.mergeSec - a.compactSec, 0.0))
      s""""probe_sec":${arr(probe)},"publish_sec":${arr(publish)},""" +
        s""""compact_sec":${arr(as.map(_.compactSec))},""" +
        s""""delta_bytes":${arrL(as.map(_.deltaBytes))},""" +
        s""""absorbed_bytes":${arrL(as.map(_.absorbedBytes))},""" +
        s""""compact_buckets":${arrL(as.map(_.compactBuckets.toLong))}"""
    }
    val full =
      s"""{"metric":"stream_dedup","sf":"$sfDir","batches":$nBatches,""" +
      s""""doc_sec":${arr(docTimes)},"doc_rows":${arrL(docRows)},"doc_published":$docOut,""" +
      s""""doc_attr":{${attrJson(docTimes, docAttr)}},""" +
      s""""chunk_sec":${arr(chTimes)},"chunk_rows":${arrL(chRows)},"chunk_published":$chOut,""" +
      s""""chunk_attr":{${attrJson(chTimes, chAttr)}},""" +
      s""""attr_sec":${arr(atTimes)},"attr_rows":${arrL(atRows)},"attr_published":$atOut}"""
    println(full)
    // compact final line (Bench's truncation-proof convention): totals +
    // the first/last-batch ratios the flatness claim rides on — both raw
    // wall and publish-excluding-compaction (the delta-proportional term)
    def ratio(xs: Seq[Double]): Double = xs.last / math.max(xs.head, 1e-9)
    def exclCompact(ts: Seq[Double], as: Seq[BatchAttribution]): Seq[Double] =
      ts.zip(as).map { case (t, a) => math.max(t - a.compactSec, 1e-9) }
    println(f"""{"metric":"stream_total","doc_sec_total":${docTimes.sum}%.3f,"chunk_sec_total":${chTimes.sum}%.3f,"attr_sec_total":${atTimes.sum}%.3f,"doc_last_over_first":${ratio(docTimes)}%.2f,"chunk_last_over_first":${ratio(chTimes)}%.2f,"attr_last_over_first":${ratio(atTimes)}%.2f,"doc_excl_compact_lof":${ratio(exclCompact(docTimes, docAttr))}%.2f,"chunk_excl_compact_lof":${ratio(exclCompact(chTimes, chAttr))}%.2f,"batches":$nBatches,"sf":"$sfDir"}""")
    spark.stop()
  }
}
