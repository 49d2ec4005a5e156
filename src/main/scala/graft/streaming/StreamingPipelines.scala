package graft.streaming

import graft.functions.TextFunctions._
import graft.operators.Election
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Per-user running totals emitted by [[StreamingPipelines.userRunningTotals]]. */
case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

case class Attribution(purchase_id: Long, user_id: Long,
  touch_id: Option[Long], touch_type: Option[String],
  us_since_touch: Option[Long])

/** A closed session emitted by [[StreamingPipelines.closedSessions]]. */
case class ClosedSession(
    user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long)

/** Structured Streaming surface.
  *
  * S9 (reference PDF Part 2, "Streaming master trigger"): a new file in the
  * corpus bucket triggers recomputation of the index, results queryable at
  * any time. The Spark restatement is a file-source stream over the corpus
  * directory feeding the SAME aggregation plan, `outputMode("complete")` —
  * exactly the reference's full-recompute semantics, but incremental at the
  * source (only new files are read per trigger).
  *
  * The event-time surface (watermarked tumbling windows, session windows)
  * goes beyond the reference — it's the streaming analog of the batch
  * `event_*` queries.
  */
object StreamingPipelines {

  /** Streaming cleaned corpus — the readStream twin of
    * `CorpusReader.cleaned`: `(doc, line)` rows from files arriving in
    * `dir`, reference cleanup applied.
    */
  def corpusStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(dir)
      .select(
        graft.sources.CorpusReader.docName.as("doc"),
        cleanLine(col("value")).as("line"))
      .filter(length(col("line")) > 0)

  /** ANY registered operation as a file-arrival stream — the reference's
    * Part-2 trigger runs whatever operation `config.json` names, so the
    * streaming surface dispatches through the same [[graft.OperationRegistry]]
    * as batch. Registered pipelines are plain declarative DataFrame
    * transforms, so the identical code plans incrementally here (complete
    * mode supports their final `orderBy`).
    */
  def operationStream(spark: SparkSession, dir: String, operation: String,
      faithful: Boolean = false): DataFrame =
    graft.OperationRegistry(operation)(corpusStream(spark, dir), faithful)

  /** Schema of the events table as a stream source, for a given physical
    * `ts` type (readStream demands a declared schema — no inference).
    */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File stream over events parquet with a proper event-time column.
    *
    * The physical `ts` type is sniffed from the directory's parquet
    * footers ONCE at stream construction (a batch schema read — no data
    * scan) and normalized to TimestampType exactly as [[graft.Tables]]
    * does for the batch path: TIMESTAMP(NANOS) arrives as nanos LONG
    * (requires `spark.sql.legacy.parquet.nanosAsLong`, guaranteed by
    * `EngineSession.requiredConfs`) and is integer-divided to micros;
    * NTZ micros is cast under the session's pinned-UTC timezone. Files
    * arriving later must match the type the first footer declared — one
    * generation per directory, which is the testdata contract.
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // the footer sniff needs at least one parquet file; file streams
    // commonly start on an EMPTY directory (files arrive later), which
    // the pre-sniff static-schema version supported — fall back to the
    // nanos-LONG generation there instead of failing construction
    // (r9 advisory). Files arriving later must then match that physical
    // type — one generation per directory, the testdata contract.
    val physical =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case scala.util.control.NonFatal(_) => LongType }
    val raw = spark.readStream.schema(eventsRawSchema(physical)).parquet(dir)
    physical match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window counts per event type (append-able). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup on a key column: emit each key's first arrival,
    * drop repeats. `dropDuplicatesWithinWatermark` bounds the state store
    * to the watermark horizon — unbounded-state `dropDuplicates` is the
    * thing a 100 TB stream cannot afford — so a duplicate is suppressed iff
    * it arrives within `horizon` of the first occurrence (the training-data
    * contract: re-crawled/re-uploaded docs cluster in time).
    */
  def dedupStream(rows: DataFrame, keyCol: String, tsCol: String,
      horizon: String = "1 hour"): DataFrame =
    rows.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Ingest-time benchmark decontamination: flag documents AS THEY ARRIVE
    * that share an `n`-token shingle with a STATIC held-out/benchmark
    * relation (one string column `ng` of shingles, or any text corpus
    * pre-shingled through [[benchmarkNgrams]]) — the streaming twin of the
    * batch `decontaminate` query.
    *
    * Shape: a stream-STATIC inner join, which Structured Streaming plans
    * STATELESSLY — no watermark, no state store, nothing accumulates over
    * an unbounded corpus stream; each micro-batch's shingles probe the
    * static set (benchmark-sized, so the optimizer broadcasts it) and
    * matches emit in APPEND mode. Emission is (doc, ng) match granularity
    * — per-line `array_distinct` bounds within-line repeats — because a
    * per-doc distinct COUNT would need unbounded per-doc state; the
    * match stream is the unbounded-safe form, and a downstream consumer
    * (e.g. [[graft.sources.Sinks.mergeIntoKeyedParquet]]) aggregates at
    * whatever horizon it owns.
    */
  def decontaminationStream(lines: DataFrame, heldOutNgrams: DataFrame,
      n: Int = 8): DataFrame =
    lines
      .select(col("doc"),
        explode(array_distinct(shinglesN(tokens(col("line")), n))).as("ng"))
      .join(heldOutNgrams.select(col("ng")).distinct(), Seq("ng"))
      .select(col("doc"), col("ng"))

  /** The distinct `n`-token shingle set of a static corpus of `(text)`
    * lines — the held-out side for [[decontaminationStream]]. Applies the
    * same reference cleanup as [[corpusStream]], so both probe sides
    * shingle identically-normalized text.
    */
  def benchmarkNgrams(corpus: DataFrame, textCol: String, n: Int = 8): DataFrame =
    corpus
      .select(explode(shinglesN(tokens(cleanLine(col(textCol))), n)).as("ng"))
      .distinct()

  /** A parquet file stream of `documents`-shaped rows (read with
    * [[graft.sources.CorpusReader.DocumentsSchema]]) arriving in `inDir`,
    * running `step` on every trigger — the launch both incremental
    * dedup streams share.
    */
  private def startDocumentsStream(spark: SparkSession, inDir: String,
      checkpoint: String, step: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(graft.sources.CorpusReader.DocumentsSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(step)
      .start()

  /** One row per doc_id of a trigger: its files may carry the same
    * doc_id twice (a re-crawl with an edited page) and the keyed sink's
    * contract is <= one row per key, so pick ONE deterministically
    * (content-max, not dropDuplicates' arbitrary row).
    */
  private def onePerDoc(batch: DataFrame): DataFrame = {
    val content = Seq("text", "lang", "source", "n_chars")
    Election.winners(batch, Seq("doc_id"),
      content.map(Election.desc), content)
  }

  /** Key-SET read of a history table, None before its first merge. No
    * newest-wins resolution: both streams' histories are insert-only by
    * construction — every key is anti-joined against the history before
    * it is merged in — so the key set is exact and the resolved read's
    * per-trigger aggregation would be a corpus-scale no-op.
    */
  private def historyKeys(s: SparkSession, path: String): Option[DataFrame] =
    try Some(graft.sources.Sinks.readKeyedParquetKeySet(s, path))
    catch { case _: java.io.FileNotFoundException => None }

  /** Incremental dedup of arriving crawl batches against the HISTORICAL
    * corpus — the production crawl loop: batch N+1's duplicates of
    * batches 1..N are dropped by an anti-join against the PUBLISHED
    * per-doc signature table (simhash LONG — exact and near-exact copies
    * share it), WITHOUT recomputing any earlier batch's signatures. Each
    * micro-batch runs the batch-semantics pipeline inside foreachBatch:
    *
    *   sign the batch (the SAME `simhashOf` derivation as the batch
    *   dedup operators) → within-batch canon (min doc_id per signature,
    *   partial-aggregable) → anti-join the signature history → upsert
    *   survivors into `outPath` and their signatures into `historyPath`,
    *   both through the manifest-keyed sink.
    *
    * Both writes are UPSERTS keyed on their natural key, so micro-batch
    * REPLAY after a crash/restart is idempotent; survivors are committed
    * BEFORE the history — replayed in that order, an interrupted trigger
    * re-derives the same survivor set, whereas history-first would let a
    * replay anti-join the batch against its own signatures and lose it.
    * Readers of either table get the manifest sink's atomic-snapshot
    * contract.
    *
    * `hamming` > 0 ADDS a near-duplicate probe on top of the
    * exact-signature anti-join (which always runs — the banded probe's
    * fixed 4 × 65,536 bucket space saturates at crawl scale and its cap
    * then drops buckets, so exact duplicates must never depend on it):
    * both the batch and the history are banded through the SAME
    * `DedupQueries.simhashBandRows` geometry as `dedup_simhash_pairs`
    * (pigeonhole guarantees recall for Hamming ≤ 3), band collisions are
    * confirmed by `bit_count`, confirmed ids anti-joined out. The same
    * pass first runs WITHIN the batch (greedy keep-min over the band
    * self-join, bounded by the trigger size) so a one-trigger burst of
    * template variants cannot seed the history with near-identical
    * signatures. The history-probe cap is DIRECTIONAL on the HISTORY
    * side only (decontaminate_fuzzy's argument transposed): an arriving
    * batch re-crawling a page must still dedup however many copies the
    * crawl carries, so the batch side of the CROSS join is never capped,
    * while a >MaxBucket bucket in the self-deduped history is genuinely
    * diverse content sharing one 16-bit slice — capping it bounds the
    * probe's output to MaxBucket × the batch's band rows per trigger.
    */
  def incrementalDedupStream(spark: SparkSession, inDir: String,
      historyPath: String, outPath: String, checkpoint: String,
      hamming: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(hamming >= 0 && hamming <= 3,
      s"4 x 16-bit bands guarantee recall only for Hamming <= 3 (got $hamming)")
    val step: (DataFrame, Long) => Unit = (batch, _) => {
      import graft.queries.DedupQueries
      val b1 = onePerDoc(batch)
      val sigs = DedupQueries.simhashOf(b1)
      val history = historyKeys(batch.sparkSession, historyPath)
      // within-batch, exact: one survivor per signature
      val canon0 = sigs.groupBy("sig").agg(min(col("doc_id")).as("doc_id"))
      // within-batch, near (hamming > 0): greedy keep-min over the band
      // self-join — without this, a burst of template variants landing
      // in ONE trigger would all publish, seeding exactly the hot
      // history buckets the directional cap assumes a self-deduped
      // history cannot contain. UNCAPPED deliberately: the join is
      // bounded by the trigger size (maxFilesPerTrigger), the stream's
      // own knob, not by the corpus. Greedy, not transitive — in an
      // a~b~c chain where only b pairs with both, c survives this
      // trigger; survivors publish, so later batches still dedup
      // against c (the steady state is what matters for the crawl loop).
      val canon = if (hamming == 0) canon0 else {
        val cb = DedupQueries.simhashBandRows(canon0)
        val drop = cb.as("a").join(cb.as("b"),
            col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
              col("a.doc_id") < col("b.doc_id") &&
              bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= hamming)
          .select(col("b.doc_id").as("doc_id")).distinct()
        canon0.join(drop, Seq("doc_id"), "left_anti")
      }
      // cross-batch, exact: ALWAYS the plain signature anti-join — the
      // banded probe below caps hot history buckets, and at crawl scale
      // the FIXED 4×65,536 band space saturates, so routing exact
      // duplicates through it would let byte-identical re-crawls slip
      // through once every bucket is hot. The exact join has no cap and
      // no fixed key space; it never decays.
      val freshExact = history.fold(canon)(h =>
        canon.join(h.select(col("sig")), Seq("sig"), "left_anti"))
      // cross-batch, near: the banded probe on top, HISTORY side capped
      val fresh0 = history match {
        case Some(h) if hamming > 0 =>
          val hb = DedupQueries.capBuckets(DedupQueries.simhashBandRows(h),
            Seq("band", "bval"))
          val dupIds = DedupQueries.simhashBandRows(freshExact).as("a")
            .join(hb.as("b"),
              col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
                bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= hamming)
            .select(col("a.doc_id").as("doc_id")).distinct()
          freshExact.join(dupIds, Seq("doc_id"), "left_anti")
        case _ => freshExact
      }
      // materialize ONCE: both merges below consume `fresh`, and without
      // the checkpoint each would re-execute the history-sized probe
      val fresh = fresh0.transform(graft.operators.Checkpoints.fresh)
      val kept = b1.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
      graft.sources.Sinks.mergeIntoKeyedParquet(kept, "doc_id", outPath)
      graft.sources.Sinks.mergeIntoKeyedParquet(fresh, "sig", historyPath)
      // both consumers above are actions — the batch's checkpoint blocks
      // are dead; without this a long-lived stream pins one frame per
      // micro-batch for its whole life
      graft.operators.Checkpoints.free(fresh)
    }
    startDocumentsStream(spark, inDir, checkpoint, step)
  }

  /** Incremental dedup at CHUNK granularity — [[incrementalDedupStream]]'s
    * sub-document twin, closing its doc-level blind spot: a re-crawled
    * page with one new navbar line is a NEW doc signature (every
    * doc-level sketch sees an edited doc), but its chunks are 95%
    * historical. The history here is the published DISJOINT-chunk md5
    * set ([[graft.queries.CurationQueries.chunksOf]] — scrub_chunks'
    * geometry, so batch and stream agree on the unit), and the decision
    * is per-doc NOVELTY:
    *
    *   chunk the batch → within-batch keep-first (min (doc_id, chunk_id)
    *   per md5 group — one canonical owner per distinct chunk content
    *   per trigger, the batch operators' canon rule) → anti-join the
    *   chunk-hash history → a doc SURVIVES iff it owns >= 1 novel
    *   canonical chunk; survivors publish with (n_chunks, n_novel) so a
    *   downstream scrub/mask builder knows how much of the doc is
    *   genuinely new → upsert survivors, THEN the novel chunk hashes.
    *
    * A byte-identical re-crawl has zero novel chunks and drops however
    * the page was re-assembled; an edited re-crawl survives and its
    * UNCHANGED chunks are recognized (counted historical, not re-added).
    * Two batch docs sharing all novel content collapse to the min id
    * (the owner), the greedy within-trigger rule. Tokenless docs have no
    * chunks and drop — they carry no trainable content.
    *
    * Scale posture: the history probe is an EXACT hash anti-join — no
    * fixed band space, no cap, never decays (the incremental stream's
    * exact-path rule); per-trigger cost is bounded by the trigger's own
    * chunk count on the probe side. Both writes are keyed upserts
    * (doc_id / ch), so crash-replay is idempotent; survivors commit
    * BEFORE history for the same reason as the doc-level stream — an
    * interrupted trigger replayed in that order re-derives the same
    * survivor set, whereas history-first would anti-join the batch
    * against its own chunks and lose it.
    *
    * `chunker` picks the chunk geometry: the default disjoint fixed
    * windows (batch/stream unit parity with scrub_chunks), or
    * [[graft.queries.CurationQueries.cdcChunkRowsOf]] for
    * content-defined boundaries — the production choice for re-crawl
    * streams, where an INSERTION (not just an in-place edit) shifts
    * every fixed window but CDC chunks realign (spec-proven). The
    * history is only meaningful against itself: pick one geometry per
    * history path and keep it.
    */
  def incrementalChunkDedupStream(spark: SparkSession, inDir: String,
      chunkHistoryPath: String, outPath: String, checkpoint: String,
      chunker: DataFrame => DataFrame = graft.queries.CurationQueries.chunksOf)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val step: (DataFrame, Long) => Unit = (batch, _) => {
      val b1 = onePerDoc(batch)
      val chunks = chunker(b1)
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk")).as("ch"))
      // within-batch keep-first: one canonical owner per chunk content
      val canon = Election.winners(chunks, Seq("ch"),
        Seq(Election.asc("doc_id"), Election.asc("chunk_id")),
        Seq("doc_id"))
      val history = historyKeys(batch.sparkSession, chunkHistoryPath)
        .map(_.select(col("ch")))
      // novel = batch-canonical AND not historical; owned by its canon doc.
      // materialize ONCE — both writes below consume it, and without the
      // checkpoint each would re-run the history-sized probe
      val novel = history.fold(canon)(h => canon.join(h, Seq("ch"), "left_anti"))
        .select(col("doc_id"), col("ch"))
        .transform(graft.operators.Checkpoints.fresh)
      val survivors = novel.groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      val nChunks = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val kept = b1.join(survivors, Seq("doc_id")).join(nChunks, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("n_chunks"), col("n_novel"))
      graft.sources.Sinks.mergeIntoKeyedParquet(kept, "doc_id", outPath)
      graft.sources.Sinks.mergeIntoKeyedParquet(novel.select("ch"), "ch",
        chunkHistoryPath)
      // same per-batch release as incrementalDedupStream: both merge
      // consumers are actions, the checkpoint is dead after the step
      graft.operators.Checkpoints.free(novel)
    }
    startDocumentsStream(spark, inDir, checkpoint, step)
  }

  /** Per-user running totals across micro-batches via explicit custom state
    * (`KeyValueGroupedDataset.mapGroupsWithState`) — the surface for
    * stateful logic the built-in windowed aggregations can't express.
    * State is one (count, sum) pair per user, partitioned by the state
    * store exactly like a streaming aggregation; each batch emits one
    * updated row per user seen in that batch (output mode `update`).
    */
  def userRunningTotals(events: DataFrame): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, v) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          UserTotals(uid, n, v)
      }
  }

  /** Gap-based sessions via explicit state (`flatMapGroupsWithState` +
    * event-time timeout) — the custom-state form of [[userSessions]], for
    * session semantics the built-in `session_window` can't express (here:
    * identical gap logic, so the batch `event_sessions` query is the
    * value oracle). A session is emitted exactly once, when the watermark
    * passes its end + gap (it can no longer grow); open sessions live in
    * the state store, one small list per active user.
    */
  def closedSessions(events: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // (startUs, endUs, n) per open session; merge anything within the gap
    def merge(xs: List[(Long, Long, Long)]): List[(Long, Long, Long)] =
      xs.sortBy(_._1).foldLeft(List.empty[(Long, Long, Long)]) {
        case ((s, e, n) :: tail, (s2, e2, n2)) if s2 - e <= gapUs =>
          (s, math.max(e, e2), n + n2) :: tail
        case (acc, x) => x :: acc
      }.reverse

    events
      .select(col("user_id").cast("long").as("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          val incoming = rows.map { case (_, us, _) => (us, us, 1L) }.toList
          val sessions = merge(state.getOption.getOrElse(Nil) ++ incoming)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // strictly less: an on-time event AT end+gap still merges into
          // the session (the batch oracle's gap test is `diff > gap`)
          val (closed, open) = sessions.partition { case (_, e, _) => e + gapUs < wmUs }
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            val nextMs = (open.map(_._2).min + gapUs) / 1000L
            state.setTimeoutTimestamp(math.max(nextMs, state.getCurrentWatermarkMs() + 1L))
          }
          def tsOf(us: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp(us / 1000000L * 1000L)
            t.setNanos((us % 1000000L).toInt * 1000)
            t
          }
          closed.sortBy(_._1).iterator.map { case (s, e, n) =>
            ClosedSession(uid, tsOf(s), tsOf(e), n)
          }
      }
  }

  /** Streaming last-touch attribution — the batch `event_attribution`
    * query incrementally (`flatMapGroupsWithState`, no timeout): state is
    * ONE (touch_id, touch_type, touch_us) triple per user — the latest
    * click/view seen so far — and each purchase emits its attribution row
    * in the micro-batch it arrives in. Within a batch the group's rows
    * are replayed in (event-time, event_id) order, so a same-batch
    * touch→purchase pair attributes exactly as the batch window would;
    * across batches the state triple carries forward — O(1) state per
    * user where the batch form re-sorts each user's full history every
    * run. Append-mode trade, stated: a touch arriving LATE (after a
    * later-timestamped purchase was already emitted in a previous batch)
    * does not retract that purchase's row — the batch query is the
    * replay oracle when order matters end-to-end (the keyed LSM sink's
    * contract, transposed).
    */
  def attributionStream(events: DataFrame): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Long, String, Long), Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, String, Long)]) =>
          var touch = state.getOption
          val out = List.newBuilder[Attribution]
          rows.toSeq.sortBy(r => (r._4, r._1)).foreach { case (id, _, tpe, us) =>
            if (tpe == "purchase")
              out += Attribution(id, uid, touch.map(_._1), touch.map(_._2),
                touch.map(t => us - t._3))
            if (tpe == "click" || tpe == "view") touch = Some((id, tpe, us))
          }
          touch.foreach(state.update)
          out.result().iterator
      }
  }

  /** Session windows per user (30-min gap), the streaming analog of the
    * batch `event_sessions` query.
    */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
