package graft

import java.nio.file.Files
import graft.streaming.StreamingPipelines
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming: file-arrival recompute (S9) and event-time
  * windows. Memory sink + processAllAvailable makes the streams
  * synchronous for testing.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** FileStreamSource wants a directory — stage the events parquet into one. */
  private def eventsDir(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-events")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"${SparkTestBase.Sf0001}/events.parquet"))
    dir
  }

  /** Append one late event whose `ts` PHYSICAL type matches whatever the
    * directory already holds (nanos LONG vs NTZ micros — the testdata
    * generation changed between rounds; a file stream reads the whole
    * directory under ONE declared schema, so a mixed-type append breaks
    * the source, not just this row).
    */
  private def appendLateEvent(dir: String, eventId: Long, us: Long, userId: Long,
      eventType: String = "click"): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val base = Seq((eventId, us, userId, eventType, 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs = spark.read.parquet(dir).schema("ts").dataType match {
      case LongType => base.withColumn("ts", col("us") * 1000L)
      case TimestampNTZType =>
        base.withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
      case _ => base.withColumn("ts", timestamp_micros(col("us")))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  test("file arrival retriggers wordcount; complete mode tracks the corpus (S9)") {
    val dir = Files.createTempDirectory("graft-stream")
    Files.writeString(dir.resolve("f1.txt"), "alpha beta\nalpha\n")

    val q = StreamingPipelines.wordCountStream(spark, dir.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      def counts = spark.sql("SELECT word, count FROM wc_stream")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("alpha" -> 2L, "beta" -> 1L))

      // a new file arrives -> results incorporate it (reference Part 2:
      // "any new file upload triggers the master process")
      Files.writeString(dir.resolve("f2.txt"), "beta gamma!\n")
      q.processAllAvailable()
      assert(counts == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    } finally q.stop()
  }

  test("stream-static decontamination flags arriving docs against a static benchmark") {
    import spark.implicits._
    val benchmark = StreamingPipelines.benchmarkNgrams(
      Seq("alpha beta gamma delta epsilon zeta eta theta iota").toDF("text"), "text")
    val dir = Files.createTempDirectory("graft-decon-stream")
    Files.writeString(dir.resolve("clean1.txt"),
      "one two three four five six seven eight nine ten\n")

    val q = StreamingPipelines.decontaminationStream(
        StreamingPipelines.corpusStream(spark, dir.toString), benchmark)
      .writeStream.outputMode("append") // stateless stream-static join
      .format("memory").queryName("decon_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      def hits = spark.sql("SELECT doc, ng FROM decon_stream")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(hits.isEmpty, "a clean doc must produce no matches")

      // a contaminated doc arrives: its 8-grams overlap the benchmark
      Files.writeString(dir.resolve("bad.txt"),
        "prefix alpha beta gamma delta epsilon zeta eta theta suffix\n")
      q.processAllAvailable()
      assert(hits.nonEmpty && hits.forall(_._1 == "bad.txt"),
        s"only the overlapping doc may be flagged, got ${hits.toSeq}")
      // no state store involved: the join is stateless, so the query's
      // progress reports zero state rows however long the stream runs
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "stream-static join must hold no state")
    } finally q.stop()
  }

  test("faithful streaming mode drops digit-leading tokens (quirk Q1)") {
    val dir = Files.createTempDirectory("graft-faithful-stream")
    Files.writeString(dir.resolve("f.txt"), "1st alpha 2nd beta\n")
    val q = StreamingPipelines.wordCountStream(spark, dir.toString, faithful = true)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_faithful_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      val counts = spark.sql("SELECT word, count FROM wc_faithful_stream")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("alpha" -> 1L, "beta" -> 1L), s"got $counts")
    } finally q.stop()
  }

  test("any registered operation runs as a file-arrival stream (registry dispatch)") {
    val dir = Files.createTempDirectory("graft-opstream")
    Files.writeString(dir.resolve("a.txt"), "alpha beta\n")
    val q = StreamingPipelines.operationStream(spark, dir.toString, "invertedindex")
      .writeStream.outputMode("complete")
      .format("memory").queryName("idx_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      Files.writeString(dir.resolve("b.txt"), "beta gamma\n")
      q.processAllAvailable()
      val rows = spark.sql("SELECT word, docs FROM idx_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(rows == Map(
        "alpha" -> Set("a.txt"),
        "beta" -> Set("a.txt", "b.txt"),
        "gamma" -> Set("b.txt")))
    } finally q.stop()
  }

  test("streamed doc names are the file names, not their URI encoding") {
    val dir = Files.createTempDirectory("graft-stream-names")
    for (name <- Seq("my doc.txt", "a%41b.txt", "a+b.txt"))
      Files.writeString(dir.resolve(name), "hello\n")
    val q = StreamingPipelines.operationStream(spark, dir.toString, "invertedindex")
      .writeStream.outputMode("complete")
      .format("memory").queryName("names_stream")
      .start()
    try {
      q.processAllAvailable()
      val docs = spark.sql("SELECT docs FROM names_stream WHERE word = 'hello'")
        .head().getSeq[String](0)
      assert(docs == Seq("a%41b.txt", "a+b.txt", "my doc.txt"), docs.toString)
    } finally q.stop()
  }

  test("incremental streaming merge: delta-only emission, batch-equal result, restartable") {
    val dir = Files.createTempDirectory("graft-inc-stream")
    val out = Files.createTempDirectory("graft-inc-out").toString + "/result"
    Files.writeString(dir.resolve("f1.txt"), "alpha beta\nalpha gamma delta\n")
    val cfg = JobConfig("wordcount", dir.toString, out)

    def resultMap = Engine.fetchResult(spark, out).select("word", "count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val q = Engine.runStreamIncremental(spark, cfg)
    try {
      q.processAllAvailable()
      Files.writeString(dir.resolve("f2.txt"), "beta epsilon\n")
      q.processAllAvailable()
      assert(resultMap == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L,
        "delta" -> 1L, "epsilon" -> 1L))
      // update mode: the second trigger emitted/updated ONLY the two keys
      // the new file touched — complete mode would re-emit all five
      val updates = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.stateOperators.head.numRowsUpdated).toSeq
      assert(updates == Seq(4, 2), s"expected delta-sized updates, got $updates")
    } finally q.stop()

    // restart against the same checkpoint: aggregation state must recover
    // (beta -> 3, not a from-scratch 1 that would clobber the merged result)
    Files.writeString(dir.resolve("f3.txt"), "beta\n")
    val q2 = Engine.runStreamIncremental(spark, cfg)
    try {
      q2.processAllAvailable()
      assert(resultMap("beta") == 3L, s"state not recovered: $resultMap")
      assert(resultMap("alpha") == 2L)
    } finally q2.stop()

    // the merged parquet result serves through the same verbs as the JSON
    // artifact: fetchResult auto-detects the bucket table, lookup resolves
    // the key column from the sidecar
    val fetched = Engine.fetchResult(spark, out)
    assert(fetched.columns.toSeq == Seq("word", "count"), fetched.columns.toSeq)
    assert(fetched.count() == 5)
    val hit = Engine.lookup(spark, out, "beta").collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("count") == 3L)
  }

  test("incremental dedup drops a new batch's duplicates of the historical corpus") {
    import spark.implicits._
    import graft.sources.Sinks
    val root = Files.createTempDirectory("graft-incdedup").toString
    val in = root + "/in"
    new java.io.File(in).mkdirs()
    val (hist, out, ckpt) = (root + "/history", root + "/kept", root + "/ckpt")
    def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-incd-stage").toString
      rows.map { case (id, t) => (id, t, "en", "synth", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(in, name))
    }
    def keptIds: Set[Long] = Sinks.readKeyedParquet(spark, out)
      .select("doc_id").as[Long].collect().toSet

    // batch 1: doc 11 is an in-batch copy of 10 (within-batch canon keeps
    // the min id); 20 is distinct
    addBatch("b1.parquet", Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"),
      (20L, "one two three four five")))
    val q = StreamingPipelines.incrementalDedupStream(spark, in, hist, out, ckpt)
    try {
      q.processAllAvailable()
      assert(keptIds == Set(10L, 20L),
        s"in-batch duplicate must collapse to the min id; got $keptIds")
    } finally q.stop()

    // DELETE batch 1's input before the restart: batch 2's dedup can only
    // come from the PUBLISHED signature history, not from recomputing
    // batch 1 (the checkpoint remembers the file as processed)
    assert(new java.io.File(in, "b1.parquet").delete())
    addBatch("b2.parquet", Seq(
      (30L, "alpha beta gamma delta epsilon"), // historical duplicate of 10
      (40L, "wholly new never seen words")))
    val q2 = StreamingPipelines.incrementalDedupStream(spark, in, hist, out, ckpt)
    try {
      q2.processAllAvailable()
      assert(keptIds == Set(10L, 20L, 40L),
        s"the historical duplicate must be dropped via the published " +
          s"signatures (batch 1's input is gone); got $keptIds")
      assert(Sinks.readKeyedParquet(spark, hist).count() == 3,
        "the history must hold one signature per surviving doc")
    } finally q2.stop()
  }

  test("incremental CHUNK dedup recognizes a re-crawl's unchanged chunks") {
    import spark.implicits._
    import graft.sources.Sinks
    val root = Files.createTempDirectory("graft-incchunk").toString
    val in = root + "/in"
    new java.io.File(in).mkdirs()
    val (hist, out, ckpt) = (root + "/chist", root + "/kept", root + "/ckpt")
    def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-incc-stage").toString
      rows.map { case (id, t) => (id, t, "en", "synth", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(in, name))
    }
    def keptRows: Map[Long, (Long, Long)] = Sinks.readKeyedParquet(spark, out)
      .select("doc_id", "n_chunks", "n_novel").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

    // page A: 64 tokens = exactly two disjoint 32-token chunks
    val pageA = (1 to 64).map(i => s"pa$i").mkString(" ")
    // A with ONE edited token in its SECOND chunk (the "one edited line"
    // re-crawl): chunk 0 is byte-identical to A's, chunk 1 is new
    val pageA2 = ((1 to 39).map(i => s"pa$i") ++ Seq("edited") ++
      (41 to 64).map(i => s"pa$i")).mkString(" ")
    val other = (1 to 32).map(i => s"ob$i").mkString(" ")

    addBatch("b1.parquet", Seq((10L, pageA), (20L, other)))
    val q = StreamingPipelines.incrementalChunkDedupStream(spark, in, hist, out, ckpt)
    try {
      q.processAllAvailable()
      assert(keptRows.keySet == Set(10L, 20L))
      assert(keptRows(10L) == (2L, 2L), s"page A is all-novel; got ${keptRows(10L)}")
    } finally q.stop()

    // DELETE batch 1's input before the restart: recognition can only
    // come from the PUBLISHED chunk history (restart recovery)
    assert(new java.io.File(in, "b1.parquet").delete())
    addBatch("b2.parquet", Seq(
      (30L, pageA2), // edited re-crawl: chunk 0 historical, chunk 1 novel
      (40L, pageA),  // byte-identical re-crawl: all chunks historical
      (50L, (1 to 32).map(i => s"fresh$i").mkString(" "))))
    val q2 = StreamingPipelines.incrementalChunkDedupStream(spark, in, hist, out, ckpt)
    try {
      q2.processAllAvailable()
      assert(keptRows.keySet == Set(10L, 20L, 30L, 50L),
        s"the exact re-crawl must drop, the edited one survive; got $keptRows")
      assert(keptRows(30L) == (2L, 1L),
        s"the re-crawl's unchanged chunk must be RECOGNIZED (2 chunks, " +
          s"1 novel); got ${keptRows(30L)}")
    } finally q2.stop()

    // batch 3: a doc made of exactly doc 30's EDITED chunk — the history
    // must have accumulated batch 2's novel chunk, so nothing is new
    addBatch("b3.parquet", Seq(
      (60L, (((1 to 39).map(i => s"pa$i") ++ Seq("edited") ++
        (41 to 64).map(i => s"pa$i")).slice(32, 64)).mkString(" "))))
    val q3 = StreamingPipelines.incrementalChunkDedupStream(spark, in, hist, out, ckpt)
    try {
      q3.processAllAvailable()
      assert(keptRows.keySet == Set(10L, 20L, 30L, 50L),
        s"a doc of only batch-2 novel chunks must drop; got ${keptRows.keySet}")
    } finally q3.stop()
  }

  test("incremental chunk dedup under the CDC chunker recognizes an insertion re-crawl") {
    import spark.implicits._
    import graft.sources.Sinks
    // THE composition CDC exists for: a re-crawl with one INSERTED token
    // shifts every fixed window (nothing recognized), while content-
    // defined boundaries realign after the edit — the stream must see
    // the re-crawl as MOSTLY historical under the CDC chunker and as
    // all-novel under fixed windows. The expected counts come from the
    // same in-test boundary model as the doc_chunks_cdc spec.
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def cdcChunks(toks: Seq[String]): Seq[String] = {
      val n = toks.length
      val he = (4 to n).filter(i =>
        md5hex(toks.slice(i - 4, i).mkString(" ")).startsWith("0"))
      val ends = if (he.nonEmpty && he.last == n) he else he :+ n
      ends.zipWithIndex.map { case (e, j) =>
        val s0 = if (j == 0) 0 else ends(j - 1)
        toks.slice(s0, e).mkString(" ")
      }
    }
    val base = (0 until 160).map(i => "w" + i)
    val ins = "ins" +: base
    val (m0, m1) = (cdcChunks(base), cdcChunks(ins))
    val novelAfterIns = m1.toSet -- m0.toSet
    require(m1.size >= 3 && novelAfterIns.nonEmpty && novelAfterIns.size < m1.size,
      s"fixture must realign: ${m1.size} chunks, ${novelAfterIns.size} novel")
    // the stream's default chunker is the DISJOINT form (stride = 32)
    def fixedCount(n: Int): Long = math.ceil(n / 32.0).toLong

    def runStream(tag: String, chunker: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = {
      val root = Files.createTempDirectory(s"graft-cdcstream-$tag").toString
      val in = root + "/in"
      new java.io.File(in).mkdirs()
      val (hist, out, ckpt) = (root + "/chist", root + "/kept", root + "/ckpt")
      def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val stage = Files.createTempDirectory("graft-cdcs-stage").toString
        rows.map { case (id, t) => (id, t, "en", "synth", 0L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, java.nio.file.Paths.get(in, name))
      }
      addBatch("b1.parquet", Seq((10L, base.mkString(" "))))
      val q = StreamingPipelines.incrementalChunkDedupStream(
        spark, in, hist, out, ckpt, chunker)
      try q.processAllAvailable() finally q.stop()
      // restart recovery: batch 1's input is GONE before the re-crawl
      // arrives — recognition can only come from the published history
      assert(new java.io.File(in, "b1.parquet").delete())
      addBatch("b2.parquet", Seq((30L, ins.mkString(" "))))
      val q2 = StreamingPipelines.incrementalChunkDedupStream(
        spark, in, hist, out, ckpt, chunker)
      try q2.processAllAvailable() finally q2.stop()
      Sinks.readKeyedParquet(spark, out)
        .select("doc_id", "n_chunks", "n_novel").as[(Long, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    }

    val cdcKept = runStream("cdc", graft.queries.CurationQueries.cdcChunkRowsOf)
    assert(cdcKept(10L) == (m0.size.toLong, m0.size.toLong))
    assert(cdcKept(30L) == (m1.size.toLong, novelAfterIns.size.toLong),
      s"CDC must recognize the post-insertion chunks off the published " +
        s"history (expected ${m1.size} chunks / ${novelAfterIns.size} novel); " +
        s"got ${cdcKept(30L)}")

    val fixedKept = runStream("fixed", graft.queries.CurationQueries.chunksOf)
    assert(fixedKept(30L) == (fixedCount(161), fixedCount(161)),
      s"fixed windows must recognize NOTHING after an insertion " +
        s"(all ${fixedCount(161)} chunks shifted); got ${fixedKept(30L)}")
  }

  test("incremental dedup with hamming > 0 drops near-duplicates of the history") {
    import spark.implicits._
    import graft.sources.Sinks
    // base = word1..word30; the near-copy replaces word1 with "nova" — a
    // one-token edit whose simhash lands at Hamming 1 from the base
    // (deterministic md5 arithmetic, precomputed; re-derived here through
    // the SAME simhashOf the stream uses so a tokenization/signature
    // drift fails with the measured distance, not a silent flag flip)
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val near = ("nova" +: (2 to 30).map(i => s"word$i")).mkString(" ")
    // second pair, for the WITHIN-batch case: item1 -> "flux" is Hamming 3
    val base2 = (1 to 30).map(i => s"item$i").mkString(" ")
    val near2 = ("flux" +: (2 to 30).map(i => s"item$i")).mkString(" ")
    val sigOf = graft.queries.DedupQueries.simhashOf(
      Seq((1L, base), (2L, near), (3L, base2), (4L, near2))
        .toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    for ((a, b) <- Seq((1L, 2L), (3L, 4L))) {
      val dist = java.lang.Long.bitCount(sigOf(a) ^ sigOf(b))
      assert(dist >= 1 && dist <= 3,
        s"fixture drifted: pair ($a,$b) simhash Hamming $dist, need 1..3")
    }

    def run(hamming: Int): Set[Long] = {
      val root = Files.createTempDirectory(s"graft-incnear$hamming").toString
      val in = root + "/in"
      new java.io.File(in).mkdirs()
      def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val stage = Files.createTempDirectory("graft-incn-stage").toString
        rows.map { case (id, t) => (id, t, "en", "synth", 0L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, java.nio.file.Paths.get(in, name))
      }
      addBatch("b1.parquet", Seq((10L, base)))
      val q = StreamingPipelines.incrementalDedupStream(
        spark, in, root + "/hist", root + "/kept", root + "/ckpt", hamming)
      try {
        q.processAllAvailable()
        addBatch("b2.parquet", Seq(
          (30L, near), // near-duplicate of historical 10
          (31L, base), // EXACT copy of historical 10 — must drop at ANY hamming
          (40L, (1 to 30).map(i => s"fresh$i").mkString(" ")),
          (50L, base2), (51L, near2), // near pair WITHIN one trigger
          (60L, "sixty one of a kind"),
          (60L, "sixty but edited"))) // same id twice in one trigger
        q.processAllAvailable()
      } finally q.stop()
      val kept = Sinks.readKeyedParquet(spark, root + "/kept")
        .select("doc_id").as[Long].collect().toSeq
      assert(kept.count(_ == 60L) == 1,
        s"a twice-carried doc_id must publish exactly one row; got $kept")
      kept.toSet
    }
    assert(run(3) == Set(10L, 40L, 50L, 60L),
      "hamming=3: history near-copy AND exact copy dropped, within-batch " +
        "near pair collapsed to its min id")
    assert(run(0) == Set(10L, 30L, 40L, 50L, 51L, 60L),
      "hamming=0: exact copies still dropped (the always-on signature " +
        "anti-join), one-token edits pass")
  }

  test("complete-mode runStream recovers across restart via its checkpoint") {
    val dir = Files.createTempDirectory("graft-restart")
    val out = Files.createTempDirectory("graft-restart-out").toString + "/wc"
    Files.writeString(dir.resolve("a.txt"), "alpha beta\n")
    val cfg = JobConfig("wordcount", dir.toString, out)

    val q = Engine.runStream(spark, cfg)
    try q.processAllAvailable() finally q.stop()

    // restart: committed offsets + state come back from outputPath.checkpoint,
    // so the new file ADDS to the previous counts instead of replacing them
    Files.writeString(dir.resolve("b.txt"), "alpha\n")
    val q2 = Engine.runStream(spark, cfg)
    try {
      q2.processAllAvailable()
      val counts = Engine.fetchResult(spark, out)
        .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("count")).toMap
      assert(counts == Map("alpha" -> 2L, "beta" -> 1L), counts.toString)
    } finally q2.stop()
  }

  test("incremental merge survives an empty first trigger and a projected sort") {
    // file 1 cleans to nothing -> the first foreachBatch gets 0 rows and
    // must NOT publish a row-less parquet root (which would poison every
    // later read); the operation also renames a column after its orderBy,
    // so the Sort sits under a Project and must still be stripped
    OperationRegistry.register("wc_renamed", (corpus, faithful) =>
      graft.operators.TextPipelines.wordCount(corpus, faithful)
        .withColumnRenamed("count", "cnt"))
    val dir = Files.createTempDirectory("graft-inc-empty")
    val out = Files.createTempDirectory("graft-inc-empty-out").toString + "/r"
    Files.writeString(dir.resolve("a.txt"), "!!! ???\n")
    val q = Engine.runStreamIncremental(spark, JobConfig("wc_renamed", dir.toString, out))
    try {
      q.processAllAvailable()
      assert(!new java.io.File(out).exists(), "empty trigger must publish nothing")
      Files.writeString(dir.resolve("b.txt"), "alpha alpha\n")
      q.processAllAvailable()
      val rows = Engine.fetchResult(spark, out)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("alpha" -> 2L), rows.toString)
    } finally q.stop()
  }

  test("incremental mode strips ONLY the trailing presentation sort; a semantic top-k sort fails loudly") {
    // Contract of Engine.runStreamIncremental's plan surgery: the sort it
    // peels is the pipeline-final presentation orderBy (possibly under
    // trailing Projects/aliases). A Sort UNDER a Limit is top-k — semantic,
    // not presentation — and must be left in place so update mode rejects
    // the query loudly rather than have the engine silently change results.
    OperationRegistry.register("wc_top5", (corpus, faithful) =>
      graft.operators.TextPipelines.wordCount(corpus, faithful)
        .orderBy(col("count").desc).limit(5))
    val dir = Files.createTempDirectory("graft-inc-topk")
    Files.writeString(dir.resolve("a.txt"), "alpha beta\n")
    val out = Files.createTempDirectory("graft-inc-topk-out").toString + "/r"
    val thrown = intercept[Exception] {
      val q = Engine.runStreamIncremental(spark, JobConfig("wc_top5", dir.toString, out))
      try q.processAllAvailable() finally q.stop()
    }
    assert(thrown.getMessage.toLowerCase.contains("sort"),
      s"top-k must be rejected by update mode, got: ${thrown.getMessage}")

    // ...while a pipeline whose top Sort sits under a pure projection is
    // stripped: the streaming plan must carry NO Sort and run clean
    OperationRegistry.register("wc_proj", (corpus, faithful) =>
      graft.operators.TextPipelines.wordCount(corpus, faithful)
        .select(col("word"), (col("count") * 2).as("doubled")))
    val out2 = Files.createTempDirectory("graft-inc-proj-out").toString + "/r"
    val q2 = Engine.runStreamIncremental(spark, JobConfig("wc_proj", dir.toString, out2))
    try {
      q2.processAllAvailable()
      val rows = Engine.fetchResult(spark, out2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("alpha" -> 2L, "beta" -> 2L), rows.toString)
    } finally q2.stop()
  }

  test("incremental merge handles the invertedindex operation (array values)") {
    val dir = Files.createTempDirectory("graft-inc-idx")
    val out = Files.createTempDirectory("graft-inc-idx-out").toString + "/idx"
    Files.writeString(dir.resolve("a.txt"), "alpha beta\n")
    val q = Engine.runStreamIncremental(spark, JobConfig("invertedindex", dir.toString, out))
    try {
      q.processAllAvailable()
      Files.writeString(dir.resolve("b.txt"), "beta\n")
      q.processAllAvailable()
      val docs = Engine.fetchResult(spark, out)
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
      assert(docs == Map("alpha" -> List("a.txt"), "beta" -> List("a.txt", "b.txt")))
    } finally q.stop()
  }

  test("hourly window counts equal the batch date_trunc query (complete mode)") {
    val stream = StreamingPipelines.hourlyCounts(
      StreamingPipelines.eventStream(spark, eventsDir().toString))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT hour, event_type, n_events FROM ev_stream")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = SparkEntry.queries("event_hourly")(spark, SparkTestBase.Sf0001)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("mapGroupsWithState: per-user totals accumulate across micro-batches") {
    val dir = eventsDir()
    // ONE continuous query, two micro-batches: the memory sink does not
    // support checkpoint restart (and a file sink can't do update mode),
    // but cross-batch state within a run is exactly what the operator owns
    val q = StreamingPipelines.userRunningTotals(
        StreamingPipelines.eventStream(spark, dir.toString))
      .writeStream.outputMode("update")
      .format("memory").queryName("totals_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      // second file arrives for users 1 and 2 -> their state must carry over
      import spark.implicits._
      Seq((99990L, 1L, 1L, "click", 2.5, "{}"), (99991L, 2L, 2L, "click", 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()

      // per user, the LAST emitted row is the cumulative (count, sum) —
      // compare against a batch aggregation over the same staged files
      val streamed = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM totals_stream GROUP BY user_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = spark.read
        .schema(new org.apache.spark.sql.types.StructType()
          .add("event_id", "long").add("ts", "long").add("user_id", "long")
          .add("event_type", "string").add("value", "double").add("props", "string"))
        .parquet(dir.toString)
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == expected)
    } finally q.stop()
  }

  test("streaming dedup: repeats within the watermark horizon are dropped") {
    val dir = Files.createTempDirectory("graft-dedup-stream")
    import spark.implicits._
    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir.toString)

    val hourNs = 3600L * 1000000000L
    writeBatch(Seq(
      (1L, 1 * hourNs, 10L, "click", 1.0, "{}"),
      (1L, 1 * hourNs, 10L, "click", 1.0, "{}"),   // same-batch duplicate
      (2L, 1 * hourNs, 11L, "click", 1.0, "{}")))

    val q = StreamingPipelines.dedupStream(
        StreamingPipelines.eventStream(spark, dir.toString), "event_id", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      // cross-batch duplicate (within horizon) + one genuinely new key
      writeBatch(Seq(
        (1L, 1 * hourNs + 1000, 10L, "click", 1.0, "{}"),
        (3L, 1 * hourNs, 12L, "view", 2.0, "{}")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_stream")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions match the batch gap-sessionization exactly") {
    val dir = eventsDir()
    val q = StreamingPipelines.closedSessions(
        StreamingPipelines.eventStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("closed_sessions")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      // late file pushes the watermark 3h past the corpus -> every session
      // in the original data is now closed and must have been emitted
      val maxMicros = Tables(spark, SparkTestBase.Sf0001, "events")
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      appendLateEvent(dir.toString, 99999L, maxMicros + 3L * 3600 * 1000000, 999L)
      q.processAllAvailable()

      val streamed = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM closed_sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      // batch oracle over the ORIGINAL events (the late row's own session
      // is still open in the stream, so exclude its user)
      val batch = SparkEntry.queries("event_sessions")(spark, SparkTestBase.Sf0001)
        .collect().map(r => (r.getLong(0),
          r.getTimestamp(r.fieldIndex("session_start")),
          r.getTimestamp(r.fieldIndex("session_end")),
          r.getLong(r.fieldIndex("n_events"))))
        .toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming last-touch attribution: batch-equal in one batch, state carries across batches") {
    val dir = eventsDir()
    val q = StreamingPipelines.attributionStream(
        StreamingPipelines.eventStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib_stream")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      def streamed() = spark.sql(
        "SELECT purchase_id, touch_id, touch_type, us_since_touch FROM attrib_stream")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None
           else Some((r.getLong(1), r.getString(2), r.getLong(3))))).toMap
      val batch = SparkEntry.queries("event_attribution")(spark, SparkTestBase.Sf0001)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None
           else Some((r.getLong(2), r.getString(3), r.getLong(4))))).toMap
      assert(streamed() == batch,
        "one micro-batch replays the whole corpus in event order — must equal the batch query")

      // cross-batch state: a later purchase attributes to the latest
      // touch the FIRST batch left in the user's state triple
      val events = Tables(spark, SparkTestBase.Sf0001, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      val (uid, lastTouch) = events.filter(e => e._3 == "click" || e._3 == "view")
        .groupBy(_._1).view.mapValues(_.maxBy(e => (e._4, e._2))).head
      val purchaseUs = events.map(_._4).max + 3600L * 1000000L
      appendLateEvent(dir.toString, 99997L, purchaseUs, uid, eventType = "purchase")
      q.processAllAvailable()
      assert(streamed().get(99997L).contains(
        Some((lastTouch._2, lastTouch._3, purchaseUs - lastTouch._4))),
        s"late purchase must attribute to the state-carried touch $lastTouch")
    } finally q.stop()
  }

  test("closedSessions merges an event arriving exactly at end+gap (boundary)") {
    val dir = Files.createTempDirectory("graft-boundary")
    import spark.implicits._
    val hourNs = 3600L * 1000000000L
    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    // two events exactly 30 min (= the gap) apart: batch semantics keep
    // them in ONE session (its gap test is diff > gap)
    writeBatch(Seq(
      (1L, 10 * hourNs, 7L, "click", 1.0, "{}"),
      (2L, 10 * hourNs + hourNs / 2, 7L, "click", 1.0, "{}")))

    val q = StreamingPipelines.closedSessions(
        StreamingPipelines.eventStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("boundary_sessions")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      // watermark far past the session -> it must emit as ONE merged session
      writeBatch(Seq((99L, 100 * hourNs, 8L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events FROM boundary_sessions WHERE user_id = 7")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((7L, 2L)), s"expected one merged 2-event session, got $rows")
    } finally q.stop()
  }

  test("session windows (append mode): sessions emit once the watermark passes") {
    val dir = eventsDir()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    // file sink, not memory: the restart below must recover watermark state
    // from the checkpoint, which the memory sink does not support
    val outDir = Files.createTempDirectory("graft-sess-out").toString

    def runBatchOfStream(): Unit = {
      val q = StreamingPipelines.userSessions(
          StreamingPipelines.eventStream(spark, dir.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // batch 1: watermark starts at 0 -> sessions buffered in state, none emitted
    runBatchOfStream()

    // late file advances event time by 3h; on the next run the restored
    // watermark (max_ts - 1h) releases the earlier sessions
    val maxMicros = Tables(spark, SparkTestBase.Sf0001, "events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    appendLateEvent(dir.toString, 99999L, maxMicros + 3L * 3600 * 1000000, 1L)
    runBatchOfStream()

    val sessions = spark.read.parquet(outDir).select("user_id", "n_events")
    assert(sessions.count() > 0, "watermark advance must release closed sessions")
    assert(sessions.select("user_id").distinct().count() <= 15)
    val total = sessions.agg(sum("n_events")).head().getLong(0)
    assert(total <= 1001)
  }
}
