package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine.run / fetchResult / lookup / OperationRegistry round-trips
  * (EP1/EP2/EP3 analogs).
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmpCorpus(): String = {
    val dir = Files.createTempDirectory("graft-corpus")
    Files.writeString(dir.resolve("a.txt"), "Hello, world!\nhello AGAIN.\n\n")
    Files.writeString(dir.resolve("b.txt"), "the World spins\n")
    dir.toString
  }

  /** `f`'s result and the number of Spark jobs it ran from this thread.
    * Jobs are told apart by a local property; a marker job submitted
    * afterwards flushes the listener bus (events arrive in order), so once
    * the marker is seen every job of `f` has been counted.
    */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val prop = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(prop)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == tag + ".flush") flushed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val r = f
      sc.setLocalProperty(prop, tag + ".flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

  private def partFile(dir: String): Path = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
    parts.head.toPath
  }

  /** The sidecar read must see exactly what schema inference sees. */
  private def assertReadsAsInferred(out: String): Unit = {
    val inferred = spark.read.json(out)
    val fetched = Engine.fetchResult(spark, out)
    assert(fetched.schema == inferred.schema,
      s"${fetched.schema.simpleString} vs inferred ${inferred.schema.simpleString}")
    assert(fetched.collect().toSeq == inferred.collect().toSeq)
  }

  test("gzip-compressed corpus files read transparently (crawl-dump format)") {
    // real crawl corpora arrive as .txt.gz / .warc.gz; spark.read.text
    // decompresses by extension, so the whole engine surface works on
    // compressed input unchanged — pinned here so a CorpusReader rewrite
    // cannot silently drop it. (Gzip is not splittable: one file = one
    // task, so a 100-TB corpus wants many files, not one big archive.)
    val dir = Files.createTempDirectory("graft-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("a.txt.gz")))
    try gz.write("Hello, world!\nhello again.\n".getBytes("UTF-8")) finally gz.close()
    Files.writeString(dir.resolve("b.txt"), "the world spins\n") // mixed plain+gz
    val out = Files.createTempDirectory("graft-gz-out").toString + "/wc"
    Engine.run(spark, JobConfig("wordcount", dir.toString, out))
    val counts = Engine.fetchResult(spark, out)
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("count")).toMap
    assert(counts == Map("hello" -> 2L, "world" -> 2L, "again" -> 1L,
      "the" -> 1L, "spins" -> 1L), counts.toString)
  }

  test("pretty sink is byte-identical to json.dump(dict(sorted(...)), indent=4)") {
    // golden strings produced by CPython's json.dumps(obj, indent=4);
    // doc-list order inside values is this engine's deterministic sorted
    // order (quirk Q3: the reference left it nondeterministic)
    val corpus = tmpCorpus()
    val outWc = Files.createTempDirectory("graft-out").toString + "/wc"
    Engine.run(spark, JobConfig("wordcount", corpus, outWc, pretty = true))
    val wcBytes = Files.readString(java.nio.file.Path.of(outWc, "_final_output.json"))
    assert(wcBytes ==
      "{\n    \"again\": 1,\n    \"hello\": 2,\n    \"spins\": 1,\n    \"the\": 1,\n    \"world\": 2\n}")

    val outIdx = Files.createTempDirectory("graft-out").toString + "/idx"
    Engine.run(spark, JobConfig("invertedindex", corpus, outIdx, pretty = true))
    val idxBytes = Files.readString(java.nio.file.Path.of(outIdx, "_final_output.json"))
    assert(idxBytes ==
      "{\n    \"again\": [\n        \"a.txt\"\n    ],\n    \"hello\": [\n        \"a.txt\"\n    ],\n    \"spins\": [\n        \"b.txt\"\n    ],\n    \"the\": [\n        \"b.txt\"\n    ],\n    \"world\": [\n        \"a.txt\",\n        \"b.txt\"\n    ]\n}")

    // the hidden artifact must not corrupt the JSON-lines read path
    assert(Engine.fetchResult(spark, outWc).count() == 5)
  }

  test("Engine.run wordcount end-to-end: sorted single-file JSON result") {
    val out = Files.createTempDirectory("graft-out").toString + "/wc"
    val result = Engine.run(spark, JobConfig("wordcount", tmpCorpus(), out))
    val expected = Map("hello" -> 2L, "world" -> 2L, "again" -> 1L, "the" -> 1L, "spins" -> 1L)
    assert(result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)

    // exactly one part file, readable back, key-sorted
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val back = Engine.fetchResult(spark, out)
    assert(back.count() == 5)
    val keys = spark.read.text(parts.head.getPath)
      .collect().map(_.getString(0)).toSeq
    assert(keys == keys.sorted, "single-file JSON must be written key-sorted")
  }

  test("a result with zero rows reads back: lookup finds nothing, the pretty artifact is {}") {
    // inference of the empty part file yields struct<>, where the key
    // column does not resolve; the recorded read schema still has it
    val dir = Files.createTempDirectory("graft-empty")
    Files.writeString(dir.resolve("a.txt"), "!!! ... ,,,\n\n   \n?!\n")
    Files.writeString(dir.resolve("b.txt"), "\n")
    for (op <- Seq("wordcount", "invertedindex")) {
      val out = Files.createTempDirectory("graft-out").toString + s"/$op"
      Engine.run(spark, JobConfig(op, dir.toString, out, pretty = true))
      assert(Engine.lookup(spark, out, "hello").collect().isEmpty)
      val back = Engine.fetchResult(spark, out)
      assert(back.count() == 0 && back.columns.contains("word"))
      assert(Files.readString(Path.of(out, "_final_output.json")) == "{}")
    }
  }

  test("read schema: wordcount and inverted index read back as inference reads them") {
    val corpus = tmpCorpus()
    for (op <- Seq("wordcount", "invertedindex")) {
      val out = Files.createTempDirectory("graft-out").toString + s"/$op"
      Engine.run(spark, JobConfig(op, corpus, out))
      assert(Files.exists(Path.of(out, "_graft_schema")))
      assertReadsAsInferred(out)
    }
  }

  /** A registered op with int, float, boolean, nested struct and
    * array-of-struct columns; mixed-case and underscore names: inference
    * orders fields by String.compareTo at every level, the sidecar must too.
    */
  private def typedLinesOp(): String = {
    OperationRegistry.register("typed_lines", (corpus, _) =>
      corpus.groupBy("doc").agg(
        count(lit(1)).cast("int").as("lines"),
        (sum(length(col("line"))) / 3).cast("float").as("Ratio"),
        (count(lit(1)) > 1).as("multi"),
        struct(max(length(col("line"))).cast("short").as("longest"),
          min(col("line")).as("First")).as("stats"),
        sort_array(collect_list(struct(col("line").as("text"),
          length(col("line")).cast("byte").as("_len")))).as("items"))
        .orderBy("doc"))
    "typed_lines"
  }

  /** A registered op whose map and date columns the read schema does not
    * cover, so its result is published without a `_graft_schema` sidecar.
    */
  private def mappedLinesOp(): String = {
    OperationRegistry.register("mapped_lines", (corpus, _) =>
      corpus.groupBy("doc")
        .agg(map(lit("lines"), count(lit(1)).cast("int")).as("m"),
          max(to_date(lit("2024-01-02"))).as("day"))
        .orderBy("doc"))
    "mapped_lines"
  }

  test("read schema: int, float, boolean, nested struct and array-of-struct columns") {
    val out = Files.createTempDirectory("graft-out").toString + "/typed"
    Engine.run(spark, JobConfig(typedLinesOp(), tmpCorpus(), out))
    assert(Files.exists(Path.of(out, "_graft_schema")))
    assertReadsAsInferred(out)
    val hit = Engine.lookup(spark, out, "b.txt").collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("lines") == 1L)
  }

  test("read schema: a result type outside the mapping writes no sidecar and reads by inference") {
    val out = Files.createTempDirectory("graft-out").toString + "/mapped"
    Engine.run(spark, JobConfig(mappedLinesOp(), tmpCorpus(), out))
    assert(!Files.exists(Path.of(out, "_graft_schema")))
    assertReadsAsInferred(out)
    assert(Engine.lookup(spark, out, "a.txt").count() == 1)
  }

  test("read schema: a result published without the sidecar still reads and looks up") {
    val out = Files.createTempDirectory("graft-out").toString + "/old"
    Engine.run(spark, JobConfig("wordcount", tmpCorpus(), out))
    val withSidecar = Engine.fetchResult(spark, out).collect().toSeq
    Files.delete(Path.of(out, "_graft_schema"))
    assert(Engine.fetchResult(spark, out).collect().toSeq == withSidecar)
    assert(Engine.lookup(spark, out, "hello").head().getAs[Long]("count") == 2L)
  }

  test("a JSON lookup runs no Spark job, a keyed one under three; publishing at most 3") {
    val out = Files.createTempDirectory("graft-out").toString + "/jobs"
    val (result, runJobs) = jobsOf(Engine.run(spark, JobConfig("wordcount", tmpCorpus(), out)))
    assert(runJobs <= 3, s"Engine.run ran $runJobs jobs")
    val (hit, lookupJobs) = jobsOf(Engine.lookup(spark, out, "hello").collect())
    assert(hit.length == 1 && hit.head.getAs[Long]("count") == 2L)
    assert(lookupJobs == 0, s"Engine.lookup ran $lookupJobs jobs")

    // a keyed table with every one of its 64 buckets populated: the whole-
    // table read lists 64 level dirs (a listing job) before inferring
    val keyed = Files.createTempDirectory("graft-keyed").toString + "/t"
    graft.sources.Sinks.mergeIntoKeyedParquet(spark.range(2000)
      .select(concat(lit("key"), col("id")).as("k"), col("id").as("n")), "k", keyed)
    val (row, keyedJobs) = jobsOf(Engine.lookup(spark, keyed, "key7").collect())
    assert(row.map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq("key7" -> 7L))
    assert(keyedJobs < 3, s"a keyed Engine.lookup ran $keyedJobs jobs")

    // byte-identical to the global-sort-then-one-file write of the same result
    val ref = Files.createTempDirectory("graft-out").toString + "/ref"
    result.orderBy("word").coalesce(1).write.json(ref)
    assert(java.util.Arrays.equals(Files.readAllBytes(partFile(out)),
      Files.readAllBytes(partFile(ref))))
  }

  test("Engine.lookup finds a single term (P7)") {
    val out = Files.createTempDirectory("graft-out").toString + "/wc2"
    Engine.run(spark, JobConfig("wordcount", tmpCorpus(), out))
    val hit = Engine.lookup(spark, out, "hello").collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("count") == 2L)
    assert(Engine.lookup(spark, out, "absent").isEmpty)
  }

  test("invertedindex operation via registry") {
    val out = Files.createTempDirectory("graft-out").toString + "/idx"
    val result = Engine.run(spark, JobConfig("invertedindex", tmpCorpus(), out))
    val docs = result.filter(col("word") === "world").head().getSeq[String](1)
    assert(docs == Seq("a.txt", "b.txt"))
  }

  test("unknown operation fails with the registered names") {
    val e = intercept[IllegalArgumentException] {
      Engine.run(spark, JobConfig("nope", tmpCorpus(), "/tmp/never"))
    }
    assert(e.getMessage.contains("invertedindex"))
  }

  test("user-registered operation dispatches like built-ins") {
    OperationRegistry.register("linecount",
      (corpus, _) => corpus.groupBy("doc").count().orderBy("doc"))
    val out = Files.createTempDirectory("graft-out").toString + "/lc"
    val result = Engine.run(spark, JobConfig("linecount", tmpCorpus(), out))
    assert(result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a.txt" -> 2L, "b.txt" -> 1L))
  }

  test("reduce-UDF surface: custom Aggregator through udaf + registry (SURVEY §2.10)") {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.expressions.Aggregator
    // a user reducer the built-ins don't cover: the word with the highest
    // count per first-letter group (ties → lexicographically greatest)
    object MaxCountWord extends Aggregator[(String, Long), (String, Long), String] {
      def zero: (String, Long) = ("", -1L)
      def reduce(b: (String, Long), a: (String, Long)): (String, Long) =
        if (a._2 > b._2 || (a._2 == b._2 && a._1 > b._1)) a else b
      def merge(b1: (String, Long), b2: (String, Long)): (String, Long) = reduce(b1, b2)
      def finish(b: (String, Long)): String = b._1
      def bufferEncoder: Encoder[(String, Long)] = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
      def outputEncoder: Encoder[String] = Encoders.STRING
    }
    val maxCountWord = org.apache.spark.sql.functions.udaf(MaxCountWord)
    graft.functions.Reducers.register(spark, "max_count_word", maxCountWord)

    // wired through the operation registry like any built-in operation
    OperationRegistry.register("topword",
      (corpus, _) => operators.TextPipelines.wordCount(corpus)
        .groupBy(substring(col("word"), 1, 1).as("letter"))
        .agg(maxCountWord(col("word"), col("count")).as("top_word"))
        .orderBy("letter"))
    val out = Files.createTempDirectory("graft-out").toString + "/tw"
    val result = Engine.run(spark, JobConfig("topword", tmpCorpus(), out))
    val got = result.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // counts: again 1, hello 2, spins 1, the 1, world 2
    assert(got == Map("a" -> "again", "h" -> "hello", "s" -> "spins", "t" -> "the", "w" -> "world"))

    // the same reducer is callable from SQL once registered
    spark.createDataFrame(Seq(("x", 1L), ("y", 5L), ("z", 5L)))
      .toDF("w", "c").createOrReplaceTempView("tw_sql")
    val viaSql = spark.sql("SELECT max_count_word(w, c) AS top FROM tw_sql")
      .head().getString(0)
    assert(viaSql == "z")
  }

  test("JobConfig.fromJsonFile accepts reference-style config.json field names") {
    val corpus = tmpCorpus()
    val out = Files.createTempDirectory("graft-out").toString + "/cfg"
    val cfgFile = Files.createTempDirectory("graft-cfg").resolve("config.json")
    // the reference's spelling (master.py:215-216 / config.json)
    Files.writeString(cfgFile,
      s"""{
         |  "operation_name": "wordcount",
         |  "raw_input_data_path": "$corpus",
         |  "output_data_path": "$out",
         |  "mapper_count": 3
         |}""".stripMargin)
    val cfg = JobConfig.fromJsonFile(spark, cfgFile.toString)
    assert(cfg == JobConfig("wordcount", corpus, out, partitions = 3))
    val result = Engine.run(spark, cfg)
    assert(result.count() == 5)
  }

  test("Main.dispatch: run/fetch/lookup round-trip (S7/S8 analog)") {
    val corpus = tmpCorpus()
    val out = Files.createTempDirectory("graft-out").toString + "/cli"
    assert(Main.dispatch(spark, Seq("run", "wordcount", corpus, out)) == 0)
    assert(Main.dispatch(spark, Seq("fetch", out)) == 0)
    assert(Main.dispatch(spark, Seq("lookup", out, "hello")) == 0)
    assert(Main.dispatch(spark, Seq("bogus")) == 2)
  }

  test("Engine.runStream: file arrival republishes the queryable result (Part-2 loop)") {
    val corpusDir = Files.createTempDirectory("graft-stream-corpus")
    Files.writeString(corpusDir.resolve("a.txt"), "hello world\n")
    val out = Files.createTempDirectory("graft-out").toString + "/live"
    val q = Engine.runStream(spark, JobConfig("wordcount", corpusDir.toString, out))
    try {
      q.processAllAvailable()
      assert(Files.exists(Path.of(out, "_graft_schema")))
      assert(Engine.lookup(spark, out, "hello").head().getAs[Long]("count") == 1L)

      Files.writeString(corpusDir.resolve("b.txt"), "hello again\n")
      q.processAllAvailable()
      assert(Files.exists(Path.of(out, "_graft_schema")))
      assert(Engine.lookup(spark, out, "hello").head().getAs[Long]("count") == 2L)
      assert(Engine.fetchResult(spark, out).count() == 3)
    } finally q.stop()
  }

  test("engine sessions use non-ANSI semantics: x/0 and bad element_at are NULL") {
    // Spark 4 defaults to ANSI (these THROW); the DuckDB oracle returns
    // NULL, and a tokenless document must degrade, not kill the job
    val r = spark.sql("SELECT 1/0 AS d, element_at(array(1), 5) AS e").head()
    assert(r.isNullAt(0), "x/0 must be NULL under engine sessions")
    assert(r.isNullAt(1), "out-of-bounds element_at must be NULL under engine sessions")
  }

  test("partition count is config-driven and does not change results") {
    // compared on the PUBLISHED bytes, not on a re-execution of the
    // returned frame: the artifact is what readers see
    val corpus = tmpCorpus()
    def published(op: String, partitions: Int): Array[Byte] = {
      val out = Files.createTempDirectory("graft-out").toString + s"/p$partitions"
      Engine.run(spark, JobConfig(op, corpus, out, partitions = partitions))
      val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"$op: expected one part file, got ${parts.length}")
      Files.readAllBytes(parts.head.toPath)
    }
    for (op <- Seq("wordcount", "invertedindex")) {
      val (b1, b7) = (published(op, 1), published(op, 7))
      assert(b1.nonEmpty && java.util.Arrays.equals(b1, b7),
        s"$op: the part file published with 1 and with 7 partitions differs")
    }
  }

  test("an output path with a trailing slash publishes, reads back and leaves no stage") {
    val parent = Files.createTempDirectory("graft-out")
    val out = parent.toString + "/wc/"
    Engine.run(spark, JobConfig("wordcount", tmpCorpus(), out))
    assert(Engine.fetchResult(spark, out).count() == 5)
    assert(Engine.lookup(spark, out, "hello").head().getAs[Long]("count") == 2L)
    val left = parent.toFile.list().toSeq.sorted
    assert(left == Seq("wc"), s"staging directories left behind: $left")
    assert(!new java.io.File(out, ".inprogress").exists())
  }

  test("Engine.run drains retired checkpoints at job completion") {
    // A pipeline that retires a checkpoint — the shape every dedup
    // catalog query has. Engine.run must give the serving path the same
    // between-queries lifecycle as Bench/Verify: after the job's sink
    // completes, the retired blocks are GONE (blocking drain), so a
    // long-lived session running retiring operations cannot accumulate
    // blocks until shutdown (the r9 bench heap-poisoning failure mode).
    OperationRegistry.register("retiring_wc", (corpus, _) => {
      val counts = graft.operators.Checkpoints.retire(
        corpus.select(explode(split(col("line"), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("count"))
          .localCheckpoint())
      counts.orderBy("word")
    })
    val corpus = tmpCorpus()
    def cachedRddIds(): Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRddIds()
    val o1 = Files.createTempDirectory("graft-out").toString + "/r1"
    Engine.run(spark, JobConfig("retiring_wc", corpus, o1))
    assert(graft.operators.Checkpoints.retiredCount == 0,
      "run 1 left retired checkpoints undrained")
    assert(cachedRddIds() == before,
      "run 1's checkpoint blocks survived the job-completion drain")
    // second run through the same session: still no accumulation
    val o2 = Files.createTempDirectory("graft-out").toString + "/r2"
    Engine.run(spark, JobConfig("retiring_wc", corpus, o2))
    assert(graft.operators.Checkpoints.retiredCount == 0)
    assert(cachedRddIds() == before,
      "a second run accumulated blocks — the serving lifecycle leaks")
    // and the published artifacts are intact after their blocks released
    assert(Engine.fetchResult(spark, o2).count() > 0)
  }

  test("lookups render as toJSON renders them, and in no Spark job on a searched result") {
    val corpus = tmpCorpus()
    val cases = Seq(
      ("wordcount", Seq("hello", "world", "absent"), true),
      ("invertedindex", Seq("hello", "world", "absent"), true),
      (typedLinesOp(), Seq("a.txt", "b.txt", "c.txt"), true),
      (mappedLinesOp(), Seq("a.txt", "b.txt"), false))
    for ((op, terms, searched) <- cases) {
      val out = Files.createTempDirectory("graft-out").toString + s"/$op"
      Engine.run(spark, JobConfig(op, corpus, out))
      for (term <- terms) {
        val want = Engine.lookup(spark, out, term).toJSON.collect().toSeq
        val (got, jobs) = jobsOf(Engine.jsonLines(Engine.lookup(spark, out, term)).toSeq)
        assert(got == want, s"$op '$term'")
        if (searched) assert(jobs == 0, s"$op '$term': rendering a lookup ran $jobs jobs")
      }
    }
  }

  /** Publish `rows` through the JSON sink, sorted by the string column `k`. */
  private def publishRows(rows: Seq[org.apache.spark.sql.Row]): String = {
    val out = Files.createTempDirectory("graft-search").toString + "/r"
    graft.sources.Sinks.sortedSingleFileJson(rowsFrame(rows), "k", out)
    out
  }

  private def rowsFrame(rows: Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("k", StringType), StructField("v", LongType), StructField("pad", StringType))))
  }

  /** What the filter over the whole file finds — the fallback path. */
  private def filtered(out: String, term: String, keyCol: String = "k") = {
    val fs = graft.sources.Sinks.fileSystem(spark, out)
    val read = graft.sources.Sinks.readJsonSchema(fs, out)
      .map(spark.read.schema(_).json(out)).getOrElse(spark.read.json(out))
    val df = read.filter(col(keyCol) === term)
    (df.schema, df.collect().toSeq)
  }

  /** Each term's lookup equals the fallback filter; `searched` says
    * whether it must have been served by the search (no Spark job) or by
    * the fallback (at least one).
    */
  private def assertLookups(out: String, terms: Seq[String], searched: Boolean,
      keyCol: String = ""): Unit =
    for (term <- terms) {
      val ((schema, rows), jobs) = jobsOf {
        val df = Engine.lookup(spark, out, term, keyCol)
        (df.schema, df.collect().toSeq)
      }
      val want = filtered(out, term, if (keyCol.isEmpty) "k" else keyCol)
      assert(schema == want._1, s"'$term': ${schema.simpleString} vs ${want._1.simpleString}")
      assert(rows == want._2, s"'$term': $rows vs ${want._2}")
      if (searched) assert(jobs == 0, s"'$term' ran $jobs jobs: not served by the search")
      else assert(jobs > 0, s"'$term' ran no job: the search served a result it must not")
    }

  test("search matrix: a JSON lookup equals the filter over the whole file") {
    import org.apache.spark.sql.Row
    val Window = graft.sources.SortedJsonSearch.Window
    val long = "x" * (3 * Window)
    // UTF-16 puts U+1F600 (a surrogate pair) before U+FFFD; UTF-8, and so
    // Spark's sort, puts it after
    val keys = Seq("a", "a", "a", "a\"b", "back\\slash", "b", "é", "�", "😀", "z",
      "long1", "long2", "long3")
    val rows = Seq(Row(null, 1L, "n1"), Row(null, 2L, long)) ++
      keys.zipWithIndex.map { case (k, i) =>
        Row(k, i.toLong, if (k.startsWith("long") || i % 4 == 0) long + i else s"p$i")
      }
    val out = publishRows(rows)
    assert(Files.exists(Path.of(out, "_graft_key_order")))
    val misses = Seq("", "0", "aa", "c", "￾", "😀😀", "long", "long0")
    assertLookups(out, keys.distinct ++ misses, searched = true)
    // the keys hold exactly what was written, and the duplicate comes back whole
    assert(Engine.lookup(spark, out, "a").collect().map(_.getAs[Long]("v")).toSeq == Seq(0L, 1L, 2L))
    assert(Engine.lookup(spark, out, "a\"b").head().getAs[String]("k") == "a\"b")

    assertLookups(publishRows(Nil), Seq("a", ""), searched = true)
    assertLookups(publishRows(Seq(Row("only", 1L, long))), Seq("only", "a", "z"), searched = true)
    assertLookups(publishRows(Seq(Row(null, 1L, "x"))), Seq("a"), searched = true)
  }

  test("search fallbacks: each answers with the filter's rows") {
    import org.apache.spark.sql.Row
    val rows = Seq("B", "a", "C", "b", "a").zipWithIndex.map { case (k, i) => Row(k, i.toLong, "p") }
    val terms = Seq("a", "B", "b", "c", "zz")

    // no schema sidecar
    val noSchema = publishRows(rows)
    Files.delete(Path.of(noSchema, "_graft_schema"))
    assertLookups(noSchema, terms, searched = false)

    // a collated key sorts in its collation's order: no key-order marker
    val lcase = Files.createTempDirectory("graft-search").toString + "/lcase"
    graft.sources.Sinks.sortedSingleFileJson(
      rowsFrame(rows).withColumn("k", collate(col("k"), "UTF8_LCASE")), "k", lcase)
    assert(Files.exists(Path.of(lcase, "_graft_schema")))
    assert(!Files.exists(Path.of(lcase, "_graft_key_order")))
    assertLookups(lcase, terms, searched = false)

    // an explicit key column other than the sort key
    val plain = publishRows(rows)
    assertLookups(plain, Seq("1", "4", "9"), searched = false, keyCol = "v")
    assertLookups(plain, terms, searched = true, keyCol = "k")

    // two part files
    val twoParts = publishRows(rows)
    val part = partFile(twoParts)
    Files.copy(part, part.resolveSibling("part-99999-copy.json"))
    assertLookups(twoParts, terms, searched = false)

    // the part file deleted before the read; a directory gone mid-search
    val gone = publishRows(rows)
    Files.delete(partFile(gone))
    assertLookups(gone, terms, searched = false)
    val fs = graft.sources.Sinks.fileSystem(spark, gone)
    assert(graft.sources.SortedJsonSearch.matchingLines(fs, gone + "-swapped", "k", "a").isEmpty)
  }

  test("keyed lookup reads one bucket and equals the filter over the resolved table") {
    import spark.implicits._
    import graft.sources.Sinks
    // incompressible pad: the first level of each bucket must outweigh
    // twice a later one-row delta, or the tier rule compacts every merge
    // and the table never holds more than one level
    def pad(seed: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 32).map(j => md.digest(s"$seed/$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).mkString
    }
    val path = Files.createTempDirectory("graft-keyed").toString + "/t"
    val keys = (0 until 200).map(i => s"key$i")
    Sinks.mergeIntoKeyedParquet(keys.map(k => (k, 0L, pad(k))).toDF("k", "n", "pad"), "k", path)
    Sinks.mergeIntoKeyedParquet(keys.take(40).map(k => (k, 1L, "")).toDF("k", "n", "pad"), "k", path)
    Sinks.mergeIntoKeyedParquet((keys.slice(20, 30) ++ Seq("new1", "new2"))
      .map(k => (k, 2L, "")).toDF("k", "n", "pad"), "k", path)
    val fs = Sinks.fileSystem(spark, path)
    assert(Sinks.Manifest.latest(fs, path).get.dirs.values.exists(_.size > 1),
      "the table must hold multi-level buckets")

    val resolved = Sinks.readKeyedParquet(spark, path)
    val byKey = resolved.collect().map(r => r.getString(0) -> r).toMap
    assert(byKey.size == 202 && byKey("key25").getLong(1) == 2L && byKey("key5").getLong(1) == 1L)
    for (k <- byKey.keys.toSeq.sorted ++ Seq("absent", "key200", "")) {
      val got = Engine.lookup(spark, path, k)
      assert(got.schema == resolved.schema)
      assert(got.collect().toSeq == byKey.get(k).toSeq, k)
    }
    assert(Engine.lookup(spark, path, "key25").collect().toSeq ==
      resolved.filter(col("k") === "key25").collect().toSeq)

    // three keys: most buckets hold no level at all
    val sparse = Files.createTempDirectory("graft-keyed").toString + "/s"
    Sinks.mergeIntoKeyedParquet(Seq(("x", 1L), ("y", 2L), ("z", 3L)).toDF("k", "n"), "k", sparse)
    for (k <- Seq("x", "y", "z") ++ (0 until 20).map(i => s"miss$i"))
      assert(Engine.lookup(spark, sparse, k).collect().toSeq ==
        Sinks.readKeyedParquet(spark, sparse).filter(col("k") === k).collect().toSeq, k)
  }

  test("doc names are the file names, not their URI encoding") {
    val dir = Files.createTempDirectory("graft-names")
    for (name <- Seq("my doc.txt", "a%41b.txt", "a+b.txt"))
      Files.writeString(dir.resolve(name), "hello\n")
    val out = Files.createTempDirectory("graft-out").toString + "/idx"
    Engine.run(spark, JobConfig("invertedindex", dir.toString, out))
    val docs = Engine.lookup(spark, out, "hello").head().getAs[scala.collection.Seq[String]]("docs")
    assert(docs == Seq("a%41b.txt", "a+b.txt", "my doc.txt"), docs.toString)
  }

  test("a file name the locale cannot decode is read or fails the run, never dropped") {
    // Java cannot name café.txt under a non-UTF-8 file-name encoding, so
    // the shell writes it from its UTF-8 bytes
    val dir = Files.createTempDirectory("graft-locale")
    Files.writeString(dir.resolve("plain.txt"), "hello\n")
    val sh = new ProcessBuilder("sh", "-c",
      """printf 'hello cafe\n' > "$1/$(printf 'caf\303\251.txt')"""", "sh", dir.toString)
      .redirectErrorStream(true).start()
    assert(sh.waitFor() == 0, new String(sh.getInputStream.readAllBytes(), "UTF-8"))
    val out = Files.createTempDirectory("graft-out").toString + "/wc"
    scala.util.Try(Engine.run(spark, JobConfig("wordcount", dir.toString, out))) match {
      case scala.util.Success(_) =>
        assert(Engine.lookup(spark, out, "hello").head().getAs[Long]("count") == 2L)
        assert(Engine.lookup(spark, out, "cafe").head().getAs[Long]("count") == 1L)
      case scala.util.Failure(e) =>
        val msg = String.valueOf(e.getMessage)
        assert(msg.contains("caf") && msg.contains("sun.jnu.encoding="), msg)
        assert(System.getProperty("sun.jnu.encoding") != "UTF-8", msg)
    }
  }
}
