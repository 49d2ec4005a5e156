package graft

import graft.functions.TextFunctions._
import graft.operators.Skew
import graft.sources.Sinks
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale techniques SCALE.md leans on, verified at the plan/value level:
  * salted two-phase aggregation equals its unsalted form, and bucketed
  * tables join with no exchange.
  */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  test("salted collect_set is value-identical to the unsalted aggregation") {
    val pairs = Tables(spark, Sf0001, "documents")
      .select(explode(tokens(cleanLine(col("text")))).as("word"), col("doc_id"))
    val plain = pairs.groupBy(col("word").as("key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("values"))
    val salted = Skew.saltedCollectSet(pairs, col("word"), col("doc_id"), salts = 8)
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // hybrid, with a threshold low enough that common words REALLY take the
    // salted route and rare words the single-phase route — both value-equal
    val hybrid = Skew.saltedCollectSetHybrid(pairs, col("word"), col("doc_id"),
      salts = 8, hotThreshold = 50)
    assert(hybrid.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(hybrid).count() == 0)
  }

  test("inverted_index plans the hybrid salted aggregation and survives a hot key") {
    // plan: the catalog query goes through Skew.saltedCollectSetHybrid —
    // the optimized plan must show the conditional salt (two aggregation
    // phases with the hot-key routing join feeding the salt column)
    val plan = SparkEntry.queries("inverted_index")(spark, Sf0001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("salt"), s"expected salted two-phase agg:\n$plan")
    assert(plan.contains("is_hot"), s"expected hybrid hot-key routing:\n$plan")

    // skewed corpus: one stopword in every doc (the hot posting list),
    // unique words elsewhere. Exercised BOTH through the catalog query
    // (threshold-independent result) and directly with a threshold the
    // hot key exceeds, so the salted route itself is proven to produce
    // the complete, sorted doc list.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    (0 until 500).map(i => (i.toLong, s"the unique$i", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val hotRow = SparkEntry.queries("inverted_index")(spark, dir)
      .filter(col("word") === "the").select("docs").as[String].head()
    assert(hotRow == (0 until 500).mkString(","),
      "hot key's posting list must be complete and sorted")

    val pairs = Tables(spark, dir, "documents")
      .select(explode(tokens(cleanLine(col("text")))).as("word"), col("doc_id"))
    val viaHot = Skew.saltedCollectSetHybrid(pairs, col("word"), col("doc_id"),
        salts = 8, hotThreshold = 100)  // "the" has 500 rows > 100 → salted
      .filter(col("key") === "the").select("values")
      .as[Seq[Long]].head()
    assert(viaHot == (0L until 500L),
      "salted route must rebuild the hot key's complete sorted list")
  }

  test("salted distinct count is exact (equal values share a salt)") {
    val li = Tables(spark, Sf0001, "lineitem")
    val salted = Skew.saltedDistinctCount(li, col("l_returnflag"), col("l_suppkey"), salts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_suppkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("TopK aggregator: bounded buffer, deterministic ties, partial-agg plan") {
    import graft.functions.{Scored, TopK}
    val agg = new TopK(3)
    // reduce keeps the k best with (sim DESC, nn_id ASC) tie-break
    val buf = Seq(Scored(0.9, 5L), Scored(0.8, 2L), Scored(0.9, 1L), Scored(0.7, 9L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq(Scored(0.9, 1L), Scored(0.9, 5L), Scored(0.8, 2L)))
    // merge of two partial buffers = top-3 of the union
    val other = Seq(Scored(0.95, 7L), Scored(0.1, 3L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(buf, other)) ==
      Seq(Scored(0.95, 7L), Scored(0.9, 1L), Scored(0.9, 5L)))
    // NaN similarity ranks FIRST, matching ORDER BY sim DESC in Spark and
    // the oracle (NaN compares greater than any double in a descending sort)
    val withNaN = Seq(Scored(Double.NaN, 4L), Scored(0.99, 8L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(withNaN, buf)).head.nn_id == 4L)

    // identical results to the window-ranked form, but the physical plan
    // prunes map-side: partial_topk runs BEFORE the exchange
    val viaAgg = SparkEntry.queries("ann_topk_agg")(spark, Sf0001)
    val viaWindow = SparkEntry.queries("ann_bruteforce")(spark, Sf0001)
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk"), s"expected map-side partial topk:\n$plan")

    // ann_ivf uses the same aggregator shape (no ≤ NQueries-partition
    // window funnel): partial_topk must appear before its exchange too
    val ivfPlan = SparkEntry.queries("ann_ivf")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(ivfPlan.contains("partial_topk"),
      s"ann_ivf must rank via the map-side TopK aggregator:\n$ivfPlan")

    // ann_ivf_nprobe ranks twice (cells, then neighbors) — BOTH ranks
    // must be the map-side aggregator, and the only conditionless join is
    // the |queries| × nlist rep scoring, statically bounded by the
    // limit(MaxCells) on the rep side (never a corpus-sized loop)
    val np = SparkEntry.queries("ann_ivf_nprobe")(spark, Sf0001)
    val npPlan = np.queryExecution.executedPlan.toString
    assert(npPlan.contains("partial_topk"),
      s"ann_ivf_nprobe must rank via the map-side TopK aggregator:\n$npPlan")
    assert(!npPlan.contains("CartesianProduct"),
      s"the rep scoring must broadcast, not cartesian:\n$npPlan")
  }

  test("a small delta is APPENDED as a level — only its bucket's ledger entry changes") {
    import graft.sources.Sinks.Manifest
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // 160k keys / 64 buckets: each bucket's level is FAR larger than 2× a
    // one-row delta, so the tier rule must append, never compact
    val initial = spark.range(160000)
      .select(concat(lit("key"), col("id")).as("k"), col("id").as("n"))
    Sinks.mergeIntoKeyedParquet(initial, "k", path)

    val before = Manifest.latest(fs, path).get
    assert(before.dirs.size > 1, "expected several bucket directories")
    assert(before.dirs.values.forall(ds =>
      ds.forall(d => new java.io.File(path, d).isDirectory)))

    val delta = Seq(("key7", 999L)).toDF("k", "n")
    Sinks.mergeIntoKeyedParquet(delta, "k", path)
    val after = Manifest.latest(fs, path).get

    // the manifest is the publish ledger: exactly one bucket gained a
    // level (the delta itself, renamed into place — existing data neither
    // read nor rewritten); every other bucket still points at its
    // ORIGINAL immutable directory, and nothing is retired
    val changed = after.dirs.filter { case (k, ds) => before.dirs(k) != ds }
    assert(changed.size == 1, s"exactly one bucket should change, got $changed")
    val (bk, levels) = changed.head
    assert(levels == before.dirs(bk) :+ s"b$bk-g${after.gen}",
      s"the delta must be appended as a new level, got $levels")
    assert(after.retired.isEmpty, "a pure append retires nothing")

    // read-time resolution: the NEWEST level's row wins for the upserted
    // key, untouched keys are intact, and no duplicate rows leak out
    val rows = Sinks.readKeyedParquet(spark, path).collect()
    assert(rows.length == 160000, s"resolved read must dedup upserted keys, got ${rows.length}")
    val merged = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged("key7") == 999L, "updated key must carry the new value")
    assert(merged("key8") == 8L, "untouched keys intact")
  }

  test("repeated deltas tier into a logarithmic level count, resolving to the latest values") {
    import graft.sources.Sinks.Manifest
    import spark.implicits._
    // the table root deliberately CONTAINS a level-dir-shaped segment
    // (b1-g9): the read-time generation extraction must anchor to the
    // part file's parent dir, not the first match anywhere in the path —
    // an unanchored pattern would resolve every row to generation 9
    val path = java.nio.file.Files.createTempDirectory("graft-lsm").toString + "/b1-g9/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // 24 similar-sized deltas with overlapping keys (960 of 4800 keys
    // each, ~15 rows per bucket per delta): the binary-counter
    // tiering must keep every bucket's level list ~log₂(24), retire the
    // absorbed levels, and the resolved read must surface each key's
    // LAST write however the levels interleave. Rows carry a ~200-byte
    // pad so level bytes track ROW counts — at toy sizes the parquet
    // footer otherwise dominates, every level reads as delta-sized, and
    // the tier rule degenerates to absorb-everything (single-level
    // buckets would leave the multi-level read path unexercised)
    val rounds = 24
    val (nKeys, perRound, stride) = (4800, 960, 592)
    def key(r: Int, i: Int) = s"key${(r * stride + i) % nKeys}"
    // INCOMPRESSIBLE per-row pad (md5 chain) — a constant pad snappy-
    // compresses to nothing and the footer dominates again
    def pad(seed: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 16).map { j =>
        md.digest(s"$seed/$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.mkString
    }
    (0 until rounds).foreach { r =>
      val delta = (0 until perRound)
        .map(i => (key(r, i), r.toLong * 1000 + i, pad(s"$r-$i")))
        .toDF("k", "n", "pad")
        // same-trigger contract: ≤ one row per key
        .groupBy("k").agg(
          org.apache.spark.sql.functions.max("n").as("n"),
          org.apache.spark.sql.functions.first("pad").as("pad"))
      Sinks.mergeIntoKeyedParquet(delta, "k", path)
    }
    val m = Manifest.latest(fs, path).get
    val maxLevels = m.dirs.values.map(_.size).max
    assert(maxLevels <= 7,
      s"tiering must keep levels logarithmic in merge count, got $maxLevels")
    assert(maxLevels >= 2,
      "the run must END in a multi-level state (24 = 16+8 in the binary " +
        "counter) or the resolved multi-level read below checks nothing")
    assert(m.dirs.values.flatten.toSeq.distinct.size ==
      m.dirs.values.flatten.size, "level dirs must be unique")
    // replay the merges driver-side for the expected final state
    val expect = scala.collection.mutable.Map[String, Long]()
    (0 until rounds).foreach { r =>
      val kv = scala.collection.mutable.Map[String, Long]()
      (0 until perRound).foreach { i =>
        val k = key(r, i)
        kv(k) = math.max(kv.getOrElse(k, Long.MinValue), r.toLong * 1000 + i)
      }
      expect ++= kv
    }
    val got = Sinks.readKeyedParquet(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == expect.size, s"expected ${expect.size} keys, got ${got.size}")
    val bad = expect.filter { case (k, v) => got(k) != v }
    assert(bad.isEmpty, s"stale values after resolution: ${bad.take(5)}")
  }

  test("a bucket dir holding mis-hashed rows fails the merge loudly instead of dropping keys") {
    import graft.sources.Sinks.Manifest
    import spark.implicits._
    // handcraft a CORRUPT table: the manifest says bucket 0, but the dir
    // holds a key whose hash lands elsewhere. A merge touching bucket 0 must
    // refuse to commit — the silent alternative repointed the stray's
    // true bucket at a strays-only dir, dropping that bucket's other keys.
    val path = java.nio.file.Files.createTempDirectory("graft-corrupt").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    import org.apache.spark.sql.functions.{pmod, hash => sqlHash}
    val all = (0 until 320).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    Sinks.mergeIntoKeyedParquet(all, "k", path)
    val m = Manifest.latest(fs, path).get
    // plant a stray: copy one row of bucket B into a DIFFERENT bucket's dir
    val (b0, bOther) = (m.dirs.keys.min, m.dirs.keys.max)
    spark.read.parquet(s"$path/${m.dirs(bOther).head}").limit(1)
      .write.mode("append").parquet(s"$path/${m.dirs(b0).head}")

    // the delta must COMPACT bucket b0, so the merge reads the corrupted
    // dir and the stray's recomputed bucket shows up in the stage — pure
    // appends never read old levels, so a stray waits for its bucket's
    // next compaction to be detected, but is always caught before any
    // directory is dropped. The delta rewrites EVERY key of b0, split
    // over the same input partitions as the first write: the level then
    // holds the delta's files plus the one-row stray file, less than
    // twice the delta's bytes, so the tier rule absorbs it
    val delta = all.withColumn("b", pmod(sqlHash(col("k")), lit(64)))
      .filter(col("b") === b0).select(col("k"), lit(9999L).as("n"))
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeIntoKeyedParquet(delta, "k", path)
    }
    assert(e.getMessage.contains("bucket invariant violated"), e.getMessage)
  }

  test("manifest publish: a reader mid-flight across a multi-bucket merge sees one whole generation") {
    import graft.sources.Sinks.Manifest
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-genread").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val initial = (0 until 1600).map(i => (s"key$i", 1L)).toDF("k", "n")
    Sinks.mergeIntoKeyedParquet(initial, "k", path)

    // a reader resolves generation 1 (manifest + directory list) NOW...
    val g1Reader = Sinks.readKeyedParquet(spark, path)

    // ...then a merge updates EVERY key (all 64 buckets swap generations).
    // The per-directory-swap design failed exactly here: the reader could
    // see bucket 3 new + bucket 7 old. With manifest publish the g1
    // directories are immutable and still on disk (deferred deletion), so
    // the in-flight reader materializes the complete OLD generation.
    Sinks.mergeIntoKeyedParquet(
      (0 until 1600).map(i => (s"key$i", 2L)).toDF("k", "n"), "k", path)
    val seen = g1Reader.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seen.size == 1600 && seen.values.forall(_ == 1L),
      s"mid-flight reader must see one whole generation, got ${seen.values.toSet}")

    // a NEW reader resolves generation 2 and sees only new values
    val fresh = Sinks.readKeyedParquet(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fresh.values.forall(_ == 2L))

    // the generation-1 directories die when generation 3 commits (one-
    // generation grace), and old manifests are pruned with them
    val g2 = Manifest.latest(fs, path).get
    assert(g2.retired.nonEmpty)
    Sinks.mergeIntoKeyedParquet(Seq(("key7", 3L)).toDF("k", "n"), "k", path)
    g2.retired.foreach(d =>
      assert(!new java.io.File(path, d).exists(), s"$d must be deleted at gen 3"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_log/manifest-1")),
      "superseded manifests beyond the grace window must be pruned")
  }

  test("a racing manifest commit fails loudly instead of silently losing the update") {
    import graft.sources.Sinks.Manifest
    val path = java.nio.file.Files.createTempDirectory("graft-race").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val first = Manifest(1L, 4, Map(0 -> Seq("b0-g1")), Nil)
    Manifest.commit(fs, path, first)
    // a second writer that computed the same next generation: on HDFS the
    // rename would fail; on the local FS POSIX rename silently overwrites —
    // the commit protocol must fail loudly on BOTH, keeping the first write
    val racing = Manifest(1L, 4, Map(0 -> Seq("b0-g1-racing")), Nil)
    intercept[java.io.IOException] { Manifest.commit(fs, path, racing) }
    assert(Manifest.latest(fs, path).get == first,
      "the winning manifest must survive a racing commit attempt")
  }

  test("retainGenerations widens the reader grace window; expiry fails loudly") {
    import graft.sources.Sinks.Manifest
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod, hash => sqlHash}
    val path = java.nio.file.Files.createTempDirectory("graft-retain").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val initial = (0 until 320).map(i => (s"key$i", 1L)).toDF("k", "n")
    Sinks.mergeIntoKeyedParquet(initial, "k", path)
    val g1 = Manifest.latest(fs, path).get
    val snapshot = Sinks.readKeyedParquet(spark, path) // resolved at gen 1

    // each touch rewrites EVERY key of one bucket, split over the same
    // input partitions as the first write, so the bucket's level is under
    // twice the delta's bytes and the tier rule absorbs (retires) it — a
    // deterministic retirement cadence, which is what this case is about
    val hot = g1.dirs.keys.min
    def touch(n: Long): Unit = Sinks.mergeIntoKeyedParquet(
      initial.withColumn("b", pmod(sqlHash(col("k")), lit(64)))
        .filter(col("b") === hot).select(col("k"), lit(n).as("n")), "k", path)

    // the one retained generation keeps the replaced gen-1 directory on
    // disk through the merge that retires it: the gen-1 snapshot, one
    // generation behind, still reads whole
    touch(2L)
    val g2 = Manifest.latest(fs, path).get
    assert(g1.dirs(hot).forall(g2.retired.contains),
      s"gen 2 must retire the hot bucket's gen-1 level, retired ${g2.retired}")
    assert(g1.dirs(hot).forall(d => new java.io.File(path, d).exists()),
      "within the retained window the replaced directory must stay on disk")
    assert(snapshot.count() == 320,
      "a reader one generation behind must still see its whole snapshot")

    // the next merge pushes gen 1 out of the retained window: the replaced
    // directory is GC'd and the stale snapshot fails LOUDLY (the reader
    // refuses ignoreMissingFiles=true, so this can never be silent row loss)
    touch(3L)
    assert(g1.dirs(hot).forall(d => !new java.io.File(path, d).exists()),
      "beyond the retained window the old bucket directory must be GC'd")
    intercept[Exception] { snapshot.count() }

    // current-generation reads are unaffected
    val hotKeys = initial.withColumn("b", pmod(sqlHash(col("k")), lit(64)))
      .filter(col("b") === hot).select("k").as[String].collect().toSet
    val now = Sinks.readKeyedParquet(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(now.size == 320 && hotKeys.nonEmpty &&
      now.forall { case (k, v) => v == (if (hotKeys(k)) 3L else 1L) })
  }

  test("readKeyedParquet refuses to run under ignoreMissingFiles=true") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-imf").toString + "/t"
    Sinks.mergeIntoKeyedParquet(
      (0 until 32).map(i => (s"key$i", 1L)).toDF("k", "n"), "k", path)
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try intercept[IllegalArgumentException] { Sinks.readKeyedParquet(spark, path) }
    finally spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")
    assert(Sinks.readKeyedParquet(spark, path).count() == 32)
  }

  test("an abandoned manifest temp file is reclaimed by the next merge's prune") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-tmp").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Sinks.mergeIntoKeyedParquet(
      (0 until 320).map(i => (s"key$i", 1L)).toDF("k", "n"), "k", path)
    // simulate a crash between fs.create(.tmp-<gen>) and the rename: the
    // orphan sits in _graft_log where only this prune can ever delete it
    val orphan = new org.apache.hadoop.fs.Path(path, "_graft_log/.tmp-1")
    val out = fs.create(orphan, true)
    try out.write("gen=1\n".getBytes("UTF-8")) finally out.close()
    Sinks.mergeIntoKeyedParquet(Seq(("key3", 2L)).toDF("k", "n"), "k", path)
    assert(!fs.exists(orphan), "stale .tmp-* files must be pruned, not accumulate")
  }

  test("hybrid salting routes a hot NULL key through the salted phase") {
    import spark.implicits._
    // 300 rows under the null key (hot), 20 under a rare key: a plain
    // equi-join can never match NULL, so without null-safe routing the hot
    // null group would silently take salt 0 — the exact single-task state
    // pile-up the operator exists to bound
    val rows = (0 until 300).map(i => (None: Option[String], i.toLong)) ++
      (0 until 20).map(i => (Some("rare"), 1000L + i))
    val df = rows.toDF("k", "v")
    val hybrid = Skew.saltedCollectSetHybrid(df, col("k"), col("v"),
      salts = 8, hotThreshold = 100)
    val plain = df.groupBy(col("k").as("key"))
      .agg(sort_array(collect_set(col("v"))).as("values"))
    assert(hybrid.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(hybrid).count() == 0)
    // and the routing join itself must be null-safe in the plan
    val plan = hybrid.queryExecution.optimizedPlan.toString
    assert(plan.contains("<=>"), s"hot-set routing must be null-safe:\n$plan")
  }

  test("compactParquet collapses small files without changing the data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val src = Tables(spark, Sf0001, "lineitem").select("l_orderkey", "l_extendedprice")
    src.repartition(24).write.parquet(dir)   // deliberately fragmented
    def partFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles == 24)
    val before = spark.read.parquet(dir).count()

    Sinks.compactParquet(spark, dir, targetMB = 256)
    assert(partFiles == 1, s"expected 1 compacted file, got $partFiles")
    val after = spark.read.parquet(dir)
    assert(after.count() == before)
    assert(after.exceptAll(src).count() == 0 && src.exceptAll(after).count() == 0)
  }

  test("partitioned parquet sink prunes partitions at the scan") {
    val path = java.nio.file.Files.createTempDirectory("graft-part").toString + "/ev"
    Sinks.parquetTable(
      Tables(spark, Sf0001, "events").select("event_id", "event_type", "value"),
      path, partitionBy = Seq("event_type"))
    val types = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("event_type="))
    assert(types > 1, "expected one directory per event type")

    val pruned = spark.read.parquet(path).filter(col("event_type") === "click")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // a pruned scan lists ONE partition directory's files, not all of them
    assert("""event_type#\d+ = click""".r.findFirstIn(plan).nonEmpty, plan)
  }

  test("AQE splits the skewed partition of a hot-key fact join (skew=true in the executed plan)") {
    // SCALE.md's relational-spine claim, exercised: a lineitem-shaped fact
    // table where 90% of rows share one join key concentrates one shuffle
    // partition; AQE's skew-join rewrite must split it at runtime. The
    // thresholds are lowered to make a 6k-row corpus exhibit what a 100 TB
    // join hits at the defaults (256 MB partitions) — the PLAN mechanism is
    // identical. Broadcast is disabled so the join actually shuffles (the
    // production fact⋈fact regime; a broadcastable dim side needs no skew
    // handling in the first place).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")

      // repartition first: skew split happens along MAP-output boundaries,
      // and a single small parquet file scans as one map task — splittable
      // nowhere. Real 100-TB inputs always have many map tasks; 16 here
      // recreates that precondition.
      val li = Tables(spark, Sf0001, "lineitem").repartition(16)
        .withColumn("k", when(col("l_orderkey") % 10 < 9, lit(1L)).otherwise(col("l_orderkey")))
      val o = Tables(spark, Sf0001, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderdate"))
      val joined = li.join(o, "k")
      // drive THIS DataFrame's QueryExecution (count() would plan a fresh
      // one and leave joined.queryExecution at isFinalPlan=false)
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot partition's SMJ skew=true:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("JSONL round-trip: documents -> gzip shards -> pinned-schema read") {
    import graft.sources.CorpusReader
    val docs = Tables(spark, Sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/docs"
    CorpusReader.toJsonl(docs, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".json.gz")),
      "shards must be gzip-compressed JSONL")
    val back = CorpusReader.documentsFromJsonl(spark, dir)
    assert(back.schema == CorpusReader.DocumentsSchema, "schema pinned, not inferred")
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)

    // a corrupt line under the pinned schema surfaces as an all-null row
    // (auditable), never as a silently re-inferred schema
    val corrupt = java.nio.file.Files.createTempDirectory("graft-jsonl-bad")
    java.nio.file.Files.writeString(corrupt.resolve("part-0.json"),
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}
        |not json at all
        |""".stripMargin)
    val rows = CorpusReader.documentsFromJsonl(spark, corrupt.toString)
    assert(rows.count() == 2)
    assert(rows.filter(col("doc_id").isNull).count() == 1,
      "the corrupt line must surface as a null row, not vanish")
  }

  test("compactParquet refuses a manifest-published keyed table") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-nocompact").toString + "/t"
    Sinks.mergeIntoKeyedParquet(
      (0 until 32).map(i => (s"key$i", 1L)).toDF("k", "n"), "k", path)
    // a whole-root compaction would read every retained generation and
    // destroy the b<k>-g<gen> layout the manifest references
    intercept[IllegalArgumentException] { Sinks.compactParquet(spark, path) }
    assert(Sinks.readKeyedParquet(spark, path).count() == 32, "table untouched")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // production thresholds (creation <= 10 MB, probe >= 10 GB) mean the
    // filter only engages at real scale; lower them here to prove the
    // mechanism fires, and force a shuffle join (broadcast would bypass it)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables(spark, Sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables(spark, Sf0001, "lineitem").select("l_orderkey", "l_quantity")
      val q = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$plan")
      assert(q.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("clustered parquet: a point filter reads fewer rows than the unclustered copy") {
    val li = Tables(spark, Sf0001, "lineitem").select("l_orderkey", "l_quantity")
    val total = li.count()
    val base = java.nio.file.Files.createTempDirectory("graft-cluster").toString
    // same data, two layouts: range-clustered on the filter key vs
    // round-robin (every file spans the whole key range)
    Sinks.clusteredParquet(li, base + "/clustered", Seq("l_orderkey"), shards = Some(8))
    li.repartition(8).write.parquet(base + "/scattered")

    def rowsScanned(path: String): Long = {
      val df = spark.read.parquet(path).filter(col("l_orderkey") === 1L)
      df.collect() // drive THIS QueryExecution so metrics populate
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val clustered = rowsScanned(base + "/clustered")
    val scattered = rowsScanned(base + "/scattered")
    // the scattered layout's files all overlap the key, so min/max stats
    // skip nothing and the scan emits every pushed-filter survivor from
    // every file; the clustered layout confines the key to one file's
    // range and the footer stats skip the rest
    assert(scattered > 0 && clustered > 0, "both layouts must find the key")
    assert(clustered * 2 <= total,
      s"clustered scan should read a fraction of the table: $clustered of $total")
    assert(clustered <= scattered,
      s"clustering must not read more than the scattered layout " +
        s"($clustered vs $scattered)")
  }

  test("bucketed tables join with no exchange (co-located sort-merge join)") {
    // a previous JVM's managed-table directories survive on disk while the
    // in-memory catalog does not — clear both before writing
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Sinks.bucketedTable(Tables(spark, Sf0001, "lineitem")
      .select("l_orderkey", "l_extendedprice"), "li_bucketed", Seq("l_orderkey"), 8)
    Sinks.bucketedTable(Tables(spark, Sf0001, "orders")
      .select("o_orderkey", "o_orderdate"), "o_bucketed", Seq("o_orderkey"), 8)

    val joined = spark.table("li_bucketed")
      .hint("merge")   // force SMJ so the assertion isn't about broadcast
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

    // and it returns the same rows as the plain join
    val expected = Tables(spark, Sf0001, "lineitem")
      .join(Tables(spark, Sf0001, "orders"), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(joined.count() == expected)
  }

  test("correlated scalar subquery is decorrelated into one aggregate + equi-join") {
    // the SQL front door must plan like the DataFrame spelling: no
    // per-row subplan survives optimization (a correlated subquery left
    // in place re-executes the aggregate once per outer row — O(n·m) at
    // any cluster size), and the rewritten form is an equi-join on the
    // correlation key feeding one grouped aggregate
    val qe = SparkEntry.queries("subquery_decorr")(spark, Sf0001).queryExecution
    val opt = qe.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"subquery must be decorrelated away:\n$opt")
    assert(qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.exists(_.condition.exists(_.toString.contains("o_custkey"))),
      s"expected an equi-join on the correlation key:\n$opt")
    assert(opt.contains("max(o_totalprice"),
      s"expected the grouped max aggregate:\n$opt")
  }

  test("materialized cluster map reproduces the inline dedup decision and pipeline") {
    import graft.queries.{CurationQueries, DedupQueries}
    // publish once through the manifest sink, then the election and the
    // whole curation pass read the SNAPSHOT instead of re-running the CC
    // label loop — the materialize-once shape for many consumers per
    // corpus build. Equality is frame-level: same rows, both directions.
    val path = java.nio.file.Files.createTempDirectory("graft-clmap")
      .toString + "/cluster_map"
    DedupQueries.publishClusterMap(spark, Sf0001, path)
    val published = Sinks.readKeyedParquet(spark, path)
    assert(published.count() ==
      Tables(spark, Sf0001, "documents").count(),
      "the map must label every document (singletons included)")
    val viaMap = DedupQueries.canonicalDecisionFromMap(spark, Sf0001, path)
    val inline = SparkEntry.queries("dedup_canonical")(spark, Sf0001)
    assert(viaMap.exceptAll(inline).count() == 0 &&
      inline.exceptAll(viaMap).count() == 0,
      "published-map election must equal the inline decision")
    val pipeMap = CurationQueries.pipelineCurateFrom(spark, Sf0001,
      published.select("doc_id", "cluster_id"))
    val pipeInline = SparkEntry.queries("pipeline_curate")(spark, Sf0001)
    assert(pipeMap.exceptAll(pipeInline).count() == 0 &&
      pipeInline.exceptAll(pipeMap).count() == 0,
      "published-map curation must equal the inline pipeline")
  }

  test("subquery_decorr's frame outlives its temp view") {
    // the query function registers a UUID-named temp view, eagerly
    // analyzes, and drops the view in a finally — so the returned frame
    // must stay executable AND re-analyzable (derived plans) after the
    // drop, and no session state may leak. A future engine change to
    // lazier view resolution would fail here, not in a caller.
    val df = SparkEntry.queries("subquery_decorr")(spark, Sf0001)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_orders_")),
      "the per-call temp view must be dropped before the function returns")
    assert(df.count() > 0, "the frame must still execute after dropTempView")
    // a DERIVED plan forces re-analysis of the child — the lazy-resolution
    // failure mode the eager analyze guards against
    assert(df.filter(org.apache.spark.sql.functions.col("o_totalprice") > 0.0)
      .count() > 0, "derived plans must re-analyze after dropTempView")
  }

  test("BottomK aggregator: bounded, distinct, null-safe, partial-agg plan") {
    import graft.functions.BottomK
    val agg = new BottomK(3)
    // reduce keeps the 3 lexicographically smallest DISTINCT strings;
    // duplicates and nulls never grow the buffer
    val buf = Seq("dd", "bb", "dd", null, "aa", "cc", "bb")
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq("aa", "bb", "cc"))
    // merge of two partial buffers = bottom-3 of the distinct union
    val other = Seq("ab", "zz").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(buf, other)) == Seq("aa", "ab", "bb"))
    // the fast path (incoming >= current max on a full buffer) must also
    // reject an exact duplicate of the buffer's last element
    assert(agg.finish(agg.reduce(buf, "cc")) == Seq("aa", "bb", "cc"))

    // the physical plan prunes map-side: partial_bottomk before the
    // exchange (the whole point — no Window funnel on few source keys)
    val plan = SparkEntry.queries("source_overlap")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bottomk"),
      s"expected map-side partial bottom-k:\n$plan")
  }

  test("native cdc_boundary_ends matches the HOF boundary filter bit-for-bit") {
    import graft.queries.CurationQueries.CdcW
    val w = CdcW
    val tv = tokens(col("text"))
    val native = graft.bridge.SparkInternals.column(
      graft.expressions.CdcBoundaryEnds(
        graft.bridge.SparkInternals.expression(tv), w))
    // the pre-native HOF spelling, including its n < w empty-list guard
    // (sequence(w, n) would run DESCENDING there)
    val hof = when(size(tv) >= w,
        filter(sequence(lit(w), size(tv)), i =>
          substring(md5(concat_ws(" ", slice(tv, i - w + 1, lit(w)))), 1, 1) === "0"))
      .otherwise(array().cast("array<int>"))
    val docs = Tables(spark, Sf0001, "documents").filter(col("doc_id").isNotNull)
    val mism = docs.select(native.as("n"), hof.as("h"))
      .filter(not(col("n") <=> col("h")))
    assert(mism.count() == 0)
    // short docs (n < w) take the empty branch in both forms
    import spark.implicits._
    val short = Seq("a b c", "", "one").toDF("text")
      .select(graft.bridge.SparkInternals.column(
        graft.expressions.CdcBoundaryEnds(
          graft.bridge.SparkInternals.expression(tokens(col("text"))), w)).as("e"))
      .collect()
    assert(short.forall(_.getSeq[Int](0).isEmpty))
  }

  test("native winnow_fps matches the HOF sliding-min fingerprints bit-for-bit") {
    import graft.queries.TextAnalysisQueries.WinnowW
    val w = WinnowW
    val tv = tokens(col("text"))
    val native = graft.bridge.SparkInternals.column(
      graft.expressions.WinnowFps(
        graft.bridge.SparkInternals.expression(tv), w))
    // the pre-native HOF spelling, including both degenerate branches
    // (0 < m < w → single global min; m = 0 → empty list)
    val hsExpr = transform(shingles3(tv), t => md5(t))
    val hof = element_at(transform(array(hsExpr), hsv =>
      when(size(hsv) >= w,
        array_distinct(transform(sequence(lit(0), size(hsv) - w),
          i => array_min(slice(hsv, i + 1, lit(w))))))
        .when(size(hsv) > 0, array(array_min(hsv)))
        .otherwise(array().cast("array<string>"))), 1)
    val docs = Tables(spark, Sf0001, "documents").filter(col("doc_id").isNotNull)
    val mism = docs.select(native.as("n"), hof.as("h"))
      .filter(not(col("n") <=> col("h")))
    assert(mism.count() == 0)
    // degenerate branches: < 3 tokens → no shingles → empty; 3..w+1
    // tokens → fewer shingles than the window → exactly one fingerprint
    import spark.implicits._
    val tiny = Seq("", "one", "a b", "a b c", "a b c d e")
      .toDF("text")
      .select(graft.bridge.SparkInternals.column(
        graft.expressions.WinnowFps(
          graft.bridge.SparkInternals.expression(tokens(col("text"))), w)).as("f"))
      .collect()
    assert(tiny.take(3).forall(_.getSeq[String](0).isEmpty))
    assert(tiny.drop(3).forall(_.getSeq[String](0).size == 1))
  }

  test("native line_filter_stats matches the regex line-correction rule bit-for-bit") {
    val native = graft.bridge.SparkInternals.column(
      graft.expressions.LineFilterStats(
        graft.bridge.SparkInternals.expression(col("text"))))
    // the pre-native declarative spelling: split + regex-counted filter +
    // array_join, struct-packed for one-shot comparison
    def nOf(l: Column, keepClass: String): Column =
      length(regexp_replace(l, keepClass, "")).cast("long")
    val lv = split(col("text"), "\n")
    val kept = filter(lv, l => {
      val nAlpha = nOf(l, "[^A-Za-z]")
      length(l) === 0 ||
        (length(l) > 10 && nAlpha > 0 && nOf(l, "[^A-Z]") * 2 <= nAlpha)
    })
    val hof = struct(array_join(kept, "\n").as("text_filtered"),
      size(lv).as("n_lines"), size(kept).as("n_kept"))
    val docs = Tables(spark, Sf0001, "documents").filter(col("doc_id").isNotNull)
    val mism = docs.select(native.as("n"), hof.as("h"))
      .filter(not(col("n") <=> col("h")))
    assert(mism.count() == 0)
    // edge pins: trailing-\n blank line kept (split -1 limit semantics);
    // empty text = one blank line; multi-byte letters count toward
    // length but NOT toward [A-Za-z]/[A-Z]; uppercase-majority dropped;
    // exactly-half uppercase kept (2·upper ≤ alpha)
    import spark.implicits._
    val edges = Seq(
      "ok line here yes\n",               // kept line + kept trailing blank
      "",                                 // one blank line, kept
      "THIS LINE IS ALL UPPERCASE",       // dropped: uppercase-majority
      "AbCdEfGhAbCd",                     // 6 upper / 12 alpha: kept
      "éèêëàâîïôûùüÿç",                   // >10 cps, 0 ASCII alpha: dropped
      "1234567890123",                    // no letters: dropped
      "short"                             // ≤10 cps: dropped
    ).toDF("text")
      .select(graft.bridge.SparkInternals.column(
        graft.expressions.LineFilterStats(
          graft.bridge.SparkInternals.expression(col("text")))).as("f"))
      .select(col("f.text_filtered"), col("f.n_lines"), col("f.n_kept"))
      .collect()
    assert(edges(0).getString(0) == "ok line here yes\n" &&
      edges(0).getInt(1) == 2 && edges(0).getInt(2) == 2)
    assert(edges(1).getString(0) == "" && edges(1).getInt(1) == 1 &&
      edges(1).getInt(2) == 1)
    assert(edges(2).getInt(2) == 0)
    assert(edges(3).getInt(2) == 1)
    assert(edges(4).getInt(2) == 0)
    assert(edges(5).getInt(2) == 0)
    assert(edges(6).getInt(2) == 0)
  }

  test("native gopher gram/line kernels match the explode+groupBy battery bit-for-bit") {
    val docs = Tables(spark, Sf0001, "documents").filter(col("doc_id").isNotNull)
    val Ns = graft.expressions.GopherRepUtil.Widths
    // the pre-native declarative spelling: per-width explode + two-stage
    // aggregation, (doc, n)-keyed — rows exist only where the doc HAS
    // n-grams / non-empty lines (the kernel's all = 0 / n_lines = 0 case)
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val gramsRef = Ns.map { n =>
        tok.select(col("doc_id"), lit(n).as("n"),
          explode(shinglesN(col("t"), n)).as("g"))
      }.reduce(_ unionAll _)
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n").agg(
        sum(col("c") * length(col("g"))).as("all"),
        max(shiftleft(col("c"), 24) + length(col("g"))).as("m"),
        sum(when(col("c") >= 2, col("c") * length(col("g")))
          .otherwise(0L)).as("dup"))
      .select(col("doc_id"), col("n"), col("all"),
        (shiftright(col("m"), 24) *
          col("m").bitwiseAND(lit((1L << 24) - 1))).as("top"), col("dup"))
    val g = graft.bridge.SparkInternals.column(
      graft.expressions.GopherGramStats(
        graft.bridge.SparkInternals.expression(tokens(col("text")))))
    val gramsNat = Ns.map { n =>
        docs.select(col("doc_id"), lit(n).as("n"),
          g.getField(s"all$n").as("all"), g.getField(s"top$n").as("top"),
          g.getField(s"dup$n").as("dup"))
      }.reduce(_ unionAll _)
      .filter(col("all") > 0L)
    assert(gramsNat.exceptAll(gramsRef).isEmpty &&
      gramsRef.exceptAll(gramsNat).isEmpty,
      "gram battery must match the declarative two-stage aggregation exactly")

    val lsRef = docs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("l"))
      .filter(length(col("l")) > 0)
      .groupBy("doc_id", "l").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_lines"),
        sum(when(col("c") >= 2, col("c") - 1).otherwise(0L)).as("dup_lines"),
        sum(col("c") * length(col("l"))).as("line_chars"),
        sum(when(col("c") >= 2, (col("c") - 1) * length(col("l")))
          .otherwise(0L)).as("dup_line_chars"))
    val lsCol = graft.bridge.SparkInternals.column(
      graft.expressions.GopherLineStats(
        graft.bridge.SparkInternals.expression(col("text"))))
    val lsNat = docs.select(col("doc_id"), lsCol.as("ls"))
      .filter(col("ls.n_lines") > 0L)
      .select(col("doc_id"), col("ls.n_lines").as("n_lines"),
        col("ls.dup_lines").as("dup_lines"),
        col("ls.line_chars").as("line_chars"),
        col("ls.dup_line_chars").as("dup_line_chars"))
    assert(lsNat.exceptAll(lsRef).isEmpty && lsRef.exceptAll(lsNat).isEmpty,
      "line battery must match the declarative two-stage aggregation exactly")

    // edge pins: occurrence weighting; max-count-then-max-length top
    // election; code-point (not byte) lengths for multi-byte tokens;
    // < n tokens → all = 0; duplicate-line counts exclude empty lines
    import spark.implicits._
    val rows = Seq(
      "x y x y x y",   // 2-grams: "x y"×3, "y x"×2 → all2=15 top2=9 dup2=15
      "a b ccc",       // 2-grams all c=1: top election picks the LONGEST (len 5)
      "é é é",         // 2-grams "é é"×2, len = 3 CODE POINTS → all2=6
      "one two three", // 3 tokens: no 10-gram → all10 = 0
      "dup\ndup\nuniq\n\n" // lines: dup×2 + uniq → 3/1/10/3
    ).toDF("text").select(
      graft.bridge.SparkInternals.column(graft.expressions.GopherGramStats(
        graft.bridge.SparkInternals.expression(tokens(col("text"))))).as("g"),
      graft.bridge.SparkInternals.column(graft.expressions.GopherLineStats(
        graft.bridge.SparkInternals.expression(col("text")))).as("ls"))
      .select(col("g.all2"), col("g.top2"), col("g.dup2"), col("g.all10"),
        col("ls.n_lines"), col("ls.dup_lines"), col("ls.line_chars"),
        col("ls.dup_line_chars"))
      .collect()
    assert(rows(0).getLong(0) == 15L && rows(0).getLong(1) == 9L &&
      rows(0).getLong(2) == 15L)
    assert(rows(1).getLong(1) == 5L, "top election must break count ties to the longest gram")
    assert(rows(2).getLong(0) == 6L && rows(2).getLong(1) == 6L,
      "gram lengths must count code points, not bytes")
    assert(rows(3).getLong(3) == 0L, "< 10 tokens must surface as all10 = 0")
    assert(rows(4).getLong(4) == 3L && rows(4).getLong(5) == 1L &&
      rows(4).getLong(6) == 10L && rows(4).getLong(7) == 3L)
  }

  test("native gram_multiset_stats matches the explode+groupBy multiset battery bit-for-bit") {
    val docs = Tables(spark, Sf0001, "documents").filter(col("doc_id").isNotNull)
    def natCol(n: Int, withMd5: Boolean) = graft.bridge.SparkInternals.column(
      graft.expressions.GramMultisetStats(
        graft.bridge.SparkInternals.expression(tokens(col("text"))), n, withMd5))
    // n = 3 with md5 (doc_fingerprint's shape) and n = 1 (token
    // multiset), both against the declarative two-stage aggregation —
    // including min(md5(gram)), which pins the kernel's digest hashing
    // and unsigned-byte minimum against Spark's own md5() + string min
    for (n <- Seq(1, 3)) {
      val items =
        if (n == 1) explode(tokens(col("text")))
        else explode(shinglesN(tokens(col("text")), n))
      val ref = docs.select(col("doc_id"), items.as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_items"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_c"), sum(col("c") * col("c")).as("sum_c2"),
          min(md5(col("w"))).as("min_md5"))
      val nat = docs.select(col("doc_id"), natCol(n, withMd5 = true).as("m"))
        .filter(col("m.n_items") > 0L)
        .select(col("doc_id"), col("m.n_items"), col("m.n_distinct"),
          col("m.max_c"), col("m.sum_c2"), col("m.min_md5"))
      assert(nat.exceptAll(ref).isEmpty && ref.exceptAll(nat).isEmpty,
        s"multiset kernel (n=$n) must match the declarative aggregation exactly")
    }
    // schema pin: without md5 the struct has no min_md5 field at all
    assert(!graft.expressions.GramMultisetStats(
      graft.bridge.SparkInternals.expression(col("text")), 3, withMd5 = false)
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("min_md5"))
  }

  test("dedup_winnowing materializes the fingerprint chain once (no re-derivation in-plan)") {
    // the fingerprint frame is localCheckpoint'd at build, so the
    // executed plan must read RDD blocks — if the md5+window chain (or
    // any documents scan) re-appears in the plan, the materialize-once
    // fix has regressed and the chain is being re-evaluated per consumer
    val plan = SparkEntry.queries("dedup_winnowing")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), s"expected checkpointed scan:\n$plan")
    assert(!plan.toLowerCase.contains("parquet"),
      s"fingerprint source re-derived from the table scan:\n$plan")
    graft.operators.Checkpoints.drain()
  }

  test("derived-K semantic kmeans recovers recall above the fixed-K degeneracy point") {
    import graft.queries.{DedupQueries, SimilarityQueries}
    import spark.implicits._
    // The provisioning rule itself: small corpora keep the r8 K=8 (so
    // sf0.01/sf0.001 correctness behavior is IDENTICAL to the fixed-K
    // rounds — the "old pairs ⊆ new pairs" recall statement holds as
    // equality there), larger corpora grow K toward mean cells of
    // MaxBucket/2, and the broadcast bound caps K at 4096.
    assert(SimilarityQueries.kmeansK(20) == 8)
    assert(SimilarityQueries.kmeansK(200) == 8)     // sf0.01: unchanged
    assert(SimilarityQueries.kmeansK(2000) == 40)   // sf0.1: was 8, all-hot
    assert(SimilarityQueries.kmeansK(100000000L) == 4096)

    // A corpus ABOVE the fixed-K degeneracy threshold (K·MaxBucket = 800
    // vectors): 600 distinct base directions × 2 exact copies each. Under
    // the old K=8 every cell held ~150 > MaxBucket members, so the
    // operator emitted ZERO pairs (the r9 measured no-op); with derived
    // K = ceil(1200/50) = 24 typical cells clear the cap and the copy
    // pairs (cosine 1.0) surface.
    val dir = java.nio.file.Files.createTempDirectory("graft-kmrecall").toString
    val dim = 8
    def base(i: Int): Seq[Float] =
      (0 until dim).map(j => math.sin(1.0 + i * (j + 1)).toFloat)
    (0 until 1200).map { id =>
      (id.toLong, base(id % 600), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(dir + "/embeddings.parquet")
    (0 until 1200).map(id => (id.toLong, s"synthetic doc $id", "en", "synth", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")

    val pairs = DedupQueries.kmeansSemanticPairs(spark, dir)
    assert(pairs.count() > 0,
      "derived-K kmeans cells must emit the exact-copy pairs this corpus plants")
  }

  test("checkpoints carry measured stats; digits stay bounded through an iterated join chain") {
    // The round-11 driver-stall defect: stock localCheckpoint carries the
    // ESTIMATED stats of the checkpointed plan into the new LogicalRDD
    // leaf, and the size-only join estimator multiplies sizeInBytes — so
    // a checkpoint-join-checkpoint loop doubles the carried BigInt's
    // digit count per round until the driver main thread spends minutes
    // in million-digit BigInteger.multiply (observed live at sf10:
    // load ~1, all executors idle). Checkpoints.fresh must (a) expose
    // MEASURED stats — block-store bytes and exact rowCount — and (b)
    // therefore keep stats digits FLAT through the same loop shape.
    import spark.implicits._
    val base = graft.operators.Checkpoints.fresh(
      (1 to 200).toDF("id").select(col("id"), (col("id") % 7).as("k")))
    val stats0 = base.queryExecution.optimizedPlan.stats
    assert(stats0.rowCount.contains(BigInt(200)), "rowCount must be the measured count")
    assert(stats0.sizeInBytes > 0 && stats0.sizeInBytes < BigInt(10L * 1024 * 1024),
      s"sizeInBytes must be measured block bytes, got ${stats0.sizeInBytes}")
    var labels = base
    (1 to 12).foreach { _ =>
      val j = labels.as("a").join(labels.as("b"), col("a.k") === col("b.k"))
        .groupBy(col("a.id").as("id")).agg(min(col("b.k")).as("k"))
      val next = graft.operators.Checkpoints.fresh(j)
      graft.operators.Checkpoints.free(labels)
      labels = next
    }
    val statsN = labels.queryExecution.optimizedPlan.stats
    // stock carry-over after 12 self-join rounds reaches ~2^12× the
    // starting digit count; measured stats stay at true block size
    assert(statsN.sizeInBytes < BigInt(10L * 1024 * 1024),
      s"stats grew through the checkpoint chain: ${statsN.sizeInBytes.toString.length} digits")
    assert(statsN.rowCount.exists(_ > 0))
    graft.operators.Checkpoints.free(labels)
  }

  test("cluster labeling stays logarithmic on a bridge-chain graph (Shiloach-Vishkin)") {
    // The round-11 sf10 regression in miniature: a CHAIN of cliques
    // joined by single bridge edges. Vertex-level min-label hooks move
    // the global min one bridge per round (frontier crawl — the
    // pre-rewrite loop measured 43 rounds at sf10 and blew its 32-round
    // bound); root-level hooks + contraction merge whole trees, so this
    // 256-clique chain labels in ~log2(256) outer rounds. If the loop
    // ever regresses to frontier behavior, the 64-round loud-failure
    // require fires here — a test failure, not an sf10 bench surprise.
    import spark.implicits._
    val cliques = 256
    val m = 4 // members per clique; vertex ids 1-based
    val intra = for {
      c <- 0 until cliques; a <- 0 until m; b <- a + 1 until m
    } yield ((c * m + a + 1).toLong, (c * m + b + 1).toLong)
    val bridges = (0 until cliques - 1)
      .map(c => ((c * m + m).toLong, ((c + 1) * m + 1).toLong))
    val edges = (intra ++ bridges).toDF("d1", "d2")
    val docs = (1 to cliques * m).map(_.toLong).toDF("doc_id")
    val labeled = queries.DedupQueries.clusterLabelsFromEdges(docs, edges)
      .collect()
    assert(labeled.length == cliques * m)
    assert(labeled.forall(_.getLong(1) == 1L),
      "every vertex of the single chain component must label to the min id")
    assert(labeled.forall(_.getLong(2) == (cliques * m).toLong))
    graft.operators.Checkpoints.drain()
  }

  test("corpus-scaled checkpoints store serialized (MEMORY_AND_DISK_SER)") {
    // the storage policy the 100-TB posture depends on: a corpus-scaled
    // materialization must NOT sit on the executor heaps as deserialized
    // java objects (r10 VERDICT "What's wrong #3") — pin the level so a
    // refactor back to plain localCheckpoint() fails here
    import spark.implicits._
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val df = graft.operators.Checkpoints.corpusScaled(
      (1 to 100).toDF("n").select(col("n"), md5(col("n").cast("string")).as("h")))
    assert(df.count() == 100)
    val info = spark.sparkContext.getRDDStorageInfo
      .filter(i => !before.contains(i.id) && i.numCachedPartitions > 0)
    assert(info.nonEmpty, "corpusScaled produced no cached blocks")
    info.foreach { i =>
      assert(i.storageLevel.useMemory && i.storageLevel.useDisk &&
        !i.storageLevel.deserialized,
        s"expected MEMORY_AND_DISK_SER, got ${i.storageLevel} for RDD ${i.id}")
    }
    graft.operators.Checkpoints.free(df)
  }
}
