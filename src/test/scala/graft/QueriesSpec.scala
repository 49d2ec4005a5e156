package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query runs at sf0.001 and satisfies cheap invariants.
  * Exact value parity with DuckDB is the driver's gate (and replicated
  * locally by tools/oracle_check.py); these specs guard plan validity,
  * schema stability, and cross-query consistency.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  test("every declared query executes and is non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf0001).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("wordcount total equals exploded token count") {
    val docs = Tables(spark, Sf0001, "documents")
    val tokenCount = docs
      .select(explode(tokens(cleanLine(col("text")))).as("w")).count()
    val sumCounts = SparkEntry.queries("wordcount")(spark, Sf0001)
      .agg(sum("cnt")).head().getLong(0)
    assert(sumCounts == tokenCount)
  }

  test("inverted index: docs listed for a word actually contain it") {
    val docs = Tables(spark, Sf0001, "documents")
    // `docs` is a comma-joined STRING (driver-hashable form) — split it back
    val idx = SparkEntry.queries("inverted_index")(spark, Sf0001)
      .filter(col("word") === "spark")
      .select(explode(split(col("docs"), ",")).as("d"))
      .select(col("d").cast("long").as("doc_id"))
    val expected = docs
      .filter(array_contains(tokens(cleanLine(col("text"))), "spark"))
      .select(col("doc_id").cast("long").as("doc_id"))
    assert(idx.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(idx).count() == 0)
  }

  test("reduce-UDF wordcount equals built-in wordcount") {
    val viaUdaf = SparkEntry.queries("reduce_udaf")(spark, Sf0001)
    val builtin = SparkEntry.queries("wordcount")(spark, Sf0001)
    assert(viaUdaf.exceptAll(builtin).count() == 0)
    assert(builtin.exceptAll(viaUdaf).count() == 0)
  }

  test("tokenless document degrades to NULL ratios instead of crashing") {
    // the pipeline-level regression for the ANSI fix: a punctuation-only
    // doc has zero tokens, so stopword_ratio divides by zero — must yield
    // NULL (matching the oracle), not SparkArithmeticException
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    Seq((1L, "!!! ???", "en", "synth", 7L),
        (2L, "real words appear here", "en", "synth", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("text_quality")(spark, dir).collect()
    assert(rows.length == 2)
    val tokenless = rows.find(_.getLong(0) == 1L).get
    assert(tokenless.isNullAt(tokenless.fieldIndex("stopword_ratio")))
    assert(!rows.find(_.getLong(0) == 2L).get.isNullAt(
      rows.head.fieldIndex("stopword_ratio")))
  }

  test("dedup_containment flags the quote Jaccard is blind to") {
    // doc 1 (10 shingles) is quoted verbatim at the head of doc 2 (70
    // shingles): J = 10/70 ≈ 0.14 < 0.2, so the symmetric form emits no
    // pair — containment(1 in 2) = 10/10 = 1.0 flags it
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val junk = (1 to 60).map(i => s"j$i").mkString(" ")
    Seq((1L, quote, "en", "synth", 0L),
        (2L, s"$quote $junk", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    assert(SparkEntry.queries("dedup_ngram_jaccard")(spark, dir).count() == 0,
      "the symmetric form must NOT pair a small quote with a large container")
    val rows = SparkEntry.queries("dedup_containment")(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.toSeq == Seq((1L, 2L, 10L, 10L, 1.0)),
      s"exactly the contained->container direction must flag; got ${rows.toSeq}")
  }

  test("source_overlap: sketch Jaccard is exact below k, bounded above it") {
    // sets smaller than SketchK are held in full, so n_common/n_k is the
    // EXACT Jaccard: identical sources → 1, disjoint → 0, half-shared →
    // 1/2. A >k source proves the bound: n_k caps at SketchK (256).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-srcov").toString
    val tA = (1 to 12).map(i => s"t$i").mkString(" ")   // 10 shingles
    val tC = (1 to 12).map(i => s"u$i").mkString(" ")   // 10 disjoint
    val tD2 = (1 to 12).map(i => s"v$i").mkString(" ")  // 10 disjoint
    val tE = (1 to 300).map(i => s"w$i").mkString(" ")  // 298 > SketchK
    Seq((1L, tA, "en", "a", 0L), (2L, tA, "en", "b", 0L),
        (3L, tC, "en", "c", 0L), (4L, tA, "en", "d", 0L),
        (5L, tD2, "en", "d", 0L), (6L, tE, "en", "e", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("source_overlap")(spark, dir)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(rows.size == 10, s"5 sources -> 10 pairs; got ${rows.keySet}")
    assert(rows(("a", "b")) == (10L, 10L), "identical sources: J = 1")
    assert(rows(("a", "c")) == (20L, 0L), "disjoint sources: J = 0")
    assert(rows(("a", "d")) == (20L, 10L), "half-shared: J = 10/20")
    assert(rows(("a", "e"))._1 == 256L, "union sketch must cap at SketchK")
    assert(rows(("a", "e"))._2 == 0L)
  }

  test("ngram_novelty: re-crawled text scores 0, edited continuation partial") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-novel").toString
    Seq((1L, "n1 n2 n3 n4 n5", "en", "synth", 0L),  // 3 shingles, all first
        (2L, "n1 n2 n3 n4 n5", "en", "synth", 0L),  // exact re-crawl
        (3L, "n3 n4 n5 n6 n7", "en", "synth", 0L))  // 1 seen + 2 new
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("ngram_novelty")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(rows(1L) == (3L, 3L, 1.0), "first occurrence: fully novel")
    assert(rows(2L) == (3L, 0L, 0.0), "exact re-crawl: zero novelty")
    assert(rows(3L) == (3L, 2L, 2.0 / 3.0), "one shingle already seen")
  }

  test("gopher_quality: each gate fires on the crafted doc built to trip it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gq").toString
    val words48 = (1 to 48).map(i => s"word$i").mkString(" ")
    val bulletLines = (1 to 10).map(_ => "- the and word1 word2 word3").mkString("\n")
    val ellLines = ((1 to 4).map(_ => "the and word1 word2 word3...") ++
      (1 to 6).map(_ => "the and word1 word2 word3")).mkString("\n")
    val hashes = (1 to 10).map(_ => "#").mkString(" ")
    Seq(
      (1L, s"the and $words48", "en", "synth", 0L),              // all gates pass
      (2L, "the and word", "en", "synth", 0L),                   // word count < 50
      (3L, bulletLines, "en", "synth", 0L),                      // 100% bullet lines
      (4L, ellLines, "en", "synth", 0L),                         // 40% ellipsis lines
      (5L, s"the and $words48 $hashes", "en", "synth", 0L),      // symbol ratio
      (6L, (1 to 50).map(i => s"word$i").mkString(" "), "en", "synth", 0L)) // no stops
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("gopher_quality")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows(1L)._10, "well-formed prose must pass every gate")
    assert(rows(1L)._2 == 50L && rows(1L)._9 == 2L, "50 tokens, 2 distinct stops")
    assert(!rows(2L)._10, "11-char doc fails the word-count gate")
    assert(!rows(3L)._10 && rows(3L)._6 == 10L, "all-bullet doc drops")
    assert(!rows(4L)._10 && rows(4L)._7 == 4L, "4/10 ellipsis-ended lines drop")
    assert(!rows(5L)._10 && rows(5L)._4 == 10L, "10 '#' against 60 words drops")
    assert(!rows(6L)._10 && rows(6L)._9 == 0L, "zero mandatory stopwords drops")
  }

  test("gopher_repetition: exact fractions on crafted repetition shapes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gr").toString
    val distinct10 = ('a' to 'j').map(_.toString).mkString(" ") // no repetition
    val line = (1 to 10).map(i => s"x$i").mkString(" ")
    val alt = (1 to 6).flatMap(_ => Seq("r", "s")).mkString(" ") // r s r s ...
    Seq((1L, distinct10, "en", "synth", 0L),
        (2L, s"$line\n$line\n$line", "en", "synth", 0L),          // 3 identical lines
        (3L, alt, "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("gopher_repetition")(spark, dir)
      .as[(Long, Long, Double, Double, Double, Double, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: every n-gram unique — top-n = 1/(#grams), zero dup mass
    assert(rows(1L)._5 == 3.0 / 27 && rows(1L)._8 == 0.0 && rows(1L)._10,
      s"unique-gram doc must pass with top2 = 1/9; got ${rows(1L)}")
    // doc 2: 3 identical non-empty lines -> dup_line_frac 2/3, drops
    assert(rows(2L)._3 == 2.0 / 3 && !rows(2L)._10,
      s"triplicated line must yield dup_line_frac 2/3; got ${rows(2L)}")
    // doc 3: 'r s' x6 of 11 bigrams -> top2 18/33; all 5-grams duplicated
    assert(rows(3L)._5 == 18.0 / 33 && rows(3L)._8 == 1.0 && !rows(3L)._10,
      s"alternating spam must concentrate top2 and saturate dup5; got ${rows(3L)}")
  }

  test("source_stats: integer component sums and their one-division ratios") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ss").toString
    Seq((1L, "the cat", "en", "a", 0L),   // 2 toks, 7 ch, 6 alpha, 1 stop
        (2L, "und oder", "de", "a", 0L),  // 2 toks, 8 ch, 7 alpha, 1 stop
        (3L, "zz", "en", "b", 0L))        // 1 tok, 2 ch, 2 alpha, 0 stop
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = SparkEntry.queries("source_stats")(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows("a") == (("a", 2L, 2L, 4L, 15L, 13L, 2L, 13.0 / 15, 0.5, 2.0)),
      s"source a sums/ratios; got ${rows("a")}")
    assert(rows("b") == (("b", 1L, 1L, 1L, 2L, 2L, 0L, 1.0, 0.0, 1.0)),
      s"source b sums/ratios; got ${rows("b")}")
  }

  test("ngram-jaccard hot-shingle cap fires: a df>100 shingle creates no pairs") {
    // 120 docs share exactly one shingle ("xx yy zz", df=120 > MaxShingleDf);
    // every other shingle is unique per doc. With the cap, the hot bucket is
    // dropped BEFORE the self-join and no pairs survive; without it, every
    // doc pair would emit (jaccard = 1/(3+3-1) = 0.2 >= threshold -> 7140
    // rows and an O(n^2) bucket)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hot").toString
    (0 until 120).map(i => (i.toLong, s"xx yy zz a$i b$i", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    assert(SparkEntry.queries("dedup_ngram_jaccard")(spark, dir).count() == 0,
      "hot-shingle bucket must be dropped before the self-join")
  }

  test("simhash-pairs hot-band cap fires: a 110-doc band bucket yields no pairs") {
    // 110 docs share text T1 (identical simhash S1 → every S1 band bucket
    // has 110 > MaxBucket members); one doc has T1 plus an extra token
    // chosen so hamming(S1, S2) ∈ [1,3] (self-validated below), which by
    // pigeonhole shares ≥ 1 band with S1. Uncapped, that doc would emit
    // 110 Hamming-1..3 pairs through the hot band; with the cap the hot
    // buckets are dropped before the self-join and nothing survives.
    import spark.implicits._
    val t1 = (0 until 60).map(i => f"w$i%02d").mkString(" ")
    val t2 = t1 + " aac"
    val dir = java.nio.file.Files.createTempDirectory("graft-hotband").toString
    ((0 until 110).map(i => (i.toLong, t1, "en", "synth", 0L)) :+
        (110L, t2, "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    // premise check: the two distinct signatures really are Hamming 1..3
    val sigs = SparkEntry.queries("dedup_simhash")(spark, dir)
      .select("simhash").distinct().as[String].collect()
    assert(sigs.length == 2)
    val hamming = sigs(0).zip(sigs(1)).count { case (a, b) => a != b }
    assert(hamming >= 1 && hamming <= 3, s"crafted pair drifted: hamming=$hamming")
    assert(SparkEntry.queries("dedup_simhash_pairs")(spark, dir).count() == 0,
      "hot band buckets must be dropped before the self-join")
  }

  test("minhash-lsh hot-band cap fires: 110 identical docs yield no pairs; cold pair survives") {
    // 110 copies of T1: identical shingle sets → identical minhash
    // signatures → identical band values, so every T1 band bucket has
    // 110 > MaxBucket members — a duplicate CLASS collapsing into one
    // bucket per band, the exact mirror-spam shape that uncapped goes
    // O(dupes²) (110·109/2 · 4 bands ≈ 24k join rows). With the cap all
    // hot buckets are dropped before the self-join. Two copies of T2 form
    // a 2-member cold bucket and must still emerge as a pair (est_jaccard
    // = 1.0), proving the cap drops buckets, not the operator.
    import spark.implicits._
    val t1 = (0 until 20).map(i => f"aa$i%02d").mkString(" ")
    val t2 = (0 until 20).map(i => f"zz$i%02d").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-hotmh").toString
    ((0 until 110).map(i => (i.toLong, t1, "en", "synth", 0L)) ++
        Seq((200L, t2, "en", "synth", 0L), (201L, t2, "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((200L, 201L)),
      s"hot band buckets must be dropped before the self-join; got $pairs")
  }

  test("dedup_clusters equals an independent union-find over the pair graph; chains propagate") {
    import spark.implicits._
    // independent algorithm cross-check at sf0.001: Scala union-find over
    // the emitted pairs must produce the same components as the iterative
    // min-label propagation (and the oracle's recursive closure)
    val pairs = SparkEntry.queries("dedup_simhash_pairs")(spark, Sf0001)
      .select("d1", "d2").as[(Long, Long)].collect()
    val docs = Tables(spark, Sf0001, "documents")
      .select("doc_id").as[Long].collect()
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.map(d => d -> find(d)).toMap
    val got = SparkEntry.queries("dedup_clusters")(spark, Sf0001)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == expected, "components must match an independent union-find")

    // crafted transitive chain: B is within Hamming 3 of both A and C,
    // but A and C are farther apart — the cluster {A,B,C} only forms if
    // the label propagates THROUGH B (multi-round convergence)
    val t1 = (0 until 60).map(i => f"w$i%02d").mkString(" ")
    def corpusFor(extra: String) = Seq(
      (1L, t1, "en", "synth", 0L), (2L, t1 + " aac", "en", "synth", 0L),
      (3L, t1 + " aac " + extra, "en", "synth", 0L))
    val candidates = Seq("aaa", "aab", "aad", "aae", "aaf", "aag", "aah", "aai",
      "aaj", "aak", "aal", "aam", "aan", "aao", "aap", "aaq", "aar", "aas")
    val chain = candidates.view.map { extra =>
      val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
      corpusFor(extra).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir + "/documents.parquet")
      val es = SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      (dir, es)
    }.find { case (_, es) =>
      es.contains((1L, 2L)) && es.contains((2L, 3L)) && !es.contains((1L, 3L))
    }
    assert(chain.nonEmpty, "no candidate token produced an A-B-C chain; widen the list")
    val clusters = SparkEntry.queries("dedup_clusters")(spark, chain.get._1)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(clusters == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)),
      s"chain must collapse into one cluster via B; got $clusters")
  }

  test("dedup_canonical folds exact dups into one class and keeps the quality argmax") {
    import spark.implicits._
    // docs 1 and 2 are IDENTICAL (Hamming 0 — invisible to dedup_clusters'
    // 1..3 pair graph, so it would leave them as two singleton clusters);
    // doc 3 is within Hamming 1..3 of them (premise-checked in the
    // dedup_clusters chain test with the same strings); doc 9 is unrelated.
    // The keep/drop decision must elect exactly ONE canon for the 3-member
    // class {1,2,3}, and it must be the class's quality argmax.
    val t1 = (0 until 60).map(i => f"w$i%02d").mkString(" ")
    val t2 = t1 + " aac"
    val dir = java.nio.file.Files.createTempDirectory("graft-canon").toString
    Seq((1L, t1, "en", "synth", 0L), (2L, t1, "en", "synth", 0L),
        (3L, t2, "en", "synth", 0L),
        (9L, "the quick brown fox jumps over a lazy dog", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("dedup_canonical")(spark, dir)
      .select("doc_id", "cluster_id", "canon_id", "keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 9L))
    // one class {1,2,3} labeled by its min member, one singleton {9}
    assert(out.filter(_._1 != 9L).map(_._2).toSet == Set(1L))
    assert(out.find(_._1 == 9L).get._2 == 9L)
    // keep <=> doc_id == canon_id, and exactly one keeper per cluster
    out.foreach { case (id, _, canon, keep) => assert(keep == (id == canon)) }
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.count(_._4) == 1, s"cluster $c must keep exactly one doc")
      assert(rows.map(_._3).toSet.size == 1, s"cluster $c members must agree on the canon")
    }
    // the elected canon is the quality argmax (ties to smallest doc_id)
    val quality = SparkEntry.queries("text_quality")(spark, dir)
      .select("doc_id", "quality").as[(Long, Option[Double])].collect()
      .map { case (id, q) => id -> q.getOrElse(-1.0) }.toMap
    val expected = Seq(1L, 2L, 3L).minBy(id => (-quality(id), id))
    assert(out.filter(_._1 != 9L).head._3 == expected,
      s"canon must be the quality argmax $expected")
  }

  test("embedding/ann_lsh hot-bucket caps fire; cold buckets still match") {
    // 120 vectors share one sign bucket (all dims positive, label 0) →
    // bucket size 120 > MaxBucket → dropped in both dedup_embedding
    // (label × 8-bit bkt) and ann_lsh (16-bit bucket). Two vectors with a
    // negative first dim form a 2-member cold bucket and must survive as
    // each other's nearest neighbor.
    import spark.implicits._
    def vec(first: Float, seed: Int): Array[Float] =
      first +: Array.tabulate(15)(d => 1.0f + 0.001f * (seed * 16 + d))
    val rows = (0 until 120).map(i => (i.toLong, vec(1.0f, i), 0)) ++
      Seq((200L, vec(-1.0f, 200), 0), (201L, vec(-1.0f, 201), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft-hotvec").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    val emb = SparkEntry.queries("dedup_embedding")(spark, dir)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(emb == Set((200L, 201L), (201L, 200L)),
      s"hot (label, bkt) bucket must be dropped; got $emb")
    val lsh = SparkEntry.queries("ann_lsh")(spark, dir)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(lsh == Set((200L, 201L), (201L, 200L)),
      s"hot sign bucket must be dropped; got $lsh")
  }

  test("dedup_semantic drops the lower TEXT-quality side of an embedding-duplicate pair") {
    import spark.implicits._
    // vectors 1 and 2 are near-parallel (cosine ~1) in label 0; vectors
    // 3 and 4 likewise in label 1. Doc 1 is real prose (high quality),
    // doc 2 is digit soup (low quality) -> the pair must drop 2. Docs 3
    // and 4 have IDENTICAL text -> quality ties, drop the larger id.
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => 1.0f + 0.001f * (seed * 16 + d))
    val dir = java.nio.file.Files.createTempDirectory("graft-sem").toString
    Seq((1L, vec(1), 0), (2L, vec(2), 0), (3L, vec(3), 1), (4L, vec(4), 1))
      .toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "synth", 0L),
      (2L, "7 3 9 1 4 4 2 8", "en", "synth", 0L),
      (3L, "same words exactly", "en", "synth", 0L),
      (4L, "same words exactly", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("dedup_semantic")(spark, dir)
      .select("d1", "d2", "drop_id").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 2L), (3L, 4L, 4L)),
      s"cross-modal election must drop the low-quality / larger-id side; got $out")
  }

  test("multi-probe LSH recovers neighbors that straddle one table's hyperplane") {
    // A and B differ ONLY in dimension 1's sign: the single-table ann_lsh
    // (dims 1-16) puts them in different singleton buckets and finds no
    // pairs; the multi-probe form still collides them in the three tables
    // over dims 17-64.
    import spark.implicits._
    def vec(first: Float): Array[Float] =
      first +: Array.tabulate(63)(d => 1.0f + 0.01f * d)
    val dir = java.nio.file.Files.createTempDirectory("graft-straddle").toString
    Seq((1L, vec(1.0f), 0), (2L, vec(-1.0f), 0))
      .toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    assert(SparkEntry.queries("ann_lsh")(spark, dir).count() == 0,
      "single-table LSH must miss the straddling pair (that's the trade)")
    val mp = SparkEntry.queries("ann_lsh_multiprobe")(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(mp == Set((1L, 2L), (2L, 1L)), s"multi-probe must recover it; got $mp")
  }

  test("ann_ivf_nprobe recovers a neighbor in the adjacent cell single-cell IVF misses") {
    import spark.implicits._
    // query 0 lives in cell 0 but its TRUE nearest neighbor (vec 1) sits
    // in cell 1; cell 0's only other member (vec 2) is nearly orthogonal.
    // Cell representatives are the min-vec_id vectors: cell 0's rep is the
    // query itself (csim 1.0), cell 1's rep is vec 1 (csim ≈ 0.999) — so
    // nprobe=2 searches both cells and finds vec 1, while single-cell
    // ann_ivf stays inside cell 0 and has to return vec 2.
    val dir = java.nio.file.Files.createTempDirectory("graft-nprobe").toString
    Seq(
      (0L, Array(1.0f, 0.10f), 0), // the query, cell 0
      (1L, Array(1.0f, 0.05f), 1), // true NN, across the boundary in cell 1
      (2L, Array(0.1f, 1.0f), 0), // cell 0's only other member, far
      (3L, Array(-1.0f, 0.5f), 1)) // cell 1 filler
      .toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    def rank1(q: String) = SparkEntry.queries(q)(spark, dir)
      .filter(col("qid") === 0 && col("rank") === 1)
      .select("nn_id").as[Long].collect().toSeq
    assert(rank1("ann_ivf") == Seq(2L),
      "single-cell IVF must stay inside cell 0 (that's the trade)")
    assert(rank1("ann_ivf_nprobe") == Seq(1L),
      "nprobe=2 must recover the cross-boundary neighbor from cell 1")
  }

  test("doc_chunks: stride/window geometry, tail kept, chunks reassemble the doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chunks").toString
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val exactFit = (1 to 32).map(i => s"x$i").mkString(" ")
    Seq((1L, text, "en", "synth", 0L), (2L, "", "en", "synth", 0L),
        (3L, exactFit, "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val all = SparkEntry.queries("doc_chunks")(spark, dir)
      .select("doc_id", "chunk_id", "chunk", "n_tokens")
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    // a doc that fits one window gets exactly ONE chunk — ceil(n/stride)
    // would emit a second chunk that is a strict subset of the first
    assert(all.count(_._1 == 3L) == 1, "exact-fit doc must not grow a redundant tail chunk")
    val rows = all.filter(_._1 == 1L)
    // empty doc -> no chunks; 60 tokens, window 32 stride 24 -> 3 chunks
    assert(rows.length == 3 && !all.exists(_._1 == 2L))
    assert(rows.map(_._4).toSeq == Seq(32, 32, 12), "window fills, tail keeps the remainder")
    assert(rows(0)._3.startsWith("w1 w2 ") && rows(2)._3.endsWith(" w60"))
    // consecutive chunks overlap by window - stride = 8 tokens
    val (c0, c1) = (rows(0)._3.split(" "), rows(1)._3.split(" "))
    assert(c0.takeRight(8).sameElements(c1.take(8)))
    // stride-spaced prefixes reassemble the document exactly
    val reassembled = rows.map(_._3.split(" ").take(24)).flatten
      .take(60 - 12) ++ rows.last._3.split(" ")
    assert(reassembled.length >= 60 && (1 to 60).map(i => s"w$i").forall(reassembled.contains))
  }

  test("curation_topk agrees with the quality ranking and plans map-side") {
    import spark.implicits._
    val top = SparkEntry.queries("curation_topk")(spark, Sf0001)
      .select("lang", "rank", "doc_id").as[(String, Int, Long)].collect()
    // rank-1 of each stratum must be that stratum's argmax in text_quality
    val quality = SparkEntry.queries("text_quality")(spark, Sf0001)
      .select("doc_id", "quality").as[(Long, Option[Double])].collect()
      .collect { case (id, Some(q)) => id -> q }.toMap
    val langOf = Tables(spark, Sf0001, "documents")
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    top.filter(_._2 == 1).foreach { case (lang, _, docId) =>
      val best = quality.filter { case (id, _) => langOf(id) == lang }
        .minBy { case (id, q) => (-q, id) }._1
      assert(docId == best, s"rank-1 of $lang must be the quality argmax")
    }
    val plan = SparkEntry.queries("curation_topk")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk"),
      s"curation must prune map-side like the ANN queries:\n$plan")
  }

  test("decontaminate flags a train doc sharing an 8-gram with the held-out split") {
    import spark.implicits._
    // split membership is md5(doc_id) (sample_split's rule): doc 0 ("cf")
    // lands in the held-out split, docs 1 ("c4") and 2 ("c81e") in train
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    Seq(
      (0L, shared, "en", "synth", 0L), // held-out
      (1L, s"lead $shared tail", "en", "synth", 0L), // train, contains the 8-gram
      (2L, "one two three four five six seven eight nine", "en", "synth", 0L)) // train, clean
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val df = SparkEntry.queries("decontaminate")(spark, dir)
    val out = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L), "held-out docs must not appear in the output")
    assert(out(1L) == (1L, true), "the overlapping train doc must be flagged")
    assert(out(2L) == (0L, false), "the clean train doc must pass")
    // the probe join is unhinted (a broadcast() hint would ship the
    // held-out slice even when corpus-sized); with a benchmark-sized
    // held-out side AQE's runtime size check must turn it into a
    // broadcast probe on its own. The published query scans the
    // session-cached flags checkpoint (its visible plan is a block
    // scan), so the join-shape assertion drives the GENERATOR plan —
    // collected, because count()/fresh plans stay isFinalPlan=false
    val gen = graft.queries.CurationQueries.decontaminationFlagsPlan(spark, dir)
    gen.collect()
    val plan = gen.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE should broadcast the benchmark-sized held-out shingles:\n$plan")
  }

  test("text_scrub_pii redacts phones and IPv4s and counts them on the original text") {
    import spark.implicits._
    // the synthetic corpus carries no PII, so the crafted fixture is the
    // only place the rule fires: E.164 and US-dashed phones, an IPv4,
    // and near-misses that must NOT match (a 6-digit +number is too
    // short for E.164's 7; a dotted triplet with an alpha octet is not
    // an IPv4)
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    Seq(
      (0L, "call +14155551234 or 415-555-1234 now", "en", "synth", 0L),
      (1L, "server at 10.0.42.7 answered", "en", "synth", 0L),
      (2L, "ref +12345 and v1.2.3.x stay", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("text_scrub_pii")(spark, dir)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, "call <PHONE> or <PHONE> now", 2, 0),
      s"both phone spellings must redact; got ${out(0L)}")
    assert(out(1L) == (1L, "server at <IP> answered", 0, 1),
      s"the IPv4 must redact; got ${out(1L)}")
    assert(out(2L) == (2L, "ref +12345 and v1.2.3.x stay", 0, 0),
      s"near-misses must pass through untouched; got ${out(2L)}")
  }

  test("doc_chunks_cdc matches the from-first-principles model and realigns after an insertion") {
    import spark.implicits._
    // the full boundary algorithm recomputed in-test (the md5-fixture
    // idiom): boundary at token i iff md5 of the 4-token window ending
    // at i starts with '0', final boundary at n. doc 1 inserts ONE
    // token at the front of doc 0's text — the content-defined property
    // under test is that both chunkings share identical chunk texts
    // from the first post-insertion boundary onward (a fixed-stride
    // chunking of the same pair shares none). doc 2 is shorter than the
    // window (single chunk); doc 3 is empty (no rows).
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def cdc(toks: Seq[String]): Seq[(Int, String, Int)] = {
      val n = toks.length
      val he = (4 to n).filter(i =>
        md5hex(toks.slice(i - 4, i).mkString(" ")).startsWith("0"))
      val ends =
        if (n == 0) Seq.empty[Int]
        else if (he.nonEmpty && he.last == n) he else he :+ n
      ends.zipWithIndex.map { case (e, j) =>
        val s0 = if (j == 0) 1 else ends(j - 1) + 1
        (j, toks.slice(s0 - 1, e).mkString(" "), e - s0 + 1)
      }
    }
    val base = (0 until 160).map(i => "w" + i)
    val (m0, m1) = (cdc(base), cdc("ins" +: base))
    val shared = m0.map(_._2).toSet & m1.map(_._2).toSet
    require(m0.size >= 3 && shared.nonEmpty,
      s"fixture must produce multiple chunks with post-insertion realignment; got ${m0.size} chunks, ${shared.size} shared")
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    Seq((0L, base.mkString(" "), "en", "synth", 0L),
        (1L, ("ins" +: base).mkString(" "), "en", "synth", 0L),
        (2L, "a b", "en", "synth", 0L),
        (3L, "", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("doc_chunks_cdc")(spark, dir)
      .as[(Long, Int, String, Int)].collect()
    def of(id: Long) = out.filter(_._1 == id).sortBy(_._2)
      .map(r => (r._2, r._3, r._4)).toSeq
    assert(of(0L) == m0, s"doc 0 must match the in-test model; got ${of(0L)}")
    assert(of(1L) == m1, s"doc 1 must match the in-test model; got ${of(1L)}")
    assert(of(2L) == Seq((0, "a b", 2)),
      s"a doc shorter than the window is one chunk; got ${of(2L)}")
    assert(of(3L).isEmpty, "an empty doc emits no chunks")
    val sparkShared = of(0L).map(_._2).toSet & of(1L).map(_._2).toSet
    assert(sparkShared == shared,
      s"post-insertion chunks must realign (content-defined boundaries); got ${sparkShared.size} shared vs model ${shared.size}")
  }

  test("dedup_chunk_cdc recognizes the unchanged remainder of an edited re-crawl") {
    import spark.implicits._
    // doc 1 is doc 0 re-crawled with ONE token inserted at the front —
    // the edit that makes every FIXED-window chunk hash differ. Under
    // CDC boundaries the chunks realign, so each chunk text the two
    // docs share must collapse into an n_copies=2 group whose canon is
    // the doc-0 copy, and every unshared chunk stays n_copies=1. The
    // shared set is recomputed in-test with the same model as the
    // doc_chunks_cdc spec.
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def cdcTexts(toks: Seq[String]): Seq[String] = {
      val n = toks.length
      val he = (4 to n).filter(i =>
        md5hex(toks.slice(i - 4, i).mkString(" ")).startsWith("0"))
      val ends = if (he.nonEmpty && he.last == n) he else he :+ n
      ends.zipWithIndex.map { case (e, j) =>
        toks.slice(if (j == 0) 0 else ends(j - 1), e).mkString(" ")
      }
    }
    val base = (0 until 160).map(i => "w" + i)
    val shared = cdcTexts(base).toSet & cdcTexts("ins" +: base).toSet
    require(shared.nonEmpty, "fixture must realign after the insertion")
    val sharedHashes = shared.map(md5hex)
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-dedup").toString
    Seq((0L, base.mkString(" "), "en", "synth", 0L),
        (1L, ("ins" +: base).mkString(" "), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("dedup_chunk_cdc")(spark, dir)
      .as[(Long, Int, String, Long, Int, Long)].collect()
    val dupGroups = out.filter(_._6 == 2L)
    assert(dupGroups.map(_._3).toSet == sharedHashes,
      s"exactly the realigned chunks must form n_copies=2 groups; got ${dupGroups.length} dup rows for ${sharedHashes.size} shared chunks")
    assert(dupGroups.forall(_._4 == 0L),
      "every shared chunk's canon must be the doc-0 (first-crawl) copy")
    assert(out.filterNot(r => sharedHashes.contains(r._3)).forall(_._6 == 1L),
      "unshared chunks must stay singleton groups")
  }

  test("line_filter fires all three line rules and both sides of the 5% doc gate") {
    import spark.implicits._
    // doc 0: one long kept line + one of each droppable class (short,
    // uppercase-majority, letterless) + a blank that must survive —
    // 3 of 5 removed, far over 5%, so doc_kept = false. doc 1: 20
    // lines with EXACTLY one removed = exactly 5%, the gate's <=
    // boundary, so doc_kept = true. doc 2: nothing fires.
    val longLine = "this line is long enough to keep"
    val doc0 = Seq(longLine, "short", "THE UPPERCASE NAV BAR", "12345 --- 67", "").mkString("\n")
    val doc1 = (Seq.fill(19)(longLine) :+ "short").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft-linefilter").toString
    Seq((0L, doc0, "en", "synth", 0L), (1L, doc1, "en", "synth", 0L),
        (2L, longLine + "\n" + longLine, "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("line_filter")(spark, dir)
      .as[(Long, String, Int, Int, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, longLine + "\n", 5, 2, false),
      s"short/uppercase/letterless drop, blank survives, 3/5 > 5% drops the doc; got ${out(0L)}")
    assert(out(1L)._4 == 19 && out(1L)._5,
      s"exactly 5% removed must sit on the KEEP side of the <= gate; got ${out(1L)}")
    assert(out(2L) == (2L, longLine + "\n" + longLine, 2, 2, true),
      s"a clean doc passes untouched; got ${out(2L)}")
  }

  test("quality_classifier computes the exact hashed-bucket integer dot product") {
    import spark.implicits._
    // the full model arithmetic recomputed in-test from first principles
    // (md5 via MessageDigest — the md5-fixture idiom): bucket = first 3
    // hex chars of md5(token), weight = first 2 hex chars of
    // md5("w"+bucket) - 128, logit = Σ weight / n_tokens with the sum
    // exact in BIGINT — so the assertion is bit-exact double equality,
    // not a tolerance. A repeated token exercises the count path; the
    // empty doc exercises the NULL-logit left-join edge.
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def weightOf(tok: String): Long = {
      val bucket = Integer.parseInt(md5hex(tok).substring(0, 3), 16)
      Integer.parseInt(md5hex("w" + bucket).substring(0, 2), 16) - 128L
    }
    val toks = Seq("alpha", "beta", "beta", "gamma")
    val expected = toks.map(weightOf).sum.toDouble / toks.size
    val dir = java.nio.file.Files.createTempDirectory("graft-qclass").toString
    Seq((0L, toks.mkString(" "), "en", "synth", 0L),
        (1L, "", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("quality_classifier")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 4L)
    assert(out(0L).getDouble(2) == expected,
      s"logit must be bit-exact vs the in-test model; got ${out(0L).getDouble(2)} want $expected")
    assert(out(0L).getBoolean(3) == (expected > 0))
    assert(out(1L).getLong(1) == 0L && out(1L).isNullAt(2) && out(1L).isNullAt(3),
      s"a tokenless doc must carry NULL logit/kept; got ${out(1L)}")
  }

  test("decontaminate_bloom equals decontaminate and probes the sketch before any exchange") {
    import spark.implicits._
    // same fixture shape as the decontaminate test plus extra clean
    // train docs — the rows the bloom exists to kill early. The sketch
    // must be a PRE-filter only: output frame-equal to the exact query
    // (false positives die in the confirm join), with the might_contain
    // predicate sitting on the scan side BELOW the (doc_id, ng) distinct
    // exchange — at corpus scale that placement is the whole point.
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = java.nio.file.Files.createTempDirectory("graft-deconbloom").toString
    (Seq(
      (0L, shared, "en", "synth", 0L), // held-out (md5 "cf...")
      (1L, s"lead $shared tail", "en", "synth", 0L), // train, contaminated
      (2L, "one two three four five six seven eight nine", "en", "synth", 0L)) ++
      (10L to 40L).map(i =>
        (i, s"clean doc $i with its own words ${i * 7} ${i * 11} ${i * 13} ${i * 17} ${i * 19}",
          "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val exact = SparkEntry.queries("decontaminate")(spark, dir)
    val bloom = SparkEntry.queries("decontaminate_bloom")(spark, dir)
    assert(bloom.collect().toSeq == exact.collect().toSeq,
      "the bloom variant must be value-identical to the exact query")
    assert(bloom.collect().exists(_.getBoolean(2)),
      "the fixture must actually contain a contaminated train doc")
    val plan = bloom.queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("might_contain")
    assert(probeAt >= 0, s"the sketch probe must survive planning:\n$plan")
    assert(plan.contains("bloom_filter_agg"),
      s"the sketch must build via BloomFilterAggregate:\n$plan")
    // the first might_contain Filter in the train branch appears deeper
    // in the plan (further down the tree) than the (doc_id, ng) distinct
    // aggregate that consumes it — i.e. the kill happens pre-exchange
    val distinctAt = plan.indexOf("HashAggregate(keys=[doc_id")
    assert(distinctAt >= 0 && distinctAt < probeAt,
      s"might_contain must sit BELOW the distinct that consumes it:\n$plan")
  }

  test("decontaminate_fuzzy flags a paraphrase the exact 8-gram filter misses") {
    import spark.implicits._
    // doc 0 ("cf") is held-out; doc 1 ("c4") is doc 0 with every 8th token
    // DELETED — every common token run is exactly 7, so the exact 8-gram
    // filter cannot see the overlap, while the true 3-shingle Jaccard is
    // 25/46 ≈ 0.543 (each deletion removes a run-interior shingle triple;
    // the seams contribute only new shingles), comfortably over the 0.5
    // gate. The k=8 minhash estimate and the band collisions are
    // deterministic md5 arithmetic, so they are recomputed in plain Scala
    // FIRST: a drift in tokenization/cleanup/FuzzyK fails here with the
    // measured estimate (for this fixture: est 0.875, 3 of 4 bands
    // collide), not as an unexplained flag flip downstream.
    val base = (1 to 40).map(i => s"tok$i")
    val para = base.zipWithIndex.collect { case (w, i) if (i + 1) % 8 != 0 => w }
    def sh3(toks: Seq[String]): Set[String] =
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(toks: Seq[String]): Seq[String] =
      (0 until 8).map(i => sh3(toks).map(sh => md5hex(s"$i:$sh")).min)
    val (sb, sp) = (sig(base), sig(para))
    val est = sb.zip(sp).count { case (a, b) => a == b } / 8.0
    val trueJ = sh3(base).intersect(sh3(para)).size.toDouble /
      sh3(base).union(sh3(para)).size
    assert(est >= 0.5,
      s"fixture drifted: deterministic minhash estimate $est (true Jaccard $trueJ)")
    assert((0 until 4).exists(b => sb(2 * b) == sp(2 * b) && sb(2 * b + 1) == sp(2 * b + 1)),
      s"fixture drifted: no 2-component LSH band collides (est $est)")
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy").toString
    Seq((0L, base.mkString(" "), "en", "synth", 0L),
        (1L, para.mkString(" "), "en", "synth", 0L),
        (2L, (1 to 40).map(i => s"other$i").mkString(" "), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val fuzzy = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(fuzzy == Map(1L -> true, 2L -> false),
      s"held-out doc excluded, paraphrase flagged (deterministic est " +
        s"$est), clean doc passed — got $fuzzy")
    val exact = SparkEntry.queries("decontaminate")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact == Map(1L -> false, 2L -> false),
      s"the exact filter must MISS the 7-token-run paraphrase; got $exact")
  }

  test("decontaminate_fuzzy's cap counts the held-out side only") {
    import spark.implicits._
    // the cap must NOT drop a benchmark mirrored many times into train
    // (that's the query's motivating case: the train side of the bucket
    // is hot, the held-out side has 1 member), but MUST drop a bucket
    // whose HELD-OUT membership exceeds MaxBucket (join-cost bound).
    val md = java.security.MessageDigest.getInstance("MD5")
    def prefix2(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val ids = (0L until 4000L).toVector
    val heldOut = ids.filter(prefix2(_) >= "cd")
    val train = ids.filter(prefix2(_) < "cd")
    val text = (1 to 20).map(i => s"bench$i").mkString(" ")

    // corpus A: 1 held-out benchmark doc, 120 train mirrors of it
    val dirA = java.nio.file.Files.createTempDirectory("graft-fz-a").toString
    ((heldOut.take(1) ++ train.take(120)).map(id => (id, text, "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dirA + "/documents.parquet")
    val flaggedA = SparkEntry.queries("decontaminate_fuzzy")(spark, dirA)
      .filter(col("contaminated")).count()
    assert(flaggedA == 120,
      s"all 120 train mirrors of the benchmark must stay flagged, got $flaggedA")

    // corpus B: 120 held-out near-identical docs, 1 train copy — the
    // held-out side of the bucket is hot, so the cap drops it
    val dirB = java.nio.file.Files.createTempDirectory("graft-fz-b").toString
    ((heldOut.take(120) ++ train.take(1)).map(id => (id, text, "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dirB + "/documents.parquet")
    val outB = SparkEntry.queries("decontaminate_fuzzy")(spark, dirB)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect()
    assert(outB.length == 1 && !outB.head._2,
      s"a >MaxBucket held-out bucket must be dropped by the cap; got ${outB.toSeq}")
  }

  test("decontaminate_semantic flags the shingle-disjoint rewrite; mirror heat survives the cap") {
    import spark.implicits._
    // the third decontamination rung: a benchmark item REWRITTEN into the
    // crawl shares no 3-token shingle with the held-out original (fuzzy
    // is blind) but its embedding stays cosine-close. Fixture: train doc
    // T's text has zero common tokens with held-out H's, yet their
    // vectors share a sign cell at cosine ≈ 0.98. Plus the directional-
    // cap case (fuzzy's lesson transplanted): 120 train mirror VECTORS
    // share one cell with a single held-out vector — train-side heat
    // must not trip the cap, all 120 stay flagged.
    val md = java.security.MessageDigest.getInstance("MD5")
    def prefix2(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val ids = (0L until 4000L).toVector
    val heldOut = ids.filter(prefix2(_) >= "cd")
    val train = ids.filter(prefix2(_) < "cd")
    val t = train.head; val mirrors = train.tail.take(120)
    val Vector(h, h2) = heldOut.take(2)
    // cell "11110011": H's vector and T's sign-preserving perturbation
    val vh = Array(1f, 1f, 1f, 1f, -1f, -1f, 1f, 1f)
    val vt = Array(0.9f, 0.9f, 0.9f, 0.9f, -0.9f, -1.1f, 0.95f, 1.05f)
    // cell "11111111": the mirror swarm and its held-out source
    val vm = Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val vh2 = Array(1.1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val dir = java.nio.file.Files.createTempDirectory("graft-sem").toString
    (Seq((t, "zebra quartz umbrella nectar violin harbor lantern meadow", "en", "synth", 0L),
         (h, "benchmark question river mountain answer choice evaluation item", "en", "synth", 0L),
         (h2, "second held out benchmark content goes here now", "en", "synth", 0L))
      ++ mirrors.map(m => (m, "mirror spam page body text repeated across crawl", "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    (Seq((t, vt, 0), (h, vh, 1), (h2, vh2, 1)) ++ mirrors.map(m => (m, vm, 0)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(dir + "/embeddings.parquet")
    val sem = SparkEntry.queries("decontaminate_semantic")(spark, dir)
      .select("doc_id", "n_sem_dups", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(sem(t) == (1L, true),
      s"the cosine-close, shingle-disjoint rewrite must be flagged; got ${sem(t)}")
    mirrors.foreach { m =>
      assert(sem(m) == (1L, true),
        s"train-side cell heat must not unflag mirror $m; got ${sem(m)}")
    }
    // the lexical rungs are blind to the rewrite — no shared 8-gram, no
    // shared 3-token shingle
    val fuzzy = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
      .filter(col("doc_id") === t).select("contaminated").as[Boolean].head()
    assert(!fuzzy, "the rewrite shares no shingle — fuzzy must miss it")
    val exact = SparkEntry.queries("decontaminate")(spark, dir)
      .filter(col("doc_id") === t).select("contaminated").as[Boolean].head()
    assert(!exact, "the rewrite shares no 8-gram — exact must miss it")
  }

  test("chunk dedup catches a shared boilerplate paragraph doc-level dedup misses") {
    import spark.implicits._
    // docs A and B: the same 32-token boilerplate "navbar" followed by
    // DISTINCT 24-token bodies — no document-level signature agrees, but
    // chunk 0 (the first ChunkSize=32 tokens) is byte-identical. Doc C is
    // the boilerplate with ONE token edited (nav10 -> xnav) + its own
    // body: invisible to the exact chunk hash, caught by the chunk
    // minhash (deterministic md5 arithmetic: est_jaccard 1.0 for this
    // fixture — the 3 edited shingles carry none of the 8 min-hashes —
    // true chunk Jaccard 27/33 ≈ 0.82).
    val boiler = (1 to 32).map(i => s"nav$i")
    val boilerC = boiler.updated(9, "xnav")
    def doc(pre: Seq[String], tag: String) =
      (pre ++ (1 to 24).map(i => s"$tag$i")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-chunk").toString
    Seq((0L, doc(boiler, "bodya"), "en", "synth", 0L),
        (1L, doc(boiler, "bodyb"), "en", "synth", 0L),
        (2L, doc(boilerC, "bodyc"), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    // doc-level exact dedup sees three distinct documents
    val docLevel = SparkEntry.queries("dedup_exact")(spark, dir)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(docLevel.values.forall(_ == 1L),
      s"distinct bodies must defeat document-level dedup; got $docLevel")
    // chunk-level exact: (0,0) and (1,0) share the boilerplate hash
    val ce = SparkEntry.queries("dedup_chunk_exact")(spark, dir)
      .select("doc_id", "chunk_id", "canon_doc", "canon_chunk", "n_copies")
      .as[(Long, Int, Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(ce((0L, 0)) == (0L, 0, 2L) && ce((1L, 0)) == (0L, 0, 2L),
      s"the shared boilerplate chunk must form one exact group; got $ce")
    assert(ce((2L, 0))._3 == 1L,
      "the one-token-edited boilerplate must MISS the exact chunk group")
    assert(ce.collect { case ((d, c), (_, _, n)) if c > 0 => n }.forall(_ == 1L),
      s"the distinct body chunks must each be singletons; got $ce")
    // chunk-level minhash runs over REPRESENTATIVES (one per distinct
    // chunk content — the exact-duplicate pre-filter): the edited
    // boilerplate pairs with the boilerplate's canon rep (0,0) ONLY.
    // (1,0) is a non-canonical exact copy, excluded from the probe; its
    // near-dup relation to (2,0) is recoverable by composing the pair
    // with dedup_chunk_exact's md5 group {(0,0),(1,0)}.
    val cm = SparkEntry.queries("dedup_chunk_minhash")(spark, dir)
      .select("d1", "c1", "d2", "c2").as[(Long, Int, Long, Int)]
      .collect().toSet
    assert(cm.contains((0L, 0, 2L, 0)),
      s"the near-identical boilerplate chunk must pair with the canon rep; got $cm")
    assert(!cm.exists { case (d1, _, d2, _) => d1 == 1L || d2 == 1L },
      s"non-canonical exact copies must be pre-filtered out of the probe; got $cm")
    assert(cm.forall { case (_, c1, _, c2) => c1 == 0 && c2 == 0 },
      s"body chunks must not pair; got $cm")
  }

  test("quality_perplexity: keyword-salad spam scores worse than natural text") {
    import spark.implicits._
    // 20 natural docs = the same 8-word cycle repeated 5 times: every
    // bigram is a high-count collocation (c2 ≈ 80–100 vs c1 ≈ 80–101,
    // conditional probability ≈ 1 >> 1/32 → zero rare bigrams). One spam
    // doc = the SAME vocabulary in an order no natural doc uses: each
    // spam bigram occurs once while its first token starts ~100 corpus
    // bigrams (32·1 < c1 → rare), so ALL its transitions are surprising
    // under the corpus LM. Same words — only the transition structure
    // differs, which is exactly what a bigram LM measures.
    val cycle = Seq("river", "stone", "moss", "fern", "rain", "cloud", "wind", "leaf")
    val naturalText = Seq.fill(5)(cycle).flatten.mkString(" ")
    val spamText = Seq("stone", "river", "fern", "moss",
      "cloud", "rain", "leaf", "wind").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-ppl").toString
    ((0 until 20).map(i => (i.toLong, naturalText, "en", "synth", 0L))
      :+ ((20L, spamText, "en", "synth", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("quality_perplexity")(spark, dir)
      .select("doc_id", "n_bigrams", "n_rare", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    (0 until 20).foreach { i =>
      val (nb, nr, keep) = out(i.toLong)
      assert(nb == 39L && nr == 0L && keep,
        s"natural doc $i must have zero rare bigrams; got ${out(i.toLong)}")
    }
    assert(out(20L) == (7L, 7L, false),
      s"every spam transition must be rare and the doc dropped; got ${out(20L)}")
  }

  test("dedup_clusters_multi links a pair that shares ONLY a chunk edge") {
    import spark.implicits._
    import graft.queries.DedupQueries
    // docs 0 and 1 share a near-identical 32-token boilerplate chunk
    // (the chunk-dedup fixture's boiler/boilerC: one token edited, chunk
    // est_jaccard 1.0 by deterministic md5 arithmetic) followed by LONG
    // distinct 96-token bodies, so no document-level relation fires:
    // doc n-gram Jaccard ≈ 27/225 << 0.2, simhash Hamming far above 3,
    // embeddings orthogonal (sim 0 < SemTau). Doc 2 is all-distinct
    // control. The chunk-minhash edge is the ONLY evidence linking 0-1 —
    // exactly the production case (two pages sharing an edited navbar).
    val boiler = (1 to 32).map(i => s"nav$i")
    val boilerC = boiler.updated(9, "xnav")
    def doc(pre: Seq[String], tag: String) =
      (pre ++ (1 to 96).map(i => s"$tag$i")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").toString
    Seq((0L, doc(boiler, "bodya"), "en", "synth", 0L),
        (1L, doc(boilerC, "bodyb"), "en", "synth", 0L),
        (2L, (1 to 128).map(i => s"other$i").mkString(" "), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    Seq((0L, Array(1f, 0f, 0f, 0f), 0),
        (1L, Array(0f, 1f, 0f, 0f), 1),
        (2L, Array(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(dir + "/embeddings.parquet")
    // no OTHER edge source fires for (0, 1)
    assert(DedupQueries.ngramJaccardPairs(spark, dir).isEmpty,
      "fixture bodies must be long enough to defeat doc-level n-gram Jaccard")
    assert(DedupQueries.semanticPairs(spark, dir, labeled = false).isEmpty,
      "orthogonal fixture embeddings must emit no semantic pairs")
    val single = SparkEntry.queries("dedup_clusters")(spark, dir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(single(0L) != single(1L),
      "simhash evidence alone must NOT link the pair")
    val multi = SparkEntry.queries("dedup_clusters_multi")(spark, dir)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(multi(0L) == (0L, 2L) && multi(1L) == (0L, 2L),
      s"the chunk edge must place 0 and 1 in one min-label cluster; got $multi")
    assert(multi(2L) == (2L, 1L), s"the control doc must stay a singleton; got $multi")
  }

  test("dedup_clusters labels refine into dedup_clusters_multi labels") {
    // partition refinement: the multi-source edge set is a superset of
    // the single-source one, so every dedup_clusters cluster must land
    // INSIDE exactly one multi cluster (more evidence can only merge
    // clusters, never split one).
    val single = SparkEntry.queries("dedup_clusters")(spark, Sf0001)
      .select(col("doc_id"), col("cluster_id").as("c1"))
    val multi = SparkEntry.queries("dedup_clusters_multi")(spark, Sf0001)
      .select(col("doc_id"), col("cluster_id").as("c2"))
    val split = single.join(multi, "doc_id")
      .groupBy("c1").agg(count_distinct(col("c2")).as("n"))
      .filter(col("n") > 1)
    assert(split.isEmpty,
      s"single-source clusters split across multi clusters: ${split.collect().toSeq}")
  }

  test("dedup_semantic_unlabeled subsumes the labeled pairs below the cap") {
    import spark.implicits._
    // The label-free cell is the labeled cell's sign component (same
    // CellBits), so below the cap every labeled pair — same label AND
    // same sign bucket — is also a label-free candidate, with identical
    // pinned-fold cosine and quality drop election. sf0.001: ~2 vectors
    // per sign bucket, no bucket anywhere near MaxBucket on either side.
    val lab = SparkEntry.queries("dedup_semantic")(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().toSet
    val unlab = SparkEntry.queries("dedup_semantic_unlabeled")(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(lab.nonEmpty, "fixture must produce labeled pairs (4 at sf0.001)")
    assert(lab.subsetOf(unlab),
      s"labeled pairs must survive label removal with identical sim/drop: ${lab.diff(unlab)}")
    assert(unlab.size > lab.size,
      "the label-free form must also find CROSS-label semantic pairs")
  }

  test("scrub_chunks drops non-canonical duplicate chunks and reassembles the doc") {
    import spark.implicits._
    // Disjoint 32-token windows: docs 0 and 1 share a 32-token
    // boilerplate navbar as their first chunk, followed by distinct
    // 40-token bodies (chunks 1..2: 32 + 8 tail). Keep-first: doc 0
    // keeps everything; doc 1 loses ONLY the navbar chunk and its body
    // reassembles intact (token fidelity). Doc 2 repeats its OWN first
    // 32-token chunk (an in-doc template) — the second copy is scrubbed.
    val nav = (1 to 32).map(i => s"nav$i")
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val rep = (1 to 32).map(i => s"rep$i")
    val dir = java.nio.file.Files.createTempDirectory("graft-scrub").toString
    Seq(
      (0L, (nav ++ body("bodya", 40)).mkString(" "), "en", "synth", 0L),
      (1L, (nav ++ body("bodyb", 40)).mkString(" "), "en", "synth", 0L),
      (2L, (rep ++ rep).mkString(" "), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("scrub_chunks")(spark, dir)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, (nav ++ body("bodya", 40)).mkString(" "), 3, 3),
      s"doc 0 holds every first occurrence; got ${out(0L)}")
    assert(out(1L) == (1L, body("bodyb", 40).mkString(" "), 3, 2),
      s"doc 1 must lose exactly the navbar chunk; got ${out(1L)}")
    assert(out(2L) == (2L, rep.mkString(" "), 2, 1),
      s"doc 2's in-doc repeated chunk must be scrubbed; got ${out(2L)}")
  }

  test("pipeline_curate_scrub equals the independent gates joined with scrub_chunks") {
    // the composition proof on real data: the composed query's frame
    // must equal pipeline_curate ⋈ scrub_chunks computed independently
    val dir = "/root/testdata/sf0.001"
    val composed = SparkEntry.queries("pipeline_curate_scrub")(spark, dir)
      .collect().toSet
    val independent = SparkEntry.queries("pipeline_curate")(spark, dir)
      .join(SparkEntry.queries("scrub_chunks")(spark, dir), Seq("doc_id"))
      .select("doc_id", "lang", "quality", "text_scrubbed", "n_chunks", "n_kept")
      .collect().toSet
    assert(composed.nonEmpty, "the curated-scrubbed frame must be non-empty at sf0.001")
    assert(composed == independent,
      s"composition must equal the independent join (${composed.size} vs ${independent.size} rows)")
  }

  test("pipeline_curate_full adds the line gate; a navbar-gutted survivor is dropped") {
    import spark.implicits._
    // composition proof on real data (the line gate is vacuous on the
    // single-line synthetic corpus — every doc passes — so equality with
    // the independently-gated form is the meaningful assertion there)
    val full = SparkEntry.queries("pipeline_curate_full")(spark, Sf0001)
    val expect = SparkEntry.queries("pipeline_curate_scrub")(spark, Sf0001)
      .join(SparkEntry.queries("line_filter")(spark, Sf0001)
        .filter(col("doc_kept")).select("doc_id"), Seq("doc_id"), "left_semi")
    assert(full.exceptAll(expect).isEmpty && expect.exceptAll(full).isEmpty,
      "the composed query must equal pipeline_curate_scrub gated by line_filter")
    // crafted corpus where the gate FIRES inside the composition: the
    // gutted doc is its own language's only member (median = itself, so
    // the quality gate passes it), unique text (dedup keeps it), train
    // split, no held-out 8-gram overlap — every other gate says keep,
    // but 2 of its 12 lines are uppercase navbars (> 5% removed ⇒ drop)
    val md = java.security.MessageDigest.getInstance("MD5")
    def prefix2(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val train = (0L until 200L).filter(prefix2(_) < "cd")
    val gutted = train.head
    val goodLine = "the quick brown fox jumps over the lazy dog again"
    val guttedText = (Seq.fill(10)(goodLine) ++
      Seq("HOME ABOUT CONTACT MENU", "PRIVACY TERMS SITEMAP LOGIN")).mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft-full").toString
    ((gutted, guttedText, "xx", "synth", 0L) +:
      train.tail.take(8).zipWithIndex.map { case (id, i) =>
        (id, s"plain body text number $i with the usual words in it", "en", "synth", 0L)
      })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val scrubIds = SparkEntry.queries("pipeline_curate_scrub")(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val fullIds = SparkEntry.queries("pipeline_curate_full")(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(scrubIds.contains(gutted),
      s"every non-line gate must keep the gutted doc; kept = $scrubIds")
    assert(!fullIds.contains(gutted),
      s"the line gate must drop the navbar-gutted doc; kept = $fullIds")
    assert(fullIds == scrubIds - gutted,
      s"the line gate must drop ONLY the gutted doc; $fullIds vs $scrubIds")
  }

  test("dedup_chunk_minhash's exact-dup pre-filter collapses mirror spam to one rep") {
    import spark.implicits._
    // 110 single-chunk documents of the same boilerplate: the md5 group
    // collapses to ONE representative before shingling, so the minhash
    // probe sees a single rep and emits ZERO pairs — the signature/
    // banding cost scales with DISTINCT chunk content, not copies —
    // while the exact chunk group (the operator that owns byte-identical
    // copies) still reports all 110.
    val text = (1 to 32).map(i => s"nav$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkpre").toString
    (0L until 110L).map(id => (id, text, "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    assert(SparkEntry.queries("dedup_chunk_minhash")(spark, dir).count() == 0,
      "exact-duplicate chunks must collapse to one rep before the probe")
    val ce = SparkEntry.queries("dedup_chunk_exact")(spark, dir)
      .select("n_copies").as[Long].collect()
    assert(ce.length == 110 && ce.forall(_ == 110L),
      "the exact chunk group must still cover every copy")
  }

  test("dedup_chunk_minhash's bucket cap fires on DISTINCT signature-colliding chunks") {
    import spark.implicits._
    // The pre-filter removes byte-identical copies, so the cap's job is
    // now template spam with per-page edits: DISTINCT chunk contents
    // sharing one minhash signature. Construction: 31 common tokens + 1
    // unique final token per doc, where the unique trailing shingle's
    // md5("i:"||sh) is verified (in-test, same md5 the engine uses) to
    // never beat the common shingles' min for ANY of the K=8 hash
    // indexes — so every chunk has the IDENTICAL signature (est_jaccard
    // 1.0, true Jaccard 29/31), all land in one bucket per band, and
    // the md5 groups are all singletons (the pre-filter keeps them all).
    // 110 such docs: every band bucket holds 110 > MaxBucket reps → the
    // cap drops them → ZERO pairs. Control: 3 of the same docs → bucket
    // size 3, all 3 pairs emitted — proving the collision construction
    // (and not the pre-filter) is what the cap acts on.
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val common = (1 to 31).map(i => s"com$i")
    val commonShingles = common.sliding(3).map(_.mkString(" ")).toSeq // 29
    val mins = (0 until 8).map(i => commonShingles.map(sh => md5hex(s"$i:$sh")).min)
    val uniques = Iterator.from(1).map(n => s"uniq$n").filter { u =>
      val sh = s"com30 com31 $u"
      (0 until 8).forall(i => md5hex(s"$i:$sh") > mins(i))
    }.take(113).toSeq
    def write(docs: Seq[String], tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      docs.zipWithIndex.map { case (t, id) => (id.toLong, t, "en", "synth", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir + "/documents.parquet")
      dir
    }
    val texts = uniques.map(u => (common :+ u).mkString(" "))
    val hotDir = write(texts.take(110), "graft-chunkcap")
    assert(SparkEntry.queries("dedup_chunk_minhash")(spark, hotDir).count() == 0,
      "a >MaxBucket band bucket of DISTINCT chunk reps must be dropped")
    // distinct contents → the pre-filter keeps all 110 as singletons
    val ce = SparkEntry.queries("dedup_chunk_exact")(spark, hotDir)
      .filter($"chunk_id" === 0).select("n_copies").as[Long].collect()
    assert(ce.length == 110 && ce.forall(_ == 1L),
      "the colliding chunks must be DISTINCT content (md5 singletons)")
    val coldDir = write(texts.slice(110, 113), "graft-chunkcold")
    val cold = SparkEntry.queries("dedup_chunk_minhash")(spark, coldDir)
      .select("d1", "d2", "est_jaccard").as[(Long, Long, Double)].collect()
    assert(cold.map(p => (p._1, p._2)).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L))
        && cold.forall(_._3 == 1.0),
      s"below the cap the identical-signature reps must all pair; got ${cold.toSeq}")
  }

  test("text_dedup_spans removes corpus-wide repeated lines, keeping the first occurrence") {
    import spark.implicits._
    // A license block (two lines) shared by docs 0, 1 and 2 — the C4/Lee
    // cross-document boilerplate shape text_dedup_lines cannot see (each
    // doc contains it once). Keep-first: it must survive ONLY in doc 0
    // (the min (doc_id, line_id) occurrence). Doc 1 also repeats one of
    // its own body lines (the global rule subsumes the within-doc scrub)
    // and carries a blank line (structure — always kept). Doc 3 is
    // untouched unique content.
    val lic = "copyright 2026 example corp\nlicensed under apache two"
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    Seq(
      (0L, s"$lic\nbody zero", "en", "synth", 0L),
      (1L, s"body one a\n\n$lic\nbody one a", "en", "synth", 0L),
      (2L, s"body two\n$lic", "en", "synth", 0L),
      (3L, "all mine", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("text_dedup_spans")(spark, dir)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, s"$lic\nbody zero", 3, 3),
      s"doc 0 holds the first occurrence and keeps everything; got ${out(0L)}")
    assert(out(1L) == (1L, "body one a\n", 5, 2),
      s"doc 1 must lose the license AND its own repeated line, keep the blank; got ${out(1L)}")
    assert(out(2L) == (2L, "body two", 3, 1),
      s"doc 2 must lose the license block; got ${out(2L)}")
    assert(out(3L) == (3L, "all mine", 1, 1))
  }

  test("text_dedup_token_spans masks non-canonical occurrences of repeated token windows") {
    import spark.implicits._
    // The Lee-et-al granularity: a 12-token license SENTENCE (not a
    // line) shared by docs 0, 1 and 2, embedded at different positions
    // with different neighbors — invisible to the line rule when each
    // doc wraps it differently, but its three 10-token windows collide
    // corpus-wide. Keep-first: only doc 0's occurrence survives; doc 1
    // keeps its unique prefix; doc 2 IS the license and scrubs to empty
    // (the all-dropped reassembly path). Doc 3 is shorter than SpanW
    // (no spans — untouched). Doc 4 repeats a 10-token sentence within
    // itself: the second occurrence's window is non-canonical vs (4,0),
    // so the within-doc repeat is masked by the same global rule.
    val lic = "this software is provided as is without warranty of any kind whatsoever"
    val rep = "one two three four five six seven eight nine ten"
    val dir = java.nio.file.Files.createTempDirectory("graft-tokspans").toString
    Seq(
      (0L, s"$lic alpha beta", "en", "synth", 0L),
      (1L, s"gamma delta $lic", "en", "synth", 0L),
      (2L, lic, "en", "synth", 0L),
      (3L, "tiny", "en", "synth", 0L),
      (4L, s"$rep filler $rep", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("text_dedup_token_spans")(spark, dir)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, s"$lic alpha beta", 14, 14),
      s"doc 0 holds the canonical occurrence and keeps everything; got ${out(0L)}")
    assert(out(1L) == (1L, "gamma delta", 14, 2),
      s"doc 1 must lose every token under the license's windows; got ${out(1L)}")
    assert(out(2L) == (2L, "", 12, 0),
      s"doc 2 is pure boilerplate and must scrub to empty; got ${out(2L)}")
    assert(out(3L) == (3L, "tiny", 1, 1),
      s"a doc shorter than SpanW has no spans and passes through; got ${out(3L)}")
    assert(out(4L) == (4L, s"$rep filler", 21, 11),
      s"the within-doc repeat's second occurrence must be masked; got ${out(4L)}")
  }

  test("text_dedup_lines drops repeated lines, keeps first occurrences and blanks") {
    import spark.implicits._
    // doc 0: a header line repeated three times around distinct bodies —
    // the Gopher/RefinedWeb boilerplate shape; doc 1: repeated non-blank
    // line AND repeated blank lines (blanks are structure and must ALL
    // survive); doc 2: single line, untouched
    val dir = java.nio.file.Files.createTempDirectory("graft-lines").toString
    Seq(
      (0L, "header\nbody one\nheader\nbody two\nheader", "en", "synth", 0L),
      (1L, "a\n\nb\n\na", "en", "synth", 0L),
      (2L, "just one line", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("text_dedup_lines")(spark, dir)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == (0L, "header\nbody one\nbody two", 5, 3),
      s"repeated header must be dropped after its first occurrence; got ${out(0L)}")
    assert(out(1L) == (1L, "a\n\nb\n", 5, 4),
      s"blank lines must all survive, the repeated 'a' must not; got ${out(1L)}")
    assert(out(2L) == (2L, "just one line", 1, 1), s"got ${out(2L)}")
  }

  test("text_dedup_lines is idempotent: a second pass drops nothing") {
    import spark.implicits._
    // the scrub's fixpoint property: its output contains no repeated
    // non-blank lines, so re-running it must be the identity — the
    // guarantee a pipeline needs to re-apply hygiene passes safely
    val dir1 = java.nio.file.Files.createTempDirectory("graft-lines-i1").toString
    Seq((0L, "h\nx\nh\ny\nh\n\nx", "en", "synth", 0L),
        (1L, "a\na\na", "en", "synth", 0L),
        (2L, "clean\ndoc", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir1 + "/documents.parquet")
    val pass1 = SparkEntry.queries("text_dedup_lines")(spark, dir1)
      .select("doc_id", "text_dedup").as[(Long, String)].collect().toMap
    val dir2 = java.nio.file.Files.createTempDirectory("graft-lines-i2").toString
    pass1.toSeq.map { case (id, t) => (id, t, "en", "synth", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir2 + "/documents.parquet")
    val pass2 = SparkEntry.queries("text_dedup_lines")(spark, dir2)
      .select("doc_id", "text_dedup", "n_lines", "n_kept")
      .as[(Long, String, Int, Int)].collect()
    pass2.foreach { case (id, t, nl, nk) =>
      assert(nl == nk && t == pass1(id),
        s"second pass must be identity for doc $id: kept $nk of $nl lines")
    }
  }

  test("quality_filter_approx: sketch median is a data value within the rank bound") {
    import spark.implicits._
    // the sketch's rank-error contract: the returned median is an ACTUAL
    // group element whose rank among the group's sorted qualities is
    // within n/accuracy (+1 for the discrete step) of ceil(0.5 n) — at
    // driver scale (n << 1e4) that pins the exact order statistic
    val amedByLang = SparkEntry.queries("quality_filter_approx")(spark, Sf0001)
      .select("lang", "amed").distinct().as[(String, Double)].collect().toMap
    val qualities = SparkEntry.queries("text_quality")(spark, Sf0001)
      .select("doc_id", "quality").where(col("quality").isNotNull)
      .as[(Long, Double)].collect().toMap
    val langOf = Tables(spark, Sf0001, "documents")
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(amedByLang.nonEmpty)
    amedByLang.foreach { case (lang, amed) =>
      val group = qualities.collect {
        case (id, q) if langOf(id) == lang => q }.toSeq.sorted
      val n = group.size
      assert(group.contains(amed),
        s"$lang: the discrete median must be an actual group element")
      val rank = group.count(_ <= amed)
      val target = math.ceil(0.5 * n)
      val bound = n / 10000.0 + 1
      assert(math.abs(rank - target) <= bound,
        s"$lang: rank $rank of amed=$amed vs target $target exceeds bound $bound (n=$n)")
    }
    // and the approximate gate must agree with the exact gate up to the
    // rows BETWEEN the two thresholds: the ceil-rank discrete median sits
    // at or below the interpolated one (equal for odd n), so the exact
    // gate's survivors are a subset and every extra survivor's quality
    // lies in [amed, med)
    val approxOut = SparkEntry.queries("quality_filter_approx")(spark, Sf0001)
      .as[(Long, String, Double, Double)].collect()
    val exactOut = SparkEntry.queries("quality_filter")(spark, Sf0001)
      .as[(Long, String, Double, Double)].collect()
    val exactIds = exactOut.map(_._1).toSet
    val medByLang = exactOut.map(r => r._2 -> r._4).toMap
    assert(exactIds.subsetOf(approxOut.map(_._1).toSet),
      "the discrete threshold must sit at or below the interpolated one")
    approxOut.filterNot(r => exactIds(r._1)).foreach { case (id, lang, q, amed) =>
      assert(q >= amed && q < medByLang(lang),
        s"extra survivor $id ($lang, q=$q) must lie between the discrete " +
          s"(${amed}) and interpolated (${medByLang(lang)}) medians")
    }
  }

  test("pack_sequences tiles every group: full sequences, no padding, docs fully packed") {
    import spark.implicits._
    // (doc_id, source, bucket, seq_id, seq_pos, doc_pos, n_in_seq)
    val out = SparkEntry.queries("pack_sequences")(spark, Sf0001)
      .as[(Long, String, String, Int, Int, Int, Int)].collect()
    val nTok = SparkEntry.queries("token_stats")(spark, Sf0001)
      .select("doc_id", "n_ws_tokens").as[(Long, Int)].collect().toMap
    assert(out.nonEmpty)
    // every doc's spans sum to its token count — nothing lost at splits
    out.groupBy(_._1).foreach { case (id, spans) =>
      assert(spans.map(_._7).sum == nTok(id), s"doc $id not fully packed") }
    // doc_pos tiles each DOC contiguously from token 0 (the attention-
    // mask builder's contract: span k of a doc starts where k-1 ended)
    out.groupBy(_._1).foreach { case (id, spans) =>
      val sorted = spans.sortBy(_._4).toSeq
      assert(sorted.head._6 == 0, s"doc $id first span starts at ${sorted.head._6}")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._6 + a._7 == b._6, s"doc $id doc_pos gap")
        case _ => () } }
    // within a (source, bucket) group every sequence except the LAST is
    // exactly full — the zero-padding-waste property packing exists for
    out.groupBy(r => (r._2, r._3)).foreach { case (g, rows) =>
      val bySeq = rows.groupBy(_._4).view.mapValues(_.map(_._7).sum).toMap
      val last = bySeq.keys.max
      bySeq.foreach { case (seq, tot) =>
        if (seq != last) assert(tot == 128, s"group $g seq $seq holds $tot")
        else assert(tot <= 128, s"group $g last seq overflows: $tot") } }
    // spans tile each sequence contiguously from position 0
    out.groupBy(r => (r._2, r._3, r._4)).foreach { case (k, rows) =>
      val sorted = rows.sortBy(_._5).toSeq
      assert(sorted.head._5 == 0, s"$k starts at ${sorted.head._5}")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 + a._7 == b._5, s"$k has a gap/overlap")
        case _ => () } }
  }

  test("corpus_mix_tokens hits each source's token budget: full passes + exact prefix cut") {
    import spark.implicits._
    // (doc_id, source, n_tokens, off, copy) — replicate the cut rule in
    // plain Scala on the fixture and pin the emitted per-source totals:
    // floor(budget/total) full passes plus the longest (md5-shard,
    // doc_id)-ordered prefix fitting the remainder.
    val budget = 4096L
    val out = SparkEntry.queries("corpus_mix_tokens")(spark, Sf0001)
      .as[(Long, String, Long, Long, Int)].collect()
    val docs = SparkEntry.queries("token_stats")(spark, Sf0001)
      .select("doc_id", "n_ws_tokens").as[(Long, Int)].collect()
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val srcOf = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val expected = docs.filter(_._2 > 0).groupBy(d => srcOf(d._1)).map {
      case (src, ds) =>
        val ordered = ds.sortBy(d => (md5hex(d._1.toString).take(4), d._1))
        val total = ordered.map(_._2.toLong).sum
        val rem = budget % total
        val prefix = ordered.scanLeft(0L)(_ + _._2).zip(ordered :+ ((-1L, 0)))
          .takeWhile { case (off, (_, n)) => n > 0 && off + n <= rem }
        src -> ((budget / total) * total + prefix.map(_._2._2.toLong).sum)
    }
    val emitted = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(emitted.keySet == expected.keySet, s"sources differ: $emitted")
    expected.foreach { case (src, tok) =>
      assert(emitted(src) == tok, s"source $src emitted ${emitted(src)} != $tok") }
    // every copy index is dense 0..n_copies-1 per doc
    out.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._5).sorted.toSeq == (0 until rows.length).toSeq,
        s"doc $id copies not dense") }
  }

  test("embedding_outliers flags at most the bottom decile, never the representative") {
    import spark.implicits._
    val out = SparkEntry.queries("embedding_outliers")(spark, Sf0001)
      .as[(Long, Int, Double, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (label, rows) =>
      val flagged = rows.count(_._5)
      assert(flagged <= rows.length * 0.1 + 1,
        s"cell $label flags $flagged of ${rows.length}")
      // the min-vec_id member IS the representative: self-similarity ~1,
      // so it can never fall below its own cell's P10
      val rep = rows.minBy(_._1)
      assert(!rep._5 && math.abs(rep._3 - 1.0) < 1e-9,
        s"cell $label rep: sim ${rep._3}, outlier ${rep._5}")
    }
  }

  test("token_diversity: the simpson index separates spam from diverse text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-div").toString
    Seq((0L, "spam spam spam spam", "en", "synth", 0L),
        (1L, "alpha beta gamma delta", "en", "synth", 0L),
        (2L, "", "en", "synth", 0L)) // tokenless: no row
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("token_diversity")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == (0L, 4L, 1L, 1.0), s"one-token spam collides always: ${out(0L)}")
    assert(out(1L) == (1L, 4L, 4L, 0.25), s"uniform text collides 1/k: ${out(1L)}")
  }

  test("pipeline_curate equals the intersection of its three gates") {
    import spark.implicits._
    val pipe = SparkEntry.queries("pipeline_curate")(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    val keeps = SparkEntry.queries("dedup_canonical")(spark, Sf0001)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val clean = SparkEntry.queries("decontaminate")(spark, Sf0001)
      .filter(!col("contaminated")).select("doc_id").as[Long].collect().toSet
    val kept = SparkEntry.queries("quality_filter")(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(pipe.nonEmpty, "the composed pass must keep at least one doc at sf0.001")
    assert(pipe == (keeps & clean & kept),
      "the one-plan composition must equal the gates applied independently")
  }

  test("corpus_mix emits the exact deterministic copy counts per band") {
    import spark.implicits._
    // md5 4-prefixes: doc 1 "c4ca" >= 8000 (coin fails), doc 6 "1679" < 8000
    // (coin succeeds); src0 = always 2 copies, src10 = keep, src15 = 0.5x coin
    val dir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    Seq(
      (2L, "a", "en", "src0", 0L), // 2.0x: two copies
      (4L, "b", "en", "src10", 0L), // 1.0x: one copy
      (1L, "c", "en", "src15", 0L), // 0.5x, coin fails: dropped
      (6L, "d", "en", "src15", 0L)) // 0.5x, coin succeeds: kept
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("corpus_mix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(out.toSeq == Seq((2L, 0), (2L, 1), (4L, 0), (6L, 0)),
      s"got ${out.toSeq}")
  }

  test("no catalog query joins without a condition against an unbounded side") {
    // the classic scale-killer: a join that lost its equi-condition does
    // O(n*m) work at any cluster size — whether it plans CartesianProduct
    // or slips under the broadcast threshold as BroadcastNestedLoopJoin.
    // Conditionless joins are allowed ONLY when one side is STATICALLY
    // bounded (maxRows defined and small: a global aggregate's single row,
    // a literal query set) — a bound that holds whatever the data grows to.
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    SparkEntry.queries.foreach { case (name, fn) =>
      val qe = fn(spark, Sf0001).queryExecution
      val unbounded = qe.optimizedPlan.collect {
        case j: LJoin if j.condition.isEmpty &&
          !Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 1024L)) => j
      }
      assert(unbounded.isEmpty,
        s"query $name joins without a condition and without a statically " +
          s"bounded side:\n${unbounded.mkString("\n")}")
      // and the physical check too: a NON-equi condition (x < y) passes
      // the logical gate above yet still plans the O(n*m) operator
      val pp = qe.sparkPlan.toString
      assert(!pp.contains("CartesianProduct"),
        s"query $name physically plans a cartesian product:\n$pp")
    }
  }

  test("result is invariant to input partitioning") {
    val docs = Tables(spark, Sf0001, "documents")
    val base = docs
      .select(explode(tokens(cleanLine(col("text")))).as("w"))
      .groupBy("w").count()
    val repart = docs.repartition(13)
      .select(explode(tokens(cleanLine(col("text")))).as("w"))
      .groupBy("w").count()
    assert(base.exceptAll(repart).count() == 0)
    assert(repart.exceptAll(base).count() == 0)
  }

  test("embedding_kmeans separates two blobs; assignment is partitioning-invariant") {
    import spark.implicits._
    // two tight blobs on opposite axes. Lloyd's never MERGES two seeds
    // that land inside one blob (each keeps its basin), so "one cluster
    // per blob" is not a k-means property at K=8 — the separation
    // property is that no cluster STRADDLES the blobs: every centroid
    // ends inside one blob, so no vector can sit closer to a
    // cross-blob centroid than to its own blob's.
    def blobA(seed: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d == 0) 10.0f else 0.0f) + 0.01f * (seed + d))
    def blobB(seed: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d == 1) -10.0f else 0.0f) - 0.01f * (seed + d))
    val rows = (0 until 12).map(i => (i.toLong, blobA(i), 0)) ++
      (12 until 24).map(i => (i.toLong, blobB(i), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    val asg = SparkEntry.queries("embedding_kmeans")(spark, dir)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val aClusters = (0L until 12L).map(asg).toSet
    val bClusters = (12L until 24L).map(asg).toSet
    assert((aClusters & bClusters).isEmpty,
      s"no cluster may straddle the blobs; got A=$aClusters B=$bClusters")

    // order-free exact arithmetic: the fixed-point centroid sums make the
    // assignment independent of input partitioning (a double mean would not be)
    val base = SparkEntry.queries("embedding_kmeans")(spark, dir)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-kmeans2").toString
    Tables(spark, dir, "embeddings").repartition(7)
      .write.parquet(dir2 + "/embeddings.parquet")
    val repart = SparkEntry.queries("embedding_kmeans")(spark, dir2)
    assert(base.exceptAll(repart).count() == 0 && repart.exceptAll(base).count() == 0,
      "kmeans assignment must be bit-identical under repartitioning")
  }

  test("dedup_semantic_kmeans pairs blob near-dups and elects the quality drop side") {
    import spark.implicits._
    // vectors 0/1 are IDENTICAL (equal distance to every centroid, same
    // cid tie-break -> guaranteed same cluster whatever the init picks,
    // even when both seed centroids); 2 points the opposite direction.
    // Doc 0 is prose (high quality), doc 1 digit soup (low) -> the pair
    // must be (0, 1) dropping 1, and no cross-blob pair may appear.
    def vec(first: Float, seed: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d == 0) first else 0.0f) + 0.001f * (seed + d))
    val dir = java.nio.file.Files.createTempDirectory("graft-kmsem").toString
    Seq((0L, vec(10.0f, 1), 0), (1L, vec(10.0f, 1), 0), (2L, vec(-10.0f, 3), 1))
      .toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "en", "synth", 0L),
      (1L, "7 3 9 1 4 4 2 8", "en", "synth", 0L),
      (2L, "an unrelated but perfectly ordinary sentence about the weather", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("dedup_semantic_kmeans")(spark, dir)
      .select("d1", "d2", "drop_id").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 1L, 1L)),
      s"expected exactly the within-cluster pair dropping the digit-soup side; got $out")
  }

  test("winnowing guarantees a shared fingerprint for a shared run; doc_fingerprint misses it") {
    import spark.implicits._
    // two docs share one 14-token run inside otherwise-disjoint text: the
    // winnowing guarantee (any shared run of >= WinnowW+2 = 6 tokens
    // yields a shared local-min fingerprint) must surface the pair with
    // n_shared >= MinSharedFp. The disjoint prefix/suffix are long enough
    // (15 tokens each) that whole-doc Jaccard sits BELOW the n-gram pair
    // threshold - the copied-paragraph case every whole-doc sketch
    // dilutes away - and the same pair must still reach ONE cluster in
    // dedup_clusters_multi through its winnowing edge.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val pre1 = "completely different opening words here arriving ahead of the quoted passage in this first document today"
    val suf1 = "and some unrelated trailing text follows closing out the first document with its own distinct material entirely"
    val pre2 = "other prefix tokens entirely unlike those above leading toward the quotation in the second document now"
    val suf2 = "with another distinct ending altogether wrapping the second document in separate prose of its own kind"
    val d1 = s"$pre1 $shared $suf1"
    val d2 = s"$pre2 $shared $suf2"
    val filler = (0 until 6).map(i =>
      (10L + i, s"filler document number $i with plain words repeated $i times over", "en", "synth", 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    (Seq((1L, d1, "en", "synth", 0L), (2L, d2, "en", "synth", 0L)) ++ filler)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    // distinct well-separated embeddings so no semantic/kmeans edge fires
    (1 to 8).map(i => (i.toLong,
        Array.tabulate(8)(d => if (d == i - 1) 10.0f else 0.0f), i % 3))
      .toDF("vec_id", "embedding", "label").write.parquet(dir + "/embeddings.parquet")
    val pairs = SparkEntry.queries("dedup_winnowing")(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      s"the shared 14-token run must produce >= 2 shared fingerprints; got $pairs")
    assert(!pairs.exists(p => p._1 == 1L && p._2 >= 10L),
      s"d1 shares no 6-token run with any filler doc, so no such pair may fire; got $pairs")
    val ngram = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(!ngram.contains((1L, 2L)),
      s"whole-doc Jaccard must sit below the n-gram threshold here; got $ngram")
    val labels = SparkEntry.queries("dedup_clusters_multi")(spark, dir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(labels(1L) == labels(2L),
      s"the winnowing edge alone must co-cluster the pair in the multi map; got $labels")
  }

  test("bm25_topk: only query-term docs rank; more matched terms beat fewer at equal length") {
    import spark.implicits._
    // docs 1/2 are the same length; doc 1 matches two query terms, doc 2
    // one -> doc 1 must outrank doc 2. Doc 3 contains no query term and
    // must be absent entirely.
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    Seq(
      (1L, "join filter alpha beta gamma delta", "en", "synth", 0L),
      (2L, "join alpha beta gamma delta epsilon", "en", "synth", 0L),
      (3L, "alpha beta gamma delta epsilon zeta", "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("bm25_topk")(spark, dir)
      .select("doc_id", "score").as[(Long, Double)].collect()
    assert(out.map(_._1).toSet == Set(1L, 2L),
      s"only docs containing a query term may rank; got ${out.toSeq}")
    val byDoc = out.toMap
    assert(byDoc(1L) > byDoc(2L),
      s"two matched terms must outscore one at equal doc length; got $byDoc")
  }

  test("source_drift: a source with a private vocabulary shows exact counts and positive drift") {
    import spark.implicits._
    // source A speaks only 'aaa', source B only 'bbb' (distinct md5
    // prefixes): in A's rows, the bucket holding 'aaa' has n_rest = 0 and
    // positive contrib; a bucket it never uses has n_src = 0. Counts are
    // exact BIGINTs - asserted literally.
    val rows = (0 until 4).map(i => (i.toLong, "aaa aaa aaa", "en", "srcA", 0L)) ++
      (4 until 8).map(i => (i.toLong, "bbb bbb bbb", "en", "srcB", 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("source_drift")(spark, dir)
      .select("source", "bucket", "n_src", "n_rest", "contrib")
      .as[(String, Int, Long, Long, Double)].collect()
    assert(out.length == 4, s"2 sources x 2 occupied buckets; got ${out.toSeq}")
    val aOwn = out.filter(r => r._1 == "srcA" && r._3 > 0)
    assert(aOwn.length == 1 && aOwn.head._3 == 12L && aOwn.head._4 == 0L,
      s"srcA's own bucket holds its 12 tokens and none of the rest; got ${aOwn.toSeq}")
    assert(aOwn.head._5 > 0.0, "a fully private bucket must contribute positive drift")
    val aForeign = out.filter(r => r._1 == "srcA" && r._3 == 0L)
    assert(aForeign.length == 1 && aForeign.head._4 == 12L,
      s"srcA shows 0 of srcB's 12-token bucket; got ${aForeign.toSeq}")
  }

  test("agg_grouping_sets: exactly the three declared sets, consistent with plain aggregation") {
    import spark.implicits._
    val out = SparkEntry.queries("agg_grouping_sets")(spark, Sf0001)
      .select("l_returnflag", "l_linestatus", "gid", "n_rows")
      .as[(Option[String], Option[String], Long, Long)].collect()
    // the set list is (flag, status) | (flag) | (status): no grand total,
    // and the bitmask identifies which of the three each row belongs to
    assert(out.map(_._3).toSet == Set(0L, 1L, 2L), "gid must be exactly {0,1,2}")
    assert(out.forall { case (f, st, gid, _) =>
      gid match {
        case 0 => f.isDefined && st.isDefined
        case 1 => f.isDefined && st.isEmpty
        case 2 => f.isEmpty && st.isDefined
      }
    }, "rolled-up columns must be NULL exactly per the grouping_id bitmask")
    // each lattice level partitions the same row population
    val total = Tables(spark, Sf0001, "lineitem").count()
    Seq(0L, 1L, 2L).foreach { g =>
      assert(out.filter(_._3 == g).map(_._4).sum == total,
        s"gid=$g level must partition all lineitem rows")
    }
  }

  test("window_ntile: quartiles balance within 1 per customer; top order has cume 1") {
    import spark.implicits._
    val out = SparkEntry.queries("window_ntile")(spark, Sf0001)
      .select("o_custkey", "spend_quartile", "pct_rank", "cume")
      .as[(Long, Int, Double, Double)].collect()
    assert(out.forall(r => r._2 >= 1 && r._2 <= 4), "quartile outside 1..4")
    assert(out.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && r._4 > 0.0 && r._4 <= 1.0))
    out.groupBy(_._1).foreach { case (ck, rows) =>
      val sizes = rows.groupBy(_._2).view.mapValues(_.length).values
      assert(sizes.max - sizes.min <= 1,
        s"customer $ck: ntile bucket sizes differ by >1: ${sizes.toSeq}")
      // exactly one row per customer closes the distribution
      assert(rows.count(_._4 == 1.0) >= 1, s"customer $ck: no cume=1 row")
    }
  }

  test("event_retention: offset-0 counts each cohort fully; the triangle sums to (user, week) pairs") {
    import spark.implicits._
    val out = SparkEntry.queries("event_retention")(spark, Sf0001)
      .as[(Long, Int, Long)].collect()
    assert(out.forall(_._2 >= 0), "negative week offset")
    val cohortSize = out.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    // every cohort has an offset-0 row (each user is active in their own
    // first week), and later offsets never exceed it
    assert(out.forall(r => cohortSize.contains(r._1)))
    assert(out.forall(r => r._3 <= cohortSize(r._1)),
      "an offset retained more users than the cohort holds")
    val pairCount = Tables(spark, Sf0001, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct().count()
    assert(out.map(_._3).sum == pairCount,
      "retention triangle must partition the distinct (user, week) pairs")
  }

  test("mine_hard_negatives picks the true extremes on the right side of the label") {
    import spark.implicits._
    val labels = Tables(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val out = SparkEntry.queries("mine_hard_negatives")(spark, Sf0001)
      .select("qid", "label", "pos_id", "pos_sim", "neg_id", "neg_sim")
      .as[(Long, Int, Option[Long], Option[Double], Option[Long], Option[Double])]
      .collect()
    assert(out.length == 8, s"one row per query; got ${out.length}")
    out.foreach { case (qid, lab, posId, _, negId, _) =>
      assert(lab == labels(qid))
      posId.foreach(p => assert(labels(p) == lab, s"qid $qid: positive crossed labels"))
      negId.foreach(n => assert(labels(n) != lab, s"qid $qid: negative shares the label"))
    }
    // the hard negative IS the max different-label cosine (cross-checked
    // for one query against an independent aggregate spelling)
    import graft.functions.VectorFunctions.cosine
    val e = Tables(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val q0 = e.filter(col("vec_id") === 0L)
      .select(col("label").as("ql"), col("v").as("qv"))
    val best = e.crossJoin(broadcast(q0))
      .filter(col("label") =!= col("ql"))
      .agg(max(struct(cosine(col("qv"), col("v")).as("sim"),
        (-col("vec_id")).as("nid"))).as("m"))
      .select(col("m.sim"), (-col("m.nid")).cast("long").as("nn"))
      .as[(Double, Long)].head()
    val row0 = out.find(_._1 == 0L).get
    assert(row0._5.contains(best._2) && row0._6.contains(best._1),
      s"qid 0 hard negative mismatch: got ${row0._5}/${row0._6}, want $best")
  }

  test("mine_semi_hard_negatives stays strictly below the anchor and refines the hard set") {
    import spark.implicits._
    val labels = Tables(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val semi = SparkEntry.queries("mine_semi_hard_negatives")(spark, Sf0001)
      .select("qid", "label", "pos_sim", "semi_id", "semi_sim", "n_semi")
      .as[(Long, Int, Double, Long, Double, Long)].collect()
    assert(semi.nonEmpty)
    semi.foreach { case (qid, lab, posSim, semiId, semiSim, nSemi) =>
      assert(semiSim < posSim, s"qid $qid: semi-hard not below the anchor")
      assert(labels(semiId) != lab, s"qid $qid: semi-hard shares the label")
      assert(nSemi >= 1)
    }
    // consistency with the hard miner: same anchor similarity, and the
    // semi-hard negative is never closer than the unconstrained hardest
    val hard = SparkEntry.queries("mine_hard_negatives")(spark, Sf0001)
      .select("qid", "pos_sim", "neg_sim")
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    semi.foreach { case (qid, _, posSim, _, semiSim, _) =>
      val (_, hPos, hNeg) = hard(qid)
      assert(hPos.contains(posSim), s"qid $qid: anchors disagree")
      assert(hNeg.exists(_ >= semiSim), s"qid $qid: semi-hard beat the hard negative")
    }
  }

  test("ann_recall: the exact tier scores 1.0; reranking never hurts; hits are bounded") {
    import spark.implicits._
    val out = SparkEntry.queries("ann_recall")(spark, Sf0001)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 9) // recallTiers — knn_mutual_rerank joined in r15
    out.values.foreach { case (m, nRet, nHits, rate) =>
      assert(nRet > 0 && nHits >= 0 && nHits <= nRet, s"$m: hits outside [0, ret]")
      assert(math.abs(rate - nHits.toDouble / nRet) == 0.0)
    }
    // ann_topk_agg IS the exact answer through another plan — pinned 1.0
    val sanity = out("ann_topk_agg")
    assert(sanity._2 == sanity._3, "the exact tier must have full recall")
    // exact re-ranking a shortlist can only improve on raw ADC rank-1
    assert(out("ann_pq_rerank")._4 >= out("ann_pq")._4,
      "re-ranked PQ must not score below raw ADC")
    assert(out("ann_ivfpq_rerank")._4 >= out("ann_ivfpq")._4,
      "re-ranked IVFPQ must not score below its raw ADC scan")
    // nprobe probes the query's own cell unconditionally plus nprobe-1
    // others, so its searched set is a SUPERSET of single-cell IVF's —
    // the structural guarantee the RECALL_sf1/sf10 probes
    // (`git show e9e7a22:RECALL_sf1_r12.json`) showed the
    // rank-only spelling violating (0.75 vs 1.0 on replica geometry)
    assert(out("ann_ivf_nprobe")._4 >= out("ann_ivf")._4,
      "nprobe searches a superset of single-cell IVF and cannot score below it")
  }

  test("curation_dsir: weights are the recomputed rational; kept-only vocabulary scores above raw") {
    import spark.implicits._
    val out = SparkEntry.queries("curation_dsir")(spark, Sf0001)
      .select("doc_id", "n_feats", "num", "den", "weight", "keep")
      .as[(Long, Long, Long, Long, Double, Boolean)].collect()
    // totals recomputed independently: n_feats partitions the corpus tokens
    val totalTokens = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .count()
    assert(out.map(_._2).sum == totalTokens,
      "per-doc feature counts must partition the token instances")
    // the emitted weight is exactly the documented three-op rational
    val keptIds = SparkEntry.queries("quality_filter")(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty)
    val nr = out.map(_._4.toDouble).sum // not the plan's NR — just sanity > 0
    assert(nr > 0)
    out.foreach { case (_, _, num, den, w, keep) =>
      assert(num > 0 && den > 0)
      assert(keep == (w >= 1.0), "keep gate must be the weight threshold")
    }
    // a curated (kept) doc's own features are by construction counted in
    // the target distribution, so kept docs weigh above the corpus mean
    // weight more often than dropped docs do (distributional sanity, not
    // an oracle — the exact values are the driver's hash compare)
    val (keptW, dropW) = out.partition(r => keptIds.contains(r._1))
    assert(keptW.nonEmpty && dropW.nonEmpty)
    val meanKept = keptW.map(_._5).sum / keptW.length
    val meanDrop = dropW.map(_._5).sum / dropW.length
    assert(meanKept > meanDrop,
      s"target-slice docs must score more target-like: kept=$meanKept drop=$meanDrop")
  }

  test("dedup_recall: counts are the recomputed set intersections against n-gram truth") {
    import spark.implicits._
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, Sf0001)
        .select(col("d1").cast("long"), col("d2").cast("long"))
        .as[(Long, Long)].collect().toSet
    val truth = pairs("dedup_ngram_jaccard")
    val out = SparkEntry.queries("dedup_recall")(spark, Sf0001)
      .select("method", "n_cand", "n_hit", "n_true", "precision", "recall")
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set("dedup_minhash_lsh", "dedup_simhash_pairs",
      "dedup_winnowing", "union_sig_lsh"))
    // the union tier's counts are cluster-equivalence arithmetic, not a
    // pair-set intersection — verified exactly by its own spec below
    for ((name, (_, nCand, nHit, nTrue, p, r)) <- out - "union_sig_lsh") {
      val cand = pairs(name)
      assert(nCand == cand.size, s"$name: n_cand")
      assert(nHit == (cand & truth).size, s"$name: n_hit is the intersection")
      assert(nTrue == truth.size, s"$name: n_true is the shared truth size")
      assert(p.contains(nHit.toDouble / nCand), s"$name: precision ratio")
      assert(r.contains(nHit.toDouble / nTrue), s"$name: recall ratio")
    }
  }

  test("curation_budget: exactly the maximal quality-ordered prefix within budget") {
    import spark.implicits._
    val docs = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        coalesce(graft.queries.TextAnalysisQueries.qualityExpr(col("text")),
          lit(-1.0)).as("q"),
        size(tokens(col("text"))).cast("long").as("t"))
      .as[(Long, Double, Long)].collect()
      .sortBy { case (id, q, _) => (-q, id) }
    val budget = 8192L
    var cum = 0L
    val expected = docs.iterator.map { case (id, _, t) =>
      cum += t; (id, cum)
    }.takeWhile(_._2 <= budget).toMap
    val got = SparkEntry.queries("curation_budget")(spark, Sf0001)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"selection mismatch: ${got.size} selected vs ${expected.size} expected")
  }

  test("corpus_mix_temperature: exact integer allocation, flattened shares") {
    import spark.implicits._
    val out = SparkEntry.queries("corpus_mix_temperature")(spark, Sf0001)
      .select("source", "n_tokens", "raw_share", "temp_share", "alloc_tokens")
      .as[(String, Long, Double, Double, Long)].collect()
    assert(out.length > 1)
    // exact recomputation of the fixed-point weight chain
    val wfp = out.map { case (_, t, _, _, _) =>
      math.floor(math.sqrt(t.toDouble) * (1L << 20)).toLong
    }
    val totw = wfp.sum
    out.zip(wfp).foreach { case ((src, _, _, ts, alloc), w) =>
      assert(ts == w.toDouble / totw.toDouble, s"$src: temp_share")
      assert(alloc == w * 65536L / totw, s"$src: integer allocation")
    }
    // the allocation never overspends, and rounding leaves < |sources| · 1
    val spent = out.map(_._5).sum
    assert(spent <= 65536L && spent > 65536L - out.length * (65536L / totw + 1))
    // temperature < 1 flattens: the head source's share shrinks, the
    // tail's grows, so the max/min ratio strictly contracts
    val rawRatio = out.map(_._3).max / out.map(_._3).min
    val tempRatio = out.map(_._4).max / out.map(_._4).min
    assert(tempRatio < rawRatio,
      s"sqrt temperature must flatten the mix: $tempRatio !< $rawRatio")
  }

  test("sample_stratified: the two-phase plan equals the one-window semantics") {
    import spark.implicits._
    val docs = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .as[(String, Long, String)].collect()
    val expected = docs.groupBy(_._1).iterator.flatMap { case (lang, ds) =>
      ds.sortBy(d => (d._3, d._2)).take(5).zipWithIndex
        .map { case ((_, id, h), i) => (lang, i + 1, id, h) }
    }.toSet
    val got = SparkEntry.queries("sample_stratified")(spark, Sf0001)
      .as[(String, Int, Long, String)].collect().toSet
    assert(got == expected)
  }

  test("event_attribution: the driver-side replay of last-touch agrees") {
    import spark.implicits._
    val events = Tables(spark, Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, Long)].collect()
    val expected = events.groupBy(_._2).iterator.flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._4, e._1))
      var lastTouch: Option[(Long, String, Long)] = None
      ordered.flatMap { case (id, _, tpe, us) =>
        val out =
          if (tpe == "purchase")
            Some(id -> lastTouch.map { case (tid, ttpe, tus) =>
              (tid, ttpe, us - tus)
            })
          else None
        if (tpe == "click" || tpe == "view") lastTouch = Some((id, tpe, us))
        out
      }
    }.toMap
    val got = SparkEntry.queries("event_attribution")(spark, Sf0001)
      .select("purchase_id", "touch_id", "touch_type", "us_since_touch")
      .as[(Long, Option[Long], Option[String], Option[Long])].collect()
      .map { case (pid, tid, ttpe, dus) =>
        pid -> tid.map(t => (t, ttpe.get, dus.get))
      }.toMap
    assert(got == expected)
  }

  test("bpe_pair_counts: the driver-side recount of adjacent pairs agrees") {
    import spark.implicits._
    val re = graft.queries.TextAnalysisQueries.BpeRegex.r
    val counts = new scala.collection.mutable.HashMap[(String, String), Long]
    Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull).select("text").as[String].collect()
      .foreach { text =>
        val tv = re.findAllIn(text).toArray
        tv.indices.dropRight(1).foreach { i =>
          counts((tv(i), tv(i + 1))) =
            counts.getOrElse((tv(i), tv(i + 1)), 0L) + 1L
        }
      }
    val expected = counts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(16)
      .zipWithIndex.map { case (((a, b), n), i) => (i + 1, a, b, n) }
    val got = SparkEntry.queries("bpe_pair_counts")(spark, Sf0001)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == expected)
  }

  test("bpe_merges: the string-replace rounds equal token-level greedy BPE") {
    import spark.implicits._
    val re = graft.queries.TextAnalysisQueries.BpeMergeRegex.r
    def applyMerge(tv: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < tv.length) {
        if (i + 1 < tv.length && tv(i) == l && tv(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += tv(i); i += 1 }
      }
      out.toArray
    }
    var corpus = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull).select("text").as[String].collect()
      .map(t => re.findAllIn(t).toArray)
    val expected = (1 to graft.queries.TextAnalysisQueries.BpeRounds).map { r =>
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]
      corpus.foreach { tv =>
        tv.indices.dropRight(1).foreach { i =>
          counts((tv(i), tv(i + 1))) =
            counts.getOrElse((tv(i), tv(i + 1)), 0L) + 1L
        }
      }
      val ((l, rr), n) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      corpus = corpus.map(applyMerge(_, l, rr))
      (r, l, rr, n)
    }
    val got = SparkEntry.queries("bpe_merges")(spark, Sf0001)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == expected)
  }

  test("knn_join: graph shape, probe-rule containment, ADC rank order") {
    import spark.implicits._
    val knn = SparkEntry.queries("knn_join")(spark, Sf0001)
      .as[(Long, Int, Long, Long)].collect()
    val nVec = Tables(spark, Sf0001, "embeddings")
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull).count()
    // every vector is a query and (at this geometry: cells ≫ k) finds a
    // full top-k; no self-edges; ranks contiguous; ADC non-decreasing
    assert(knn.length == nVec * graft.queries.SimilarityQueries.KnnK)
    assert(knn.forall { case (q, _, nn, _) => q != nn })
    knn.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rows.length), s"qid $q ranks")
      assert(byRank.map(_._4).toSeq == byRank.map(_._4).sorted.toSeq,
        s"qid $q adc order")
      // ties broken toward the smaller nn_id
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._4 < b._4 || a._3 < b._3)
        case _ => ()
      }
    }
    // neighbors come from probed cells only: ≤ NProbe distinct clusters
    // per query (via the two-level quantizer assignment the graph uses)
    val cluster = graft.queries.SimilarityQueries.km2Assign(spark, Sf0001)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    knn.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(r => cluster(r._3)).distinct.length <= 2, s"qid $q cells")
    }
  }

  test("knn_mutual_pairs: exactly the symmetric edges of the kNN graph") {
    import spark.implicits._
    val edges = SparkEntry.queries("knn_join")(spark, Sf0001)
      .select("qid", "nn_id", "adc_fp").as[(Long, Long, Long)].collect()
    val eset = edges.map(e => (e._1, e._2)).toSet
    val expected = edges.filter(e => e._1 < e._2 && eset((e._2, e._1)))
      .map(e => (e._1, e._2, e._3)).toSet
    val got = SparkEntry.queries("knn_mutual_pairs")(spark, Sf0001)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "the sf0.001 geometry should yield mutual pairs")
  }

  test("dedup_recall: the union tier's inclusion-exclusion counts are exact") {
    import spark.implicits._
    import graft.functions.TextFunctions.{shingles3, tokens}
    val K = graft.queries.DedupQueries.K
    val mins = (0 until K).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"h$i"))
    val sig = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(shingles3(tokens(col("text")))).as("sh"))
      .distinct()
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        md5(concat_ws("|", (0 until K).map(i => col(s"h$i")): _*)).as("ssig"))
      .as[(Long, String)].collect().toMap
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, Sf0001)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val truth = SparkEntry.queries("dedup_ngram_jaccard")(spark, Sf0001)
      .select("d1", "d2").as[(Long, Long)].collect()
    val nSig = sig.values.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val sameSig = (p: (Long, Long)) => sig(p._1) == sig(p._2)
    val expCand = nSig + lsh.size - lsh.count(sameSig)
    val expHit = truth.count(p => sameSig(p) || lsh(p)).toLong
    val row = SparkEntry.queries("dedup_recall")(spark, Sf0001)
      .filter(col("method") === "union_sig_lsh")
      .select("n_cand", "n_hit", "n_true").as[(Long, Long, Long)].head()
    assert(row == ((expCand, expHit, truth.length.toLong)))
  }

  test("knn_mutual_rerank: exact top-k over the symmetrized graph edges") {
    import spark.implicits._
    val edges = SparkEntry.queries("knn_join")(spark, Sf0001)
      .select("qid", "nn_id").as[(Long, Long)].collect()
    val cand = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val vec = Tables(spark, Sf0001, "embeddings")
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    // the same sequential left fold as Dist2 (init 0.0, ascending index)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    val k = graft.queries.SimilarityQueries.KnnK
    val expected = cand.toSeq.flatMap { case (q, nns) =>
      nns.map(nn => (q, nn, d2(vec(q), vec(nn))))
        .sortBy { case (_, nn, d) => (d, nn) }.take(k)
        .zipWithIndex.map { case ((_, nn, d), i) => (q, i + 1, nn, d) }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("knn_mutual_rerank")(spark, Sf0001)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // bit-exact: same candidates, same exact distances, same tie-break
    assert(got == expected)
    // the rerank tier's edge set covers every mutual pair (its candidate
    // superset relation to knn_mutual_pairs' source edges)
    assert(got.forall { case (q, _, nn, _) => cand(q).contains(nn) })
  }

  test("dedup_recall_canon: survivor-corpus harness invariants") {
    import spark.implicits._
    val rows = SparkEntry.queries("dedup_recall_canon")(spark, Sf0001)
      .select("method", "n_cand", "n_hit", "n_true")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq("post_canon_lsh", "post_canon_sig"))
    rows.foreach { case (m, nCand, nHit, nTrue) =>
      assert(nHit <= nCand, s"$m: hits exceed candidates")
      assert(nHit <= nTrue, s"$m: hits exceed truth")
      assert(nCand >= 0 && nTrue >= 0)
    }
    // the two rows score against the SAME survivor-corpus truth
    assert(rows.map(_._4).distinct.length == 1)
    // exact-duplicate classes are gone from the survivor corpus, so the
    // residual full-signature mass must be at most the RAW corpus's
    // same-signature pair mass (strictly smaller whenever exact dups
    // existed); at this SF the canon corpus is a strict subset
    val keepN = SparkEntry.queries("dedup_canonical")(spark, Sf0001)
      .filter(col("keep")).count()
    val allN = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull).count()
    assert(keepN < allN, "sf0.001 has duplicate classes; canon must shrink")
  }

  test("dedup_semantic_graph: mutual pairs re-scored exactly, drop side elected") {
    import spark.implicits._
    val mutual = SparkEntry.queries("knn_mutual_pairs")(spark, Sf0001)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val vec = Tables(spark, Sf0001, "embeddings")
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val got = SparkEntry.queries("dedup_semantic_graph")(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (d1, d2, sim, drop) =>
      assert(mutual((d1, d2)), s"($d1,$d2) not a mutual pair")
      assert(sim >= graft.queries.DedupQueries.SemTau)
      assert(sim == cos(vec(d1), vec(d2)), s"($d1,$d2) sim not exact")
      assert(drop == d1 || drop == d2)
    }
    // every mutual pair at/above the threshold appears — no silent drops
    val expPairs = mutual.filter { case (a, b) =>
      val s = cos(vec(a), vec(b)); !s.isNaN && s >= graft.queries.DedupQueries.SemTau
    }
    assert(got.map(r => (r._1, r._2)).toSet == expPairs)
  }

  test("pipeline_curate_semantic equals pipeline_curate minus the graph drop set") {
    import spark.implicits._
    val base = SparkEntry.queries("pipeline_curate")(spark, Sf0001)
    val drops = SparkEntry.queries("dedup_semantic_graph")(spark, Sf0001)
      .select("drop_id").as[Long].collect().toSet
    val expected = base.collect()
      .filterNot(r => drops(r.getLong(0))).map(_.getLong(0)).sorted.toSeq
    val got = SparkEntry.queries("pipeline_curate_semantic")(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == expected)
    // the gate is real at this SF: at least one curation survivor is a
    // graph-elected drop (otherwise the composition tests nothing)
    assert(got.size < base.count(), "the semantic gate dropped nothing")
  }

  test("bpe_vocab: equals the driver-side recount after applying all merges") {
    import spark.implicits._
    val re = graft.queries.TextAnalysisQueries.BpeMergeRegex.r
    def applyMerge(tv: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < tv.length) {
        if (i + 1 < tv.length && tv(i) == l && tv(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += tv(i); i += 1 }
      }
      out.toArray
    }
    var corpus = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull).select("text").as[String].collect()
      .map(t => re.findAllIn(t).toArray)
    val totalChars = corpus.map(_.map(_.length.toLong).sum).sum
    val merges = SparkEntry.queries("bpe_merges")(spark, Sf0001)
      .orderBy("round").select("lhs", "rhs").as[(String, String)].collect()
    merges.foreach { case (l, r) => corpus = corpus.map(applyMerge(_, l, r)) }
    val expected = corpus.flatten.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("bpe_vocab")(spark, Sf0001)
      .as[(String, Long)].collect()
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    assert(got.toMap == expected)
    // character mass is conserved by merging: Σ n·len(symbol) = Σ len(token)
    assert(got.map { case (s, n) => n * s.length }.sum == totalChars)
  }

  test("bpe_encode: frozen merges on unseen text equal driver-side greedy") {
    import spark.implicits._
    val re = graft.queries.TextAnalysisQueries.BpeMergeRegex.r
    def applyMerge(tv: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < tv.length) {
        if (i + 1 < tv.length && tv(i) == l && tv(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += tv(i); i += 1 }
      }
      out.toArray
    }
    // the FROZEN table: trained on documents, never on part names
    val merges = SparkEntry.queries("bpe_merges")(spark, Sf0001)
      .orderBy("round").select("lhs", "rhs").as[(String, String)].collect()
    val parts = Tables(spark, Sf0001, "part")
      .filter(col("p_partkey").isNotNull)
      .select("p_partkey", "p_name").as[(Long, String)].collect()
    val expected = parts.map { case (k, name) =>
      var tv = re.findAllIn(name).toArray
      merges.foreach { case (l, r) => tv = applyMerge(tv, l, r) }
      (k, tv.mkString(" "), tv.length)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("bpe_encode")(spark, Sf0001)
      .as[(Long, String, Int)].collect().toSeq
    assert(got == expected)
    // encode is lossless on characters: symbols re-concatenate to the
    // pre-token stream (merging never invents or drops a character)
    val pretok = parts.map { case (k, name) =>
      (k, re.findAllIn(name).mkString) }.toMap
    got.foreach { case (k, enc, _) =>
      assert(enc.replace(" ", "") == pretok(k), s"p_partkey $k")
    }
  }

  test("pack_sequences_bpe: spans budget REAL tokenizer symbols exactly") {
    import spark.implicits._
    val re = graft.queries.TextAnalysisQueries.BpeMergeRegex.r
    def applyMerge(tv: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < tv.length) {
        if (i + 1 < tv.length && tv(i) == l && tv(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += tv(i); i += 1 }
      }
      out.toArray
    }
    val merges = SparkEntry.queries("bpe_merges")(spark, Sf0001)
      .orderBy("round").select("lhs", "rhs").as[(String, String)].collect()
    val symCount = Tables(spark, Sf0001, "documents")
      .filter(col("doc_id").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        var tv = re.findAllIn(t).toArray
        merges.foreach { case (l, r) => tv = applyMerge(tv, l, r) }
        (id, tv.length.toLong)
      }.toMap
    val rows = SparkEntry.queries("pack_sequences_bpe")(spark, Sf0001)
      .as[(Long, String, String, Int, Int, Int, Int)].collect()
    // every document's spans reassemble to EXACTLY its BPE symbol count —
    // the packing budgets real tokenizer tokens, not the regex proxy
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._7.toLong).sum == symCount(id), s"doc $id")
    }
    // sequence capacity: every (source, bucket, seq_id) holds ≤ SeqLen
    // (= 128) symbols and all but each bucket's last sequence are FULL
    // (concatenate-and-split leaves no padding waste by construction)
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, bucket) =>
      val last = bucket.map(_._4).max
      bucket.groupBy(_._4).foreach { case (seqId, ss) =>
        val tot = ss.map(_._7).sum
        assert(tot <= 128)
        if (seqId != last) assert(tot == 128, s"seq $seqId not full")
      }
    }
  }

  test("ann_filtered: pre-filtered candidates; predicate pushed to the scan") {
    import spark.implicits._
    val df = SparkEntry.queries("ann_filtered")(spark, Sf0001)
    // the lang predicate must reach the documents parquet scan — the
    // pre-filter is only at-scale-honest if the scan itself shrinks
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("EqualTo(lang,en)"), plan.take(4000))
    val rows = df.as[(Long, Int, Long)].collect()
    val en = Tables(spark, Sf0001, "documents")
      .filter(col("lang") === graft.queries.SimilarityQueries.AnnFilterLang)
      .select("doc_id").as[Long].collect().toSet
    assert(rows.nonEmpty)
    assert(rows.forall(r => en.contains(r._3)))
    // pre-filter ≥ post-filter: every qualifying neighbor of the
    // UNFILTERED tier's top-k (same probe rule, same reps) must appear —
    // removing non-qualifying candidates can only improve a rank
    val unf = SparkEntry.queries("ann_ivf_nprobe")(spark, Sf0001)
      .as[(Long, Int, Long)].collect()
    val filtSet = rows.map(r => (r._1, r._3)).toSet
    unf.filter(r => en.contains(r._3)).foreach { r =>
      assert(filtSet.contains((r._1, r._3)), s"missing $r")
    }
  }
}
