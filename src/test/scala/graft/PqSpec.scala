package graft

import org.scalatest.funsuite.AnyFunSuite

/** Product quantization (embedding_pq_codes / ann_pq): code-domain
  * invariants, duplicate-vector coherence, and a full driver-side
  * ground-truth recomputation of the ADC ranking — the same fixed-point
  * arithmetic (left-fold dist², floor to 2²⁰-scaled BIGINT, Σ over
  * subspaces) re-implemented in plain Scala against the collected
  * codebook, so a drift in any stage (slicing, argmin tie-break, LUT
  * keying, integer sum) fails here even if both engines drift together.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Dim = 64
  private val NVec = 120

  /** Deterministic 64-dim corpus: 5 loose clusters plus EXACT duplicate
    * pairs (vec 100+k duplicates vec k) — the duplicates must quantize
    * to identical codes, and the clusters give the subquantizers real
    * structure to fit.
    */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val rows = (0 until NVec).map { i =>
      val src = if (i >= 100) i - 100 else i
      val emb = Array.tabulate(Dim) { p =>
        val base = ((src % 5) * 13 + p * 7) % 17
        (base / 8.0f) - 1.0f + (src / 200.0f)
      }
      (i.toLong, emb, src % 5)
    }
    rows.toDF("vec_id", "embedding", "label").write.parquet(d + "/embeddings.parquet")
    d
  }

  private def fp(d2: Double): Long = math.floor(d2 * (1L << 20)).toLong

  /** Unpack the codes_packed BIGINT back to the j-ordered code list —
    * the inverse of the query's shiftleft packing, so these tests keep
    * exercising the code-domain invariants on the packed spelling.
    */
  private val PqBits = 32 - Integer.numberOfLeadingZeros(graft.queries.SimilarityQueries.PqK - 1)
  private def unpack(packed: Long): Seq[Int] =
    Seq.tabulate(graft.queries.SimilarityQueries.PqM) { j =>
      ((packed >>> (j * PqBits)) & ((1L << PqBits) - 1)).toInt
    }

  /** The engine's dist²: left fold over (x−y)² in index order, 0.0 init. */
  private def dist2(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  test("codes: PqM per vector, every code in [0, PqK)") {
    val rows = SparkEntry.queries("embedding_pq_codes")(spark, dir).collect()
    assert(rows.length == NVec)
    for (r <- rows) {
      val packed = r.getLong(1)
      // nothing above bit PqM·PqBits: every code landed in its own range
      assert((packed >>> (8 * PqBits)) == 0L, s"vec ${r.getLong(0)}: stray high bits in $packed")
      val codes = unpack(packed)
      assert(codes.length == 8, s"vec ${r.getLong(0)}: ${codes.length} codes")
      assert(codes.forall(c => c >= 0 && c < 16), s"vec ${r.getLong(0)}: $codes")
      assert(r.getLong(2) >= 0L)
    }
  }

  test("exact duplicate vectors quantize identically") {
    val byId = SparkEntry.queries("embedding_pq_codes")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (k <- 0 until 20)
      assert(byId(k.toLong) == byId((100 + k).toLong),
        s"duplicate pair $k/${100 + k} diverged: ${byId(k.toLong)} vs ${byId((100 + k).toLong)}")
  }

  test("both codebooks and ann_pq agree between the driver and distributed Lloyd paths") {
    // lloydTrain's gate 0 forces the distributed loop; the default gate
    // trains these 120·PqM subvector rows on the driver. The cache is keyed
    // by corpus dir, so each path's codebook is built cold.
    import graft.queries.SimilarityQueries.{ivfpqCodebook, ivfpqReps, pqCodebook, LloydDriverMaxRows}
    def books(bound: Int) = {
      graft.operators.SessionCache.invalidate(spark, dir)
      def rows(cb: org.apache.spark.sql.DataFrame) =
        cb.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
      val pq = rows(pqCodebook(spark, dir, bound))
      val ivf = rows(ivfpqCodebook(spark, dir, ivfpqReps(spark, dir, "ivfpqCodebook"), bound))
      val ann = SparkEntry.queries("ann_pq")(spark, dir).collect().map(_.toString).sorted.toSeq
      (pq, ivf, ann)
    }
    val (driver, loop) = (books(LloydDriverMaxRows), books(0))
    graft.operators.SessionCache.invalidate(spark, dir)
    assert(driver._1.nonEmpty && driver._2.nonEmpty && driver._3.nonEmpty)
    assert(driver._1 == loop._1, "pqCodebook differs between the paths")
    assert(driver._2 == loop._2, "ivfpqCodebook differs between the paths")
    assert(driver._3 == loop._3, "ann_pq differs between the paths")
  }

  test("ann_pq matches a driver-side ADC recomputation from the codebook") {
    import org.apache.spark.sql.functions._
    val cb = graft.queries.SimilarityQueries.pqCodebook(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val codes = SparkEntry.queries("embedding_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> unpack(r.getLong(1))).toMap
    val qvecs = spark.read.parquet(dir + "/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    val expected = qvecs.map { case (qid, qv) =>
      val lut = cb.map { case ((j, cid), c) =>
        (j, cid) -> fp(dist2(qv.slice(j * 8, j * 8 + 8), c))
      }
      // toSeq first: collect on a Map with tuple results rebuilds a MAP
      // keyed by score, silently dropping tied candidates
      val best = codes.toSeq.collect { case (vid, cs) if vid != qid =>
        (cs.zipWithIndex.map { case (c, j) => lut((j, c)) }.sum, vid)
      }.min
      qid -> best
    }

    val got = SparkEntry.queries("ann_pq")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(got.keySet == expected.keySet)
    for ((qid, exp) <- expected)
      assert(got(qid) == exp, s"qid=$qid: engine ${got(qid)} vs recomputed $exp")
  }

  test("ann_pq_rerank equals driver-side shortlist-then-exact-re-rank") {
    import org.apache.spark.sql.functions._
    val cb = graft.queries.SimilarityQueries.pqCodebook(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val codes = SparkEntry.queries("embedding_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> unpack(r.getLong(1))).toMap
    val vecsById = spark.read.parquet(dir + "/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    val expected = (0L until 8L).map { qid =>
      val qv = vecsById(qid)
      val lut = cb.map { case ((j, cid), c) =>
        (j, cid) -> fp(dist2(qv.slice(j * 8, j * 8 + 8), c))
      }
      val shortlist = codes.toSeq.collect { case (vid, cs) if vid != qid =>
        (cs.zipWithIndex.map { case (c, j) => lut((j, c)) }.sum, vid)
      }.sorted.take(32).map(_._2)
      val best = shortlist.map(vid => (dist2(qv, vecsById(vid)), vid)).min
      qid -> best
    }.toMap

    val got = SparkEntry.queries("ann_pq_rerank")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(1)))).toMap
    assert(got.keySet == expected.keySet)
    for ((qid, exp) <- expected)
      assert(got(qid) == exp, s"qid=$qid: engine ${got(qid)} vs recomputed $exp")
  }

  test("ann_ivfpq matches a driver-side IVFADC recomputation") {
    import org.apache.spark.sql.functions._
    // the engine's cosine: left-fold dot, sqrt norms
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    val rows = spark.read.parquet(dir + "/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v", "label")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    val vecsById = rows.map(r => r._1 -> r._2).toMap
    val labelById = rows.map(r => r._1 -> r._3).toMap
    // cell representative = min-vec_id member; residual = v − rep(cell)
    val reps = rows.groupBy(_._3).map { case (cell, rs) =>
      cell -> vecsById(rs.map(_._1).min)
    }
    val resid = rows.map { case (vid, v, cell) =>
      vid -> v.zip(reps(cell)).map { case (x, y) => x - y }
    }.toMap
    // independent re-encode of every residual against the trained book
    val cb = graft.queries.SimilarityQueries.ivfpqCodebook(spark, dir,
      graft.queries.SimilarityQueries.ivfpqReps(spark, dir, "ivfpqCodebook"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val cidsByJ = cb.keys.groupBy(_._1).map { case (j, ks) => j -> ks.map(_._2).toSeq.sorted }
    val codes = resid.map { case (vid, rv) =>
      vid -> (0 until 8).map { j =>
        cidsByJ(j).map(cid => (dist2(rv.slice(j * 8, j * 8 + 8), cb((j, cid))), cid)).min._2
      }
    }

    val expected = (0L until 8L).map { qid =>
      val (qv, qcell) = (vecsById(qid), labelById(qid))
      // probe rule: own cell ∪ top-(NProbe−1 = 1) rep-ranked others
      val topOther = reps.toSeq.filter(_._1 != qcell)
        .map { case (cell, rv) => (-cos(qv, rv), cell) }.min._2
      val probed = Set(qcell, topOther)
      val scored = probed.toSeq.flatMap { pcell =>
        val qres = qv.zip(reps(pcell)).map { case (x, y) => x - y }
        val lut = cb.map { case ((j, cid), c) =>
          (j, cid) -> fp(dist2(qres.slice(j * 8, j * 8 + 8), c))
        }
        codes.toSeq.collect {
          case (vid, cs) if vid != qid && labelById(vid) == pcell =>
            (cs.zipWithIndex.map { case (c, j) => lut((j, c)) }.sum, vid)
        }
      }
      val best = scored.min
      // the query's exact duplicate (qid+100, byte-identical, same label)
      // sits in the always-probed own cell with identical residual codes:
      // the winner can never score above it (the IVFADC analogue of the
      // ivf ⊆ nprobe own-cell pin)
      val dupScore = scored.collectFirst { case (s, vid) if vid == qid + 100 => s }
      assert(dupScore.nonEmpty, s"qid=$qid: duplicate not in the probed scan")
      assert(best._1 <= dupScore.get,
        s"qid=$qid: winner ${best._1} scored above the own-cell duplicate ${dupScore.get}")
      qid -> best
    }.toMap

    val got = SparkEntry.queries("ann_ivfpq")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(got.keySet == expected.keySet)
    for ((qid, exp) <- expected)
      assert(got(qid) == exp, s"qid=$qid: engine ${got(qid)} vs recomputed $exp")

    // IVFADC+R: the same probed ADC scores, 32-wide shortlist by
    // (adc_fp, nn_id), exact distance re-rank — the full two-stage
    // recomputation against ann_ivfpq_rerank
    val expectedRr = (0L until 8L).map { qid =>
      val (qv, qcell) = (vecsById(qid), labelById(qid))
      val topOther = reps.toSeq.filter(_._1 != qcell)
        .map { case (cell, rv) => (-cos(qv, rv), cell) }.min._2
      val probed = Set(qcell, topOther)
      val scored = probed.toSeq.flatMap { pcell =>
        val qres = qv.zip(reps(pcell)).map { case (x, y) => x - y }
        val lut = cb.map { case ((j, cid), c) =>
          (j, cid) -> fp(dist2(qres.slice(j * 8, j * 8 + 8), c))
        }
        codes.toSeq.collect {
          case (vid, cs) if vid != qid && labelById(vid) == pcell =>
            (cs.zipWithIndex.map { case (c, j) => lut((j, c)) }.sum, vid)
        }
      }
      val shortlist = scored.sorted.take(32).map(_._2)
      qid -> shortlist.map(vid => (dist2(qv, vecsById(vid)), vid)).min
    }.toMap
    val gotRr = SparkEntry.queries("ann_ivfpq_rerank")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(1)))).toMap
    assert(gotRr.keySet == expectedRr.keySet)
    for ((qid, exp) <- expectedRr)
      assert(gotRr(qid) == exp, s"qid=$qid: rerank engine ${gotRr(qid)} vs recomputed $exp")
  }

  test("ann_pq_indexed: index-served answers are frame-equal to compute-served") {
    val fromVectors = SparkEntry.queries("ann_pq")(spark, dir)
    val fromIndex = SparkEntry.queries("ann_pq_indexed")(spark, dir)
    assert(fromIndex.exceptAll(fromVectors).count() == 0)
    assert(fromVectors.exceptAll(fromIndex).count() == 0)
    // the serve-side artifact is genuinely small: the packed-code file
    // holds ONE BIGINT per vector vs the 64-float embedding rows
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      if (d.isFile) d.length
      else Option(d.listFiles).map(_.map(f => bytes(f.getPath)).sum).getOrElse(0L)
    }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val idx = s"${graft.queries.SimilarityQueries.pqIndexRoot}/$key-k${graft.queries.SimilarityQueries.PqK}"
    val codesBytes = bytes(s"$idx/codes")
    val embBytes = bytes(s"$dir/embeddings.parquet")
    assert(codesBytes > 0 && embBytes > 0)
    assert(codesBytes < embBytes,
      s"index codes ($codesBytes B) must undercut the embeddings ($embBytes B)")
  }

  test("each JVM keeps its persisted PQ index in its own directory and deletes it at exit") {
    // two JVMs serving one corpus dir side by side must not write or read
    // each other's index files: a second JVM (PqIndexRootProbe) reports
    // its index root, which must differ from this one's and be gone once
    // it has exited
    SparkEntry.queries("ann_pq_indexed")(spark, dir).count()
    val here = graft.queries.SimilarityQueries.pqIndexRoot
    assert(java.nio.file.Files.isDirectory(here))
    val child = new ProcessBuilder(s"${sys.props("java.home")}/bin/java", "-Xmx128m",
        "-cp", sys.props("java.class.path"), "graft.PqIndexRootProbe")
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, out)
    val there = java.nio.file.Paths.get(out.linesIterator.filter(_.nonEmpty).toSeq.last)
    assert(there != here, s"both JVMs got the index root $here")
    assert(there.getParent == here.getParent, s"$there is not under the system temp dir")
    assert(!java.nio.file.Files.exists(there), s"the exited JVM left $there behind")
  }

  test("a NULL embedding at a cell's minimum vec_id leaves the IVF-PQ answers alone") {
    import org.apache.spark.sql.functions._
    // the oracle's ivfpqCtes drops the row (embedding IS NOT NULL) before
    // it picks cell representatives, so both entries must answer as on
    // the table without it. Vector 0 is cell 0's minimum vec_id and one
    // of the queries.
    val rows = spark.read.parquet(dir + "/embeddings.parquet")
    def table(df: org.apache.spark.sql.DataFrame): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-pq-null").toString
      df.write.parquet(d + "/embeddings.parquet")
      d
    }
    val withNull = table(rows.withColumn("embedding",
      when(col("vec_id") =!= 0, col("embedding"))))
    val without = table(rows.filter(col("vec_id") =!= 0))
    for (q <- Seq("ann_ivfpq", "ann_ivfpq_rerank")) {
      def answer(d: String) = SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSet
      val expected = answer(without)
      assert(expected.size == 7, s"$q: ${expected.size} answers on the table without vector 0")
      assert(answer(withNull) == expected, s"$q: the NULL embedding changed the answers")
    }
    Seq(withNull, without).foreach(graft.operators.SessionCache.invalidate(spark, _))
  }

  test("every ADC serving plan sums codes with adcSum, never an ArrayAggregate fold") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    def folds(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayAggregate])))
    val entries = Seq("ann_pq", "ann_pq_rerank", "ann_pq_indexed", "ann_ivfpq",
        "ann_ivfpq_rerank", "knn_join").filter(name => folds(SparkEntry.queries(name)(spark, dir)))
    // knn_join's plan starts at the checkpointed graph; the graph's own
    // ADC scan is checked on the frame it checkpoints
    val graph = if (graft.queries.SimilarityQueries.withKnnScan(spark, dir)(folds))
      Seq("knnGraph") else Nil
    val folding = entries ++ graph
    assert(folding.isEmpty, s"ArrayAggregate in the optimized plan of: ${folding.mkString(", ")}")
  }

  test("recon_err_fp equals the per-subspace quantization error sum") {
    val cb = graft.queries.SimilarityQueries.pqCodebook(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val vecs = spark.read.parquet(dir + "/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val rows = SparkEntry.queries("embedding_pq_codes")(spark, dir).collect()
    for (r <- rows) {
      val (vid, codes, err) = (r.getLong(0), unpack(r.getLong(1)), r.getLong(2))
      val exp = codes.zipWithIndex.map { case (c, j) =>
        fp(dist2(vecs(vid).slice(j * 8, j * 8 + 8), cb((j, c))))
      }.sum
      assert(err == exp, s"vec $vid: recon_err_fp $err vs recomputed $exp")
    }
  }
}

/** Prints this JVM's persisted PQ index root — the second JVM of PqSpec's
  * index-directory case.
  */
object PqIndexRootProbe {
  def main(args: Array[String]): Unit =
    println(graft.queries.SimilarityQueries.pqIndexRoot)
}
