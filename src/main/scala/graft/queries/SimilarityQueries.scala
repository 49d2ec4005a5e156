package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Election
import graft.operators.Election.winnersSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * The tiers a 100 TB pipeline would deploy:
  *  - brute force for a BOUNDED query set (broadcast the queries, stream the
  *    corpus — linear in corpus size, never a corpus×corpus join), in two
  *    physical forms: window-ranked, and the typed [[graft.functions.TopK]]
  *    aggregator that prunes to k map-side before the exchange;
  *  - sign-bit LSH buckets (axis-aligned hyperplanes — exact on floats, so
  *    the SQL oracle agrees bit-for-bit on bucket assignment);
  *  - IVF-style coarse partition using the provided cell assignment
  *    (`label`), searching only within the probe cell.
  *
  * Cosine is a sequential-fold dot product (see VectorFunctions) so scores
  * are deterministic doubles on both engines.
  */
object SimilarityQueries {

  private val TopK = 3
  private val NQueries = 8   // vec_id < 8 is the benchmark query set
  // 16 sign bits → 65,536 buckets. That space is FIXED, so per-bucket
  // membership still grows ~n/2¹⁶ with the corpus — the hot-bucket cap
  // ([[DedupQueries.MaxBucket]], broadcast anti-join before the
  // self-join) is what actually bounds the quadratic term; the bit width
  // only divides its constant. A bucket that hot is a dense cluster of
  // near-identical vectors (the dedup_exact/dedup_embedding regime, not
  // the search regime). Recall trade: more bits = smaller buckets = more
  // misses for near-neighbors that straddle a hyperplane; production
  // would run several independent 16-bit tables (multi-probe) and union
  // candidates — same plan shape, one more posexplode.
  // private[graft]: graft.LshStats counts this query's stages and must
  // read the REAL constants, not copies that can drift.
  private[graft] val LshBits = 16
  // Independent tables for ann_lsh_multiprobe: 4 disjoint 16-dim slices
  // of the 64-dim embedding, one sign table each.
  private[graft] val Probes = 4
  // ann_ivf_nprobe: coarse cells searched per query (production IVF's
  // nprobe knob). The cell ranker is TopK(NProbe - 1) UNIONed with the
  // query's own assignment cell (the r12 recall fix), so NProbe = 1
  // would silently degrade to own-cell-only — pin the design floor
  // loudly (the MaxCells precedent).
  private val NProbe = 2
  require(NProbe >= 2, s"NProbe=$NProbe: the nprobe plan is own-cell ∪ TopK(NProbe-1); NProbe < 2 degrades it to plain IVF silently")
  // k-means (embedding_kmeans / SemDeDup's clustering stage): cluster
  // count, Lloyd iteration count, and the fixed-point scale for centroid
  // sums. All three are DESIGN constants — the centroid relation is K
  // rows whatever the corpus size, and the iteration count is pinned (a
  // convergence loop would make the plan depth data-dependent).
  // 2^20 fixed point: embeddings are floats in [-2, 2], so |floor(x·2²⁰)|
  // ≤ 2²¹ and even 2⁴² vectors per cluster cannot overflow the BIGINT
  // component sum — while 20 fractional bits keep ~6 decimal digits,
  // well past float32 input precision.
  // K is DERIVED from the corpus, not a constant: SemDeDup's own
  // provisioning rule grows cluster count with the corpus, and the r9
  // instrument proved the fixed K=8 degenerate — at sf0.1 all 8 cells
  // exceeded MaxBucket, so dedup_semantic_kmeans emitted ZERO pairs at
  // every graded scale (recall forfeited silently; VERDICT r9 #2). The
  // target mean cell size is MaxBucket/2, so typical cells clear the
  // candidate cap with 2× headroom; the derivation is one count() at
  // plan build (the dedup_clusters eager-build precedent) and is
  // deterministic — the DuckDB oracle derives the SAME K from the same
  // count in SQL ([[kmeansCtes]]). Floor KmMinK keeps tiny corpora at
  // the r8 behavior; ceiling KmMaxK bounds the broadcast centroid list
  // (KmMaxK·dim doubles ≈ 2 MiB at dim 64) and the per-row argmin cost,
  // which the native [[graft.expressions.ArgMinDist2]] keeps codegen'd.
  private[graft] val KmMinK = 8
  private[graft] val KmMaxK = 4096
  private[graft] val KmCell = DedupQueries.MaxBucket / 2
  private[graft] def kmeansK(nVec: Long): Int =
    math.min(KmMaxK.toLong, math.max(KmMinK.toLong,
      (nVec + KmCell - 1) / KmCell)).toInt
  private[graft] val KmIter = 3
  private[graft] val KmScale = 1L << 20
  // IVF's cell count (nlist) is a DESIGN constant, not data — the
  // centroid/representative table is bounded by it however large the
  // corpus grows. limit(MaxCells) makes that bound STATIC (maxRows), so
  // the structural "no unconditioned join against an unbounded side"
  // audit can see it; with ≤ MaxCells distinct labels it drops nothing.
  private val MaxCells = 1024

  // isNotNull matches the filters the self-joins infer on their sides, so
  // every branch of a query canonicalizes identically — a precondition
  // for exchange reuse wherever a shared exchange exists (the self-join's
  // two identical children under SMJ; see DedupQueries.tokenTable for the
  // case where this pays for a whole 64-md5 aggregation). The embedding
  // scan itself is cheap; this costs nothing and never changes results
  // (vec_id is never null).
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  // ===== candidate stage =====
  // The sign-bucket cap is DedupQueries.capBuckets (the one cap); the
  // within-bucket candidate join is factored here so the operators AND
  // graft.LshStats' probe compose the same code.

  /** The within-bucket candidate self-join on `keys` (vec_id-distinct
    * pairs), sides aliased a/b.
    */
  private[graft] def lshCandidateJoin(cold: DataFrame, keys: Seq[String]): DataFrame =
    cold.as("a").join(cold.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.vec_id") =!= col("b.vec_id"))

  /** The multi-probe sign-table frame (vec_id, v, tbl, bucket) — one row
    * per (vector, 16-bit slice table); shared by `ann_lsh_multiprobe`
    * and graft.LshStats' probe.
    */
  private[graft] def signTables(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"),
        posexplode(array((0 until Probes).map(t =>
          signBucketAt(col("v"), t * LshBits, LshBits)): _*)))
      .toDF("vec_id", "v", "tbl", "bucket")
      .filter(col("bucket").isNotNull)

  /** One deterministic representative vector per cell — the cell's
    * min-vec_id member (a medoid surrogate; a float centroid MEAN is
    * summation-order-dependent and would break engine-exactness). Shared
    * by [[boundedReps]] and `embedding_outliers`
    * (distance-to-representative scoring); the rep-id frame carries only
    * rid, its label comes back from the vector table. [[cellRepsSql]] is
    * the oracle's twin.
    */
  private def cellReps(e: DataFrame): DataFrame = {
    val repIds = e.groupBy("label").agg(min(col("vec_id")).as("rid"))
      .select("rid")
    e.join(repIds, e("vec_id") === col("rid"))
      .select(col("label").as("cell"), col("v").as("rv"))
  }

  /** The ≤ [[MaxCells]] cell-representative frame with the loud overflow
    * check (shared by [[nprobeScan]], i.e. ann_ivf_nprobe and
    * ann_filtered, and by [[ivfpqScan]], where the one frame feeds the
    * probe ranking, the codebook's residuals and the codes' residuals):
    * the limit makes the
    * rep side's bound STATIC (maxRows) for the structural join audit, but
    * limit() past MaxCells rows would TRUNCATE nondeterministically and
    * silently diverge from the oracle — so overflow fails loudly first
    * (one count over the checkpointed broadcast-sized rep frame; eager
    * driver-side actions at build time are the dedup_clusters precedent).
    */
  private def boundedReps(name: String, e: DataFrame): DataFrame = {
    val repsAll = graft.operators.Checkpoints.retire(
      cellReps(e).transform(graft.operators.Checkpoints.fresh))
    val nCells = repsAll.count()
    require(nCells <= MaxCells,
      s"$name: $nCells cells exceed MaxCells=$MaxCells — " +
        "raise MaxCells (nlist is a design constant) rather than let limit() truncate")
    repsAll.limit(MaxCells)
  }

  /** The nprobe probe relation (qid, pcell): the query's OWN assignment
    * cell ∪ the top-(NProbe−1) rep-ranked OTHER cells — the r12 recall
    * fix (ivf ⊆ nprobe holds for ANY representative; see
    * ann_ivf_nprobe's rationale). Cell ranking runs through the TopK
    * aggregator (map-side pruning); the rep-scoring join is a broadcast
    * nested-loop over |queries| × nlist rows, both design constants.
    */
  private def probedCells(q: DataFrame, reps: DataFrame): DataFrame = {
    val cellK = udaf(new graft.functions.TopK(NProbe - 1))
    // own cell excluded from the ranking (it is probed unconditionally
    // below), so the union can never emit a duplicate probe row
    val others = q.crossJoin(broadcast(reps))
      .filter(col("cell") =!= col("qcell"))
      .select(col("qid"), cosine(col("qv"), col("rv")).as("csim"), col("cell"))
      .groupBy("qid")
      .agg(cellK(col("csim"), col("cell").cast("long")).as("cells"))
      .select(col("qid"), explode(col("cells")).as("c"))
      .select(col("qid"), col("c.nn_id").cast("int").as("pcell"))
    others.union(q.select(col("qid"), col("qcell").as("pcell")))
  }

  /** The nprobe scan (qid, sim, nn_id) of ann_ivf_nprobe and
    * ann_filtered: each query against every vector of its probed cells.
    * `scan` narrows the candidate side only (ann_filtered's semi-join);
    * queries, cells and representatives stay the unfiltered index.
    */
  private def nprobeScan(s: SparkSession, dir: String, name: String,
      scan: DataFrame => DataFrame = identity): DataFrame = {
    // label.isNotNull like embedding_outliers: the cell id feeds the
    // typed aggregator's primitive Long field — a null-label rep row
    // would CRASH at encoding, where the equi-join queries merely
    // drop it (results are identical either way; inner joins on label
    // can never emit a null-label row)
    val e = vecs(s, dir).filter(col("label").isNotNull)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").as("qcell"),
        col("v").as("qv"))
    val probes = probedCells(q, boundedReps(name, e))
      .join(q.select(col("qid"), col("qv")), Seq("qid"))
    scan(e).join(broadcast(probes),
        col("label") === col("pcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), cosine(col("qv"), col("v")).as("sim"),
        col("vec_id").as("nn_id"))
  }

  /** The per-query top-[[TopK]] tail of a (qid, sim, nn_id) scan as
    * (qid, rank, nn_id): the typed [[graft.functions.TopK]] aggregator
    * prunes to k per (qid, partition) map-side, so the exchange carries
    * k·|queries|·partitions rows — never ann_bruteforce's Window funnel.
    */
  private def topKPerQuery(scored: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopK(TopK))
    scored.groupBy("qid")
      .agg(topk(col("sim"), col("nn_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.nn_id").as("nn_id"))
      .orderBy("qid", "rank")
  }

  // ===== k-means (Lloyd's algorithm, the SemDeDup clustering stage) =====
  // ONE spelling of Lloyd's for every quantizer here: the flat tier
  // (embedding_kmeans, SemDeDup), the two-level quantizer's super and sub
  // tiers (knn_join's cells) and the PQ codebooks. A tier is its KEY
  // columns — the independent centroid sets trained side by side: none
  // for flat/super, `scell` for the sub tier, `j` (subspace) for PQ —
  // and its POINT column (`v`, or the PQ subvector `sv`). Centroid frames
  // are (keys…, cid, c); [[lloydSql]] is the oracle's twin.

  /** Deterministic init: the `k` vectors with the smallest
    * (md5(vec_id), vec_id) — a pseudo-random but reproducible sample,
    * selected by TakeOrderedAndProject (top-k, never a global sort). The
    * row_number window that assigns cluster ids runs over the K surviving
    * rows only, so its unpartitioned frame is bounded by design.
    */
  private[graft] def kmInit(e: DataFrame, k: Int): DataFrame = {
    val w = Window.orderBy(col("h"), col("vec_id"))
    e.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("cid", (row_number().over(w) - 1).cast("int"))
      .select(col("cid"), col("v").as("c"))
  }

  /** One keyed Lloyd assignment pass with ZERO shuffle on the point side:
    * each key's centroids collapse to one collect_list row (the whole
    * centroid frame is design-bounded — [[KmMaxK]], Ks·Ksub, PqM·PqK),
    * broadcast, and the per-row argmin is the codegen'd native
    * [[graft.expressions.ArgMinDist2]] — with K corpus-derived the HOF
    * transform's interpreted K·dim lambda fold per row would be the
    * pass's bottleneck (VectorFunctionsSpec pins the native kernel
    * bit-equal to the `argMinDist2Hof` spelling). Ties on exact distance
    * break toward the smaller cid (lexicographic (d2, cid)), mirroring
    * the oracle's `ORDER BY d2, cid`. The alternative (crossJoin +
    * groupBy vec_id + join v back) costs two corpus-scale exchanges PER
    * ITERATION; this costs none. Emits `pts`' columns plus (cid, d2);
    * callers name the final cid for their tier (cluster, sid, code).
    */
  private def lloydAssign(pts: DataFrame, cents: DataFrame, keys: Seq[String],
      pt: String): DataFrame = {
    val byKey = broadcast(cents.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    // no key: one centroid row for every point — a cross join, not an
    // equi-join on zero columns
    val joined = if (keys.isEmpty) pts.crossJoin(byKey) else pts.join(byKey, keys)
    joined
      .withColumn("best", argMinDist2(col(pt), col("cents")))
      .select(pts.columns.toSeq.map(col) ++ Seq(
        col("best").getField("cid").as("cid"),
        col("best").getField("d2").as("d2")): _*)
  }

  /** Keyed centroid update with EXACT fixed-point component sums: each
    * element is floored to a [[KmScale]]-scaled BIGINT before
    * aggregation, so the per-(keys, cid, dim) sum is integer-exact and
    * ORDER-FREE — the mean of doubles would be partitioning-dependent
    * (float addition does not associate), which breaks both the oracle
    * compare and run-to-run reproducibility. The exchange moves at most
    * (centroids × dim) aggregated rows after map-side partial agg; the
    * final division back to DOUBLE is one exactly-rounded op on
    * identical operands in both engines. A centroid that loses all
    * members disappears (standard Lloyd's; both engines agree because
    * the arithmetic does) — which is why every consumer of a trained
    * frame is keyed by cid, never positional.
    */
  private def lloydUpdate(assigned: DataFrame, keys: Seq[String], pt: String): DataFrame = {
    val k = (keys :+ "cid").map(col)
    assigned
      .select(k :+ posexplode(col(pt)): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(sum(floor(col("col") * KmScale).cast("long")).as("fsum"),
        count(lit(1)).as("n"))
      .select(k ++ Seq(col("pos"),
        (col("fsum").cast("double") / (col("n").cast("double") * KmScale.toDouble)).as("cv")): _*)
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pcs"))
      .select(k :+ transform(col("pcs"), p => p.getField("cv")).as("c"): _*)
  }

  /** Training rows (rows of `pts`) up to which [[lloydTrain]] runs on the
    * driver. The flat tier sets the bound: its K grows with the corpus
    * (n/KmCell), so its driver rounds cost n²·dim/KmCell multiply-adds on
    * one thread. At this bound (K = 164, dim 64) the driver path trained
    * in 1.3-1.8 s against the distributed loop's 2.2-2.6 s on a 4-core
    * local[4] session; at twice the bound it was the slower one (5.1-5.6 s
    * against 3.7-4.1 s). The keyed tiers' rows are far cheaper (K = PqK or Ksub
    * per key).
    */
  private[graft] val LloydDriverMaxRows = 1 << 13

  /** The training loop every tier runs: `init`, then [[KmIter]] rounds of
    * update ∘ assign over `pts`; returns the trained (keys…, cid, c) frame
    * (design-bounded, so its callers session-cache it). `init` is, in
    * every tier, per key the `k` points of `pts` with the smallest
    * (md5(vec_id), vec_id), cid their rank — [[kmInit]], [[km2SubInit]]
    * and the PQ seed are that rule's funnel-free distributed spellings.
    *
    * Two paths compute the same centroids:
    *  - DRIVER finish: one bounded collect, `limit(driverMaxRows + 1)`,
    *    both gates the path and fetches (vec_id, keys…, pt). If it returns
    *    at most `driverMaxRows` rows, the seed rule and the rounds run in
    *    plain Scala over those rows ([[lloydTrainLocal]]; `init` is never
    *    run) and the result is a local relation: training reads `pts`
    *    once.
    *  - DISTRIBUTED otherwise: KmIter broadcast-argmin passes over `pts`
    *    plus KmIter tiny exchanges, materialized as a fresh checkpoint.
    *    With `spreadPts` > 0, `pts` is first round-robined over that many
    *    partitions and checkpointed for the passes (and freed after). The
    *    probe costs one more evaluation of `pts` up to the limit.
    * Bit-identical because both paths use the same argmin kernel and the
    * same integer sums, which do not depend on the order rows arrive in.
    * `driverMaxRows` is [[LloydDriverMaxRows]]; specs pass 0 (never the
    * driver) to run both paths on the same inputs. The tier's final
    * assignment is one more pass either way: its output is corpus-sized.
    */
  private[graft] def lloydTrain(init: DataFrame, k: Int, pts: DataFrame, keys: Seq[String],
      pt: String, driverMaxRows: Int = LloydDriverMaxRows,
      spreadPts: Int = 0): DataFrame =
    graft.operators.Checkpoints.collectAtMost(
        pts.select((("vec_id" +: keys) :+ pt).map(col): _*), driverMaxRows) match {
      case Some(rows) => lloydTrainLocal(rows, k, keys, pts.schema)
      case None =>
        val p =
          if (spreadPts > 0) graft.operators.Checkpoints.corpusScaled(pts.repartition(spreadPts))
          else pts
        var c = init
        for (_ <- 1 to KmIter) c = lloydUpdate(lloydAssign(p, c, keys, pt), keys, pt)
        val trained = graft.operators.Checkpoints.fresh(c)
        if (spreadPts > 0) graft.operators.Checkpoints.free(p)
        trained
    }

  /** [[lloydTrain]] on the driver over the collected (vec_id, keys…, pt)
    * rows; returns (keys…, cid, c) as a local relation. Each step
    * restates its distributed twin:
    *  - seed: per key the `k` rows smallest by (md5 hex of vec_id's
    *    string, vec_id), nulls first as in ORDER BY, cid = rank.
    *  - assign ([[lloydAssign]]): a key's centroid list goes through the
    *    SAME kernel, [[graft.expressions.ArgMinDist2Util.argMin]] (ties to
    *    the smaller cid). A point whose key has no centroid, or a null
    *    key, is dropped, as by the equi-join; with no keys every point
    *    sees the one (possibly empty) list, as by the cross join.
    *  - update ([[lloydUpdate]]): per (keys, cid, position) the wrapping
    *    Long sum of floor(x·KmScale) and the member count, then one
    *    double division. A null element counts but adds nothing, an
    *    unassigned point forms the null-cid group, and a centroid left
    *    without members disappears, as in SQL.
    */
  private def lloydTrainLocal(rows: Array[org.apache.spark.sql.Row], k: Int,
      keys: Seq[String], ptsSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    type Vec = scala.collection.Seq[Any]
    val nk = keys.length
    def keyOf(r: org.apache.spark.sql.Row): Seq[Any] = (1 to nk).map(r.get)
    def vecOf(r: org.apache.spark.sql.Row): Vec = r.getAs[Vec](nk + 1)
    // the kernel reads primitive doubles from an UnsafeArrayData, as it
    // does inside the codegen'd pass; only a null element needs boxing
    def arrayData(v: Vec): ArrayData =
      if (v.contains(null)) new GenericArrayData(v.toArray)
      else UnsafeArrayData.fromPrimitiveArray(v.map(_.asInstanceOf[Double]).toArray)
    val points = rows.map { r =>
      val v = vecOf(r)
      (keyOf(r), v, if (v == null) null else arrayData(v))
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val hex = java.util.HexFormat.of()
    def seedKey(id: Any): (Option[String], Option[Long]) = (
      Option(id).map(x => hex.formatHex(md5.digest(x.toString.getBytes("UTF-8")))),
      Option(id).map(_.asInstanceOf[Number].longValue))
    val seedOrder = Ordering.Tuple2(Ordering.Option(Ordering.String),
      Ordering.Option(Ordering.Long))
    var cents: Seq[(Seq[Any], Any, Vec)] = rows.toSeq.groupBy(keyOf).toSeq.flatMap {
      case (key, members) =>
        members.map(r => (seedKey(r.get(0)), r)).sortBy(_._1)(seedOrder)
          .take(k).zipWithIndex.map { case ((_, r), cid) => (key, cid: Any, vecOf(r)) }
    }
    final class Sums {
      val fsum, n = scala.collection.mutable.ArrayBuffer.empty[Long]
      val some = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      def add(v: Vec): Unit = v.indices.foreach { p =>
        if (p == n.length) { fsum += 0L; n += 0L; some += false }
        n(p) += 1
        if (v(p) != null) {
          fsum(p) += math.floor(v(p).asInstanceOf[Double] * KmScale).toLong
          some(p) = true
        }
      }
      def mean: Vec = n.indices.map(p =>
        if (some(p)) fsum(p).toDouble / (n(p).toDouble * KmScale.toDouble) else null)
    }
    val noCents: ArrayData = new GenericArrayData(Array.empty[Any])
    for (_ <- 1 to KmIter) {
      val lists: Map[Seq[Any], ArrayData] = cents.groupBy(_._1).map { case (key, cs) =>
        key -> new GenericArrayData(cs.map { case (_, cid, c) =>
          new GenericInternalRow(Array[Any](cid, if (c == null) null else arrayData(c)))
        }.toArray)
      }
      val groups = scala.collection.mutable.LinkedHashMap.empty[(Seq[Any], Any), Sums]
      points.foreach { case (key, raw, v) =>
        val list =
          if (nk == 0) Some(lists.getOrElse(key, noCents))
          else if (key.contains(null)) None
          else lists.get(key)
        list.foreach { cs =>
          val best = if (v == null) null else graft.expressions.ArgMinDist2Util.argMin(v, cs)
          val cid: Any = if (best == null) null else best.getInt(1)
          if (raw != null && raw.nonEmpty) groups.getOrElseUpdate((key, cid), new Sums).add(raw)
        }
      }
      cents = groups.toSeq.map { case ((key, cid), g) => (key, cid, g.mean) }
    }
    val schema = StructType(keys.map(ptsSchema(_).copy(nullable = true)) ++ Seq(
      StructField("cid", IntegerType, nullable = true),
      StructField("c", ArrayType(DoubleType, containsNull = true), nullable = true)))
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.SparkSession.active.createDataFrame(
      cents.map { case (key, cid, c) => org.apache.spark.sql.Row.fromSeq(key ++ Seq(cid, c)) }.asJava,
      schema)
  }

  /** The (vec_id, v) Lloyd training/assignment corpus — ONE spelling
    * shared by [[kmeansAssign]] and the two-level quantizer
    * ([[withKm2Cells]]), so a cached-centroid key and the corpus it was
    * trained on cannot drift. The repartition rationale lives in
    * [[kmeansAssign]].
    */
  private[graft] def kmCorpus(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).filter(col("v").isNotNull).select("vec_id", "v")
      .repartition(s.sparkContext.defaultParallelism)

  /** Final flat Lloyd assignment (vec_id, v, cluster, d2) after
    * [[KmIter]] update rounds — shared with dedup_semantic_kmeans
    * (DedupQueries), which takes these clusters as its candidate cells.
    * Total cost: KmIter+1 corpus scans, KmIter tiny (K·dim-row)
    * exchanges, zero corpus-scale shuffles.
    */
  private[graft] def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    // The assignment pass is compute-AMPLIFIED: K·dim multiply-adds per
    // row, with K corpus-derived — so a compact-in-bytes embeddings table
    // (51 MiB at sf10) does K≈4000-centroid argmins over however few
    // row groups the files happen to hold. Parquet splits at row-group
    // granularity, so the scan's task count is LAYOUT-bound, not
    // size-bound (measured: 4 single-row-group files pinned all four
    // Lloyd passes to cpu/wall ≈ 4 on a 32-core host — 171 s where the
    // compute spread wide costs ~20 s). One round-robin shuffle of the
    // corpus bytes before the loop is negligible against KmIter+1
    // compute passes and buys full-width occupancy on any layout (the
    // executed plan reuses the exchange across the Lloyd passes —
    // ReusedExchange, one instance per projection shape); the
    // fixed-point centroid sums are order-free, so the shuffle cannot
    // perturb results.
    val e = kmCorpus(s, dir)
    // Trained centroids are session-cached (K·dim-bounded, K ≤ KmMaxK —
    // a few thousand narrow rows): embedding_kmeans,
    // dedup_semantic_kmeans, and dedup_clusters_multi's edge union all
    // need this assignment, and the Lloyd loop (KmIter+1 compute-
    // amplified corpus passes plus the K-derivation count) is its whole
    // cost — with warm centroids each later consumer pays ONE broadcast
    // argmin pass. The fixed-point centroid arithmetic is deterministic,
    // so cached-vs-retrained centroids are bit-identical and the oracle's
    // CTE chain still mirrors them exactly.
    lloydAssign(e, kmeansCentroids(s, dir, e), Seq(), "v")
      .withColumnRenamed("cid", "cluster")
  }

  /** The session-cached trained centroid frame (cid, c) of
    * [[kmeansAssign]]. `e` must be the same (vec_id, v) corpus the
    * assignment pass scans; `driverMaxRows` is [[lloydTrain]]'s gate.
    */
  private[graft] def kmeansCentroids(s: SparkSession, dir: String, e: DataFrame,
      driverMaxRows: Int = LloydDriverMaxRows): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "kmeans-centroids") {
      // K from the corpus count — one eager build-time action (the
      // dedup_clusters precedent); deterministic, and the oracle's SQL
      // derives the identical K from the identical COUNT(*)
      val k = kmeansK(e.count())
      lloydTrain(kmInit(e, k), k, e, Seq(), "v", driverMaxRows)
    }

  // ===== two-level coarse quantizer (the kNN graph's cell structure) =====
  // The r15 sf30 probe measured the graph's cold build ×9.8 for 3× data
  // (402.8 s vs 41.3 s — `git show e9e7a22:BENCH_sf30_new_r15.json`):
  // the corpus crossed the flat quantizer's KmMaxK=4096 ceiling, K
  // stopped growing, mean cell size grew ∝ n, and the cell-equi ADC
  // join reopened the quadratic-within-cell door the derived-K rule
  // exists to close. But
  // simply UNCAPPING the flat K moves the quadratic to the OTHER side:
  // each Lloyd assignment pass is K·dim work per row, and with
  // K = n/KmCell that is n²·dim/KmCell per pass — the two terms meet and
  // there is no flat K that keeps both linear. The standard production
  // answer (IVF-on-IVF — FAISS's IndexIVF coarse quantizer is itself an
  // index; Jégou et al.'s two-level variant) is a HIERARCHICAL coarse
  // quantizer: Ks = ceil(√K) super-cells Lloyd-trained on the corpus,
  // then Ksub = ceil(K/Ks) sub-cells Lloyd-trained WITHIN each
  // super-cell (the same fixed-point/md5-seed/tie-break determinism
  // contract, so the whole chain still mirrors exactly in SQL). Cell
  // count Ks·Ksub ≥ K keeps mean cell size ≤ KmCell — the ADC join stays
  // linear — while every per-row assignment/probe argmin costs
  // (Ks + Ksub)·dim ≈ 2√K·dim instead of K·dim: total build work is
  // O(n·√(n/KmCell)·dim + n·KmCell·PqM), sub-quadratic with small
  // constants (at 1000× the depth can grow to three levels the same
  // way — same kernel, one more tier; no graded or probed SF needs it).
  // Used by the kNN GRAPH path only: SemDeDup's own recipe
  // (embedding_kmeans / dedup_semantic_kmeans) is flat k-means by
  // definition and keeps [[kmeansK]]'s capped derivation — the cap is
  // honest THERE because those operators' candidate caps bound the cell
  // join independently; the graph's join has no cap (capping forfeits
  // graph recall silently), so its cells must stay design-sized at any n.

  /** Derived (Ks, Ksub): Ks = ceil(√K) supers, Ksub = ceil(K/Ks) subs
    * per super, K = max(KmMinK, ceil(n/KmCell)) UNCAPPED. ceil∘sqrt on
    * an integer-valued double is exactly rounded (IEEE) — the oracle's
    * CEIL(SQRT(...)) computes the identical value from the identical
    * COUNT(*).
    */
  private[graft] def km2K(nVec: Long): (Int, Int) = {
    val k = math.max(KmMinK.toLong, (nVec + KmCell - 1) / KmCell)
    val ks = math.ceil(math.sqrt(k.toDouble)).toLong
    val kb = (k + ks - 1) / ks
    (ks.toInt, kb.toInt)
  }

  /** Trained super-centroids (cid, c) — [[kmeansCentroids]]' lifecycle
    * (session-cached, Ks·dim-bounded): the flat tier's training at k = Ks.
    */
  private def km2SuperCentroids(s: SparkSession, dir: String, e: DataFrame,
      ks: Int, driverMaxRows: Int): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "km2-super-centroids") {
      lloydTrain(kmInit(e, ks), ks, e, Seq(), "v", driverMaxRows)
    }

  /** Per-super-cell sub init (scell, cid, c): each super-cell's first
    * Ksub members by (md5(vec_id), vec_id) — [[kmInit]]'s seed rule
    * PARTITIONED BY scell. The window's partitions are super-cells
    * (~n/Ks ≈ √(n·KmCell) rows each — sub-linear per partition, never a
    * global frame).
    */
  private[graft] def km2SubInit(sa: DataFrame, kb: Int): DataFrame = {
    val w = Window.partitionBy(col("scell")).orderBy(col("h"), col("vec_id"))
    sa.withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kb)
      .select(col("scell"), (col("rn") - 1).cast("int").as("cid"), col("v").as("c"))
  }

  /** Trained sub-centroids (scell, cid, c): the Lloyd loop keyed by scell
    * — the per-scell sub lists are Ks grouped broadcast rows (total K·dim
    * doubles; past broadcast size the same plan is a hash join on scell),
    * and a member-bearing super-cell always keeps ≥ 1 sub, its members
    * being assigned among its OWN subs only. Session-cached (Ks·Ksub·dim
    * ≈ K·dim doubles: 6 MB at sf30, ~1/(8·KmCell) of corpus bytes in
    * general). `sa` must be the checkpointed super FINAL assignment the
    * KmIter+1 sub passes scan.
    */
  private def km2SubCentroids(s: SparkSession, dir: String, sa: DataFrame,
      kb: Int, driverMaxRows: Int): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "km2-sub-centroids") {
      lloydTrain(km2SubInit(sa, kb), kb, sa, Seq("scell"), "v", driverMaxRows)
    }

  /** The two-level quantizer as [[withKm2Cells]] hands it out: trained
    * super-centroids `sc` (cid, c), sub-centroids `bc` (scell, cid, c),
    * Ksub `kb`, and the checkpointed FINAL assignment `asg` (vec_id, v,
    * scell, cluster) with the global cell id cluster = scell·Ksub + sub
    * cid (int — scell·Ksub ≤ Ks·Ksub ≈ K ≤ n/KmCell).
    */
  private[graft] case class Km2Cells(sc: DataFrame, bc: DataFrame, kb: Int, asg: DataFrame)

  /** `use` applied to the two-level cells — the ONE build of the
    * assignment knn_join's graph runs on (and the spec's probe-containment
    * and invariance checks read). The super final assignment is
    * checkpointed for the KmIter+1 sub-training scans (lazy, each sub pass
    * re-ran the super argmin corpus pass) and freed once `asg` is
    * materialized; `asg` is checkpointed for its consumers and freed once
    * `use` returns, so `use` must materialize what it keeps.
    * `driverMaxRows` is both tiers' [[lloydTrain]] gate.
    */
  private[graft] def withKm2Cells[T](s: SparkSession, dir: String,
      driverMaxRows: Int = LloydDriverMaxRows)(use: Km2Cells => T): T = {
    val e = kmCorpus(s, dir)
    val (ks, kb) = km2K(e.count())
    val sc = km2SuperCentroids(s, dir, e, ks, driverMaxRows)
    val sa = graft.operators.Checkpoints.corpusScaled(
      lloydAssign(e, sc, Seq(), "v").select(col("vec_id"), col("v"), col("cid").as("scell")))
    val bc = km2SubCentroids(s, dir, sa, kb, driverMaxRows)
    val asg = graft.operators.Checkpoints.corpusScaled(
      lloydAssign(sa, bc, Seq("scell"), "v")
        .select(col("vec_id"), col("v"), col("scell"),
          (col("scell") * kb + col("cid")).cast("int").as("cluster")))
    graft.operators.Checkpoints.free(sa)
    val out = use(Km2Cells(sc, bc, kb, asg))
    graft.operators.Checkpoints.free(asg)
    out
  }

  // ===== product quantization (Jégou/Douze/Schmid, TPAMI 2011) =====
  // The at-scale ANN memory trade int8 quantization can't reach: split
  // each vector into PqM subspaces, k-means each subspace to PqK
  // codewords, store each vector as PqM small codes — 64 dims × 4 B
  // (256 B) become 8 × 4-bit codes (4 B), 64× — and answer queries with
  // asymmetric distance computation (ADC): per query ONE PqM·PqK lookup
  // table of exact query-to-codeword distances, then each corpus vector
  // costs PqM table probes, no float math. All training arithmetic
  // reuses the Lloyd primitives' determinism contract (md5-seeded init,
  // d2-then-cid tie-break, fixed-point exact centroid sums), so the
  // whole chain — codebooks, codes, ADC ranks — mirrors exactly in the
  // DuckDB oracle. PqM/PqDsub are pinned to the 64-dim embedding layout
  // (the multiprobe slice precedent).
  private[graft] val PqM = 8
  private[graft] val PqDsub = 8
  // 16 codewords per subspace: they train meaningfully on the 500
  // vectors of the sf0.01 oracle scale, where 256 would give each
  // codeword about two vectors. Every derived relation (codebook rows,
  // LUT slots, packed-code width) and every oracle string is built from
  // this value.
  private[graft] val PqK = 16
  // Bits per code in the packed-BIGINT code word (embedding_pq_codes
  // emits ONE integer, not an array — the driver's pandas gate cannot
  // sort array cells; TextQueries' inverted_index rule). ceil(log2(PqK));
  // 8 subspaces × 4 bits = 32 bits at the default.
  private[graft] val PqBits = 32 - Integer.numberOfLeadingZeros(PqK - 1)
  // ADC shortlist size for the two-stage form (ann_pq_rerank): the
  // integer scan nominates PqRerank candidates per query, exact float
  // distance re-ranks only those — measured here, 4-bit ADC alone puts
  // the true neighbor at exact-rank ≤ ~50 of 2,000 (median ~8), and the
  // 32-wide re-rank recovers it; at 100 TB the re-rank reads PqRerank
  // full vectors per query instead of the corpus.
  private[graft] val PqRerank = 32

  /** knn_join: neighbors kept per corpus vector (the kNN-graph degree —
    * SemDeDup/semantic-clustering consumers want a small constant).
    */
  private[graft] val KnnK = 3

  /** ann_filtered's demo predicate value (documents.lang). A design
    * constant — the operator's shape admits ANY per-id predicate; the
    * oracle and the spec read the same value.
    */
  private[graft] val AnnFilterLang = "en"

  /** Subvector relation (vec_id, j, sv): one row per (vector, subspace),
    * `sv` the j-th PqDsub-dim slice. Linear ×PqM expansion of the corpus
    * — the training set every subquantizer is fit on.
    */
  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("j"), col("v"))
      .select(col("vec_id"), col("j"),
        slice(col("v"), col("j") * lit(PqDsub) + lit(1), lit(PqDsub)).as("sv"))

  /** Encode pass (vec_id, j, sv, code, d2): per (vector, subspace) the
    * argmin codeword of THAT subspace — the Lloyd assignment keyed by j
    * over [[pqSub]] of `e`, one broadcast argmin scan, no corpus shuffle.
    */
  private def pqEncode(e: DataFrame, cb: DataFrame): DataFrame =
    lloydAssign(pqSub(e), cb, Seq("j"), "sv").withColumnRenamed("cid", "code")

  /** Train-once codebooks (j, cid, c) — PqM·PqK rows, design-bounded ⇒
    * SessionCache-admissible; embedding_pq_codes and ann_pq both consume
    * them, each then paying one broadcast-argmin encode pass (the
    * kmeans-centroids lifecycle). The init seed is the PqK smallest
    * (md5(vec_id), vec_id) vectors — every subquantizer trains from the
    * SAME seed vectors' slices, which is the published recipe (one
    * training set, M independent subspace quantizers). `driverMaxRows`
    * is [[lloydTrain]]'s gate.
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String,
      driverMaxRows: Int = LloydDriverMaxRows): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "pq-codebook") {
      trainPqCodebook(
        vecs(s, dir).filter(col("v").isNotNull).select("vec_id", "v"),
        s.sparkContext.defaultParallelism, driverMaxRows)
    }

  /** The keyed Lloyd training body over ANY (vec_id, v) frame — shared by
    * [[pqCodebook]] (raw vectors) and [[ivfpqCodebook]] (IVF residuals);
    * one spelling so the two codebooks' training recipes cannot drift.
    * The seed is [[kmInit]]'s PqK vectors sliced per subspace; training
    * is the Lloyd loop keyed by j over the subvectors. Only the
    * distributed path spreads the subvector table over `parallelism`
    * partitions and checkpoints it for the KmIter training scans; the
    * driver path reads it once, unshuffled.
    */
  private def trainPqCodebook(e: DataFrame, parallelism: Int,
      driverMaxRows: Int): DataFrame = {
    val seed = kmInit(e, PqK)
      .select(col("cid"), explode(sequence(lit(0), lit(PqM - 1))).as("j"), col("c"))
      .select(col("j"), col("cid"),
        slice(col("c"), col("j") * lit(PqDsub) + lit(1), lit(PqDsub)).as("c"))
    lloydTrain(seed, PqK, pqSub(e), Seq("j"), "sv", driverMaxRows, spreadPts = parallelism)
  }

  // ===== IVF-PQ (IVFADC — Jégou/Douze/Schmid, TPAMI 2011 §IV) =====
  // The coarse-partition + compressed-residual composition production ANN
  // actually deploys: PQ alone scans every code; IVF alone stores full
  // vectors. IVFADC stores each vector as (cell, PQ codes of its RESIDUAL
  // v − centroid(cell)) and answers a query by probing nprobe cells,
  // building one ADC table per (query, probed cell) in the probed cell's
  // residual frame, and scanning only those cells' codes. Residuals are
  // against the cell's min-vec_id medoid surrogate (cellReps — the
  // ann_ivf_nprobe determinism argument: a float centroid MEAN is
  // summation-order-dependent), and the subtraction is elementwise IEEE —
  // exactly rounded, so the whole chain mirrors in DuckDB.

  /** The IVF-PQ corpus, [[ivfpqCtes]]' `e`: vectors with a cell and an
    * embedding — a NULL embedding can neither represent a cell nor query.
    */
  private def ivfpqCorpus(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).filter(col("label").isNotNull && col("v").isNotNull)

  /** [[boundedReps]] of [[ivfpqCorpus]] — the one rep frame an IVF-PQ scan builds. */
  private[graft] def ivfpqReps(s: SparkSession, dir: String, name: String): DataFrame =
    boundedReps(name, ivfpqCorpus(s, dir))

  /** Residual relation (vec_id, label, v = vector − its cell's
    * representative in `reps`). Broadcast join against the ≤ MaxCells
    * rep frame — one projection pass, no corpus shuffle.
    */
  private def ivfResiduals(e: DataFrame, reps: DataFrame): DataFrame =
    e.join(broadcast(reps), col("label") === col("cell"))
      .select(col("vec_id"), col("label"), vsub(col("v"), col("rv")).as("v"))

  /** Train-once RESIDUAL codebooks (j, cid, c) — [[pqCodebook]]'s
    * lifecycle (PqM·PqK rows, SessionCache-admissible) over
    * [[ivfResiduals]] against `reps` ([[ivfpqReps]]) — read only when
    * cold, and training is eager, so the cache keeps no reference to the
    * retired `reps`. Residual PQ is what makes the composition work:
    * residual magnitudes are small and centered, so PqK codewords spend
    * their resolution on within-cell structure instead of re-encoding
    * cell positions.
    */
  private[graft] def ivfpqCodebook(s: SparkSession, dir: String, reps: DataFrame,
      driverMaxRows: Int = LloydDriverMaxRows): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "ivfpq-codebook") {
      trainPqCodebook(ivfResiduals(ivfpqCorpus(s, dir), reps).select("vec_id", "v"),
        s.sparkContext.defaultParallelism, driverMaxRows)
    }

  /** Every vector's PqM codes against the trained raw-vector codebooks. */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    pqEncode(vecs(s, dir).filter(col("v").isNotNull).select("vec_id", "v"),
      pqCodebook(s, dir))

  /** Per-query dense ADC table (qid, lut: ARRAY of PqM·PqK lfp slots)
    * over codebook `cb` for the NQueries point queries — the stage
    * ann_pq, ann_pq_rerank and ann_pq_indexed share ([[pqLutOf]]).
    */
  private def pqLut(e: DataFrame, cb: DataFrame): DataFrame =
    pqLutOf(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      cb)

  /** The ONE ADC-table stage: (keys…, qv) → (keys…, lut) over codebook
    * `cb`. Keys are `qid` for the flat scans (knn_join's corpus-side
    * serving makes every vector a query, hence an arbitrary query
    * frame) and `(qid, pcell)` for IVFADC, whose `qv` is the query's
    * residual against the probed cell. Linear: ×(PqM·PqK) expansion of
    * the query frame, grouped straight back to one row per key. Slots
    * are keyed j·PqK + cid, not positional, because a codeword can die
    * in training.
    */
  private def pqLutOf(q: DataFrame, cb: DataFrame,
      keys: Seq[String] = Seq("qid")): DataFrame = {
    val k = keys.map(col)
    q
      .select(k ++ Seq(explode(sequence(lit(0), lit(PqM - 1))).as("j"), col("qv")): _*)
      .select(k ++ Seq(col("j"),
        slice(col("qv"), col("j") * lit(PqDsub) + lit(1), lit(PqDsub)).as("qs")): _*)
      .join(cb, Seq("j"))
      .select(k ++ Seq((col("j") * PqK + col("cid")).as("slot"),
        floor(dist2(col("qs"), col("c")) * KmScale).cast("long").as("lfp")): _*)
      .groupBy(k: _*)
      .agg(map_from_arrays(collect_list(col("slot")),
        collect_list(col("lfp"))).as("m"))
      // DENSE slot array (PqM·PqK entries, NULL at dead-codeword slots —
      // which no emitted code ever references): the serving scan's probe
      // becomes an O(1) codegen'd element_at instead of an O(PqK) keyed
      // map lookup inside an interpreted lambda. One 128-probe transform
      // per QUERY row buys PqM O(1) probes per CANDIDATE row — the side
      // of the trade that scales ([[adcSum]]).
      .select(k :+ transform(sequence(lit(0), lit(PqM * PqK - 1)),
        s0 => element_at(col("m"), s0)).as("lut"): _*)
  }

  /** Fully codegen'd ADC sum Σⱼ lut[j·PqK + codes[j]] over [[pqLutOf]]'s
    * DENSE slot array: PqM statically-unrolled element_at probes (both
    * 1-based) folded with `+` — ordinary Catalyst expressions end to
    * end, so the serving scan's hot loop stays inside whole-stage
    * codegen. The HOF spelling this replaced (aggregate ∘ zip_with over
    * a keyed MAP) ran interpreted with an O(PqK) scan per probe — knn
    * measured it at ~10× this form's cost on the corpus-side join.
    */
  private def adcSum(codes: Column, lut: Column): Column =
    (0 until PqM).map(j =>
      element_at(lut, element_at(codes, j + 1) + lit(j * PqK + 1)))
      .reduce(_ + _)

  /** (vec_id, j, code) → (vec_id, codes): each vector's PqM codes as one
    * j-ordered array, the shape [[adcSum]] reads.
    */
  private def codeArrays(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("code")))).as("jc"))
      .select(col("vec_id"), transform(col("jc"), x => x.getField("code")).as("codes"))

  /** The persisted index's (vec_id, codes): each packed BIGINT code word
    * unpacked by shift/mask (exact integer ops) into [[codeArrays]]' shape.
    */
  private def packedCodes(s: SparkSession, idx: String): DataFrame = {
    val mask = (1L << PqBits) - 1
    s.read.parquet(s"$idx/codes")
      .select(col("vec_id"),
        expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"j -> CAST(shiftright(codes_packed, j * $PqBits) & ${mask}L AS INT))")
          .as("codes"))
  }

  /** The ADC scan every PQ entry runs: `codes` ⋈ `lut` on `on` minus
    * self-matches, scored (qid, nn_id, adc_fp) by [[adcSum]].
    */
  private def adcScan(codes: DataFrame, lut: DataFrame, on: Column = lit(true)): DataFrame =
    codes.join(lut, on && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        adcSum(col("codes"), col("lut")).as("adc_fp"))

  /** Rank-1 per query: the (score, nn_id)-least candidate, ties to the
    * smaller nn_id; twin [[rank1Sql]].
    */
  private def nearest(scored: DataFrame, score: String): DataFrame =
    Election.winners(scored, Seq("qid"), Seq(Election.asc(score), Election.asc("nn_id")),
        Seq("nn_id", score))
      .orderBy("qid")

  /** Two-stage PQ retrieval's tail: the PqRerank best ADC candidates of
    * `scored` per query (TopK ranks score DESC, id ASC, so the negated
    * integer ADC ranks adc ASC; a ≤ 2³⁰ long negates into an exactly
    * representable double), re-ranked by exact distance against the full
    * vectors of `e`. Shortlist membership is deterministic (integer
    * scores, nn_id ties), so both engines shortlist the SAME set.
    */
  private def pqRerank(scored: DataFrame, e: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopK(PqRerank))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val shortlist = scored
      .groupBy("qid")
      .agg(topk((-col("adc_fp")).cast("double"), col("nn_id")).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nn_id").as("nn_id"))
    nearest(
      shortlist
        .join(e.select(col("vec_id").as("nn_id"), col("v")), Seq("nn_id"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("nn_id"), dist2(col("qv"), col("v")).as("d2")),
      "d2")
  }

  /** The IVFADC scan (qid, nn_id, adc_fp) shared by ann_ivfpq and
    * ann_ivfpq_rerank: probed cells per query ([[probedCells]]), one LUT
    * per (query, probed cell) over the query's residual AGAINST THAT
    * CELL, and the residual codes of the probed cells only — the
    * cell-equi broadcast join IS the "scan only probed cells" step, so
    * everything outside the nprobe cells is filtered before any ADC
    * arithmetic.
    */
  private def ivfpqScan(s: SparkSession, dir: String, name: String): DataFrame = {
    val e = ivfpqCorpus(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").as("qcell"), col("v").as("qv"))
    val reps = ivfpqReps(s, dir, name)
    val cb = ivfpqCodebook(s, dir, reps)
    val pres = probedCells(q, reps)
      .join(q.select(col("qid"), col("qv")), Seq("qid"))
      .join(broadcast(reps), col("pcell") === col("cell"))
      .select(col("qid"), col("pcell"), vsub(col("qv"), col("rv")).as("qv"))
    // residual codes + owning cell: the label join-back is 1:1 on the
    // aggregation key, so the groupBy's vec_id partitioning is reused
    // on the left and the right moves only (vec_id, label) pairs
    val codes = codeArrays(pqEncode(ivfResiduals(e, reps).select("vec_id", "v"), cb))
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    adcScan(codes, broadcast(pqLutOf(pres, cb, Seq("qid", "pcell"))),
      col("label") === col("pcell"))
  }

  // ===== persisted PQ index: the production build/serve split =====
  // The BUILD job is the expensive offline pass (train codebooks, encode
  // the corpus); what ships to the serving tier is the index — the
  // PqM·PqK-row codebook plus ONE packed BIGINT per vector, 64× smaller
  // than the float vectors. The SERVE side (ann_pq_indexed) reads ONLY
  // those parquet files plus the bounded query set; the raw embeddings
  // never leave the build job. Built once per (JVM, corpus dir, PqK)
  // under [[pqIndexRoot]]; parquet round-trips BIGINT and
  // ARRAY<DOUBLE> exactly, so index-served answers are bit-identical to
  // ann_pq's (the shared oracle string asserts exactly that).
  private val builtIndexes = scala.collection.mutable.Set[String]()

  /** This JVM's own index root under the system temp dir, deleted at
    * exit: two JVMs serving one corpus dir never share index files.
    */
  private[graft] lazy val pqIndexRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-pq-index-")
    sys.addShutdownHook(scala.util.Try(java.nio.file.Files.walk(root)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))))
    root
  }

  private def pqIndexDir(s: SparkSession, dir: String): String = synchronized {
    // Pack-width envelope. embedding_pq_codes (the ORACLE-compared pack)
    // requires PqM·PqBits ≤ 63 because a negative packed BIGINT would
    // have to hash-match DuckDB's arithmetic. THIS pack never crosses
    // engines — it round-trips Spark→parquet→Spark only — so the ==64
    // case (PqK=256: the j=7 field occupies the sign bit) is admitted and
    // is exact by construction: the per-group SUM adds PqM contributions
    // with DISJOINT bit ranges (no carries, so the 64-bit pattern is
    // the bitwise OR even when the j=7 addend wraps negative), parquet
    // stores the INT64 pattern verbatim, and the decode's arithmetic
    // shiftright sign-extends only ABOVE the `& mask` window. Anything
    // past 64 bits would silently corrupt field j=7 — fail loudly.
    require(PqM * PqBits <= 64,
      s"pqIndexDir: PqM*PqBits=${PqM * PqBits} > 64 cannot pack one BIGINT" +
        " code word; a wider config needs a two-word layout")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = s"$pqIndexRoot/$key-k$PqK"
    if (!builtIndexes.contains(out)) {
      pqCodebook(s, dir).write.mode("overwrite").parquet(s"$out/codebook")
      pqCodes(s, dir)
        .groupBy("vec_id")
        .agg(sum(expr(s"shiftleft(CAST(code AS BIGINT), j * $PqBits)"))
          .as("codes_packed"))
        .write.mode("overwrite").parquet(s"$out/codes")
      builtIndexes += out
    }
    out
  }

  /** The session-cached corpus kNN graph (qid, rank, nn_id, adc_fp) —
    * k·n rows, built once per (session, corpus): knn_join returns it,
    * knn_mutual_pairs self-joins it, ann_recall's ladder tier filters
    * it to the query window. The kmeans-centroids/PQ-codebook
    * lifecycle: the FIRST consumer in a session pays the build (the
    * bench's cold column carries it; min-rep floors show warm serving
    * cost), later consumers read k·n materialized rows.
    *
    * Inside the build, the cell assignment is checkpointed once — it
    * feeds the query frame, the probe rule, the LUT stage and the
    * member-cell join, and lazy it re-ran the K·dim argmin corpus pass
    * per consumer (the executed plan showed four) — then freed once the
    * graph frame is materialized.
    */
  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "knn-graph") {
      // corpusScaled, not fresh: the graph is k·n rows held for the WHOLE
      // session (SessionCache), and the Checkpoints policy stores
      // corpus-proportional residents serialized + disk-spilling — the
      // deserialized on-heap form is the measured r9/r10 heap-poisoning
      // mode at sf10+. It is re-scanned a handful of times per session;
      // serialized re-scan cost is noise next to the build.
      withKnnScan(s, dir)(graft.operators.Checkpoints.corpusScaled)
    }

  /** `use` applied to the graph's frame before its checkpoint (the
    * top-k over the probed-cell ADC scan); the checkpointed cell
    * assignment under it is freed once `use` returns, so `use` must
    * materialize what it keeps. [[knnGraph]] checkpoints the frame;
    * PqSpec reads its optimized plan, which knn_join's plan (rooted at
    * the checkpoint) cannot show.
    */
  private[graft] def withKnnScan[T](s: SparkSession, dir: String)(use: DataFrame => T): T =
    // the two-level cells' final assignment feeds the query frame, the
    // probe rule and the member-cell join side
    withKm2Cells(s, dir) { case Km2Cells(sc, bc, kb, asg) =>
      val q = asg.select(col("vec_id").as("qid"), col("scell").as("qscell"),
        col("cluster").as("qcell"), col("v").as("qv"))
      // NProbe = 2 ⇒ the probe set is own cell + the nearest OTHER
      // cell — found HIERARCHICALLY, like the assignment: one argmin
      // over the (member-bearing) super-centroids for the nearest other
      // super, then one argmin over own super's subs ∪ that super's
      // subs with the own cell filtered out. (Ks + 2·Ksub)·dim per
      // query instead of K·dim — the same √K collapse the assignment
      // pays, and the candidate set always contains at least the
      // runner-up super's subs, so a boundary vector still sees its
      // across-the-border cell. ArgMinDist2 ties (d2, cid)
      // lexicographically = the oracle's ORDER BY d2, cid; the oracle
      // mirrors member-bearing ("has subs") supers with the same
      // semi-filter. A corpus whose surviving supers collapse to ONE
      // member-bearing cell has no s2 (argmin over an empty filtered
      // list is NULL, filtered here; the oracle's rn=1 row just does
      // not exist) — the probe set degrades to own-cell, identically
      // in both engines.
      require(NProbe == 2,
        s"NProbe=$NProbe: knn_join probes own cell + ONE argmin other; " +
          "an n-best probe rule needs a k-register ArgMinDist2 variant")
      val scm = sc.join(
        bc.select(col("scell").as("cid")).distinct(), Seq("cid"), "left_semi")
      val scmRow = scm.agg(collect_list(struct(col("cid"), col("c"))).as("cents"))
      val s2f = q.crossJoin(broadcast(scmRow))
        .select(col("qid"), col("qscell"), col("qcell"), col("qv"),
          graft.functions.VectorFunctions.argMinDist2(col("qv"),
            filter(col("cents"), ct => ct.getField("cid") =!= col("qscell")))
            .getField("cid").cast("int").as("s2"))
        .filter(col("s2").isNotNull)
      val bg = bc.groupBy("scell")
        .agg(collect_list(struct((col("scell") * kb + col("cid")).cast("int").as("cid"),
          col("c"))).as("subs"))
      val pr2 = s2f
        .join(broadcast(bg.select(col("scell").as("qscell"), col("subs").as("subs1"))),
          Seq("qscell"))
        .join(broadcast(bg.select(col("scell").as("s2"), col("subs").as("subs2"))),
          Seq("s2"))
        .select(col("qid"),
          graft.functions.VectorFunctions.argMinDist2(col("qv"),
            filter(concat(col("subs1"), col("subs2")),
              ct => ct.getField("cid") =!= col("qcell")))
            .getField("cid").cast("int").as("pcell"))
        .filter(col("pcell").isNotNull)
      val probes = pr2.union(q.select(col("qid"), col("qcell").as("pcell")))
      val idx = pqIndexDir(s, dir)
      val cb = s.read.parquet(s"$idx/codebook")
      val codes = packedCodes(s, idx)
        .join(asg.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      val plut = probes.join(pqLutOf(q.select(col("qid"), col("qv")), cb),
        Seq("qid"))
      val topk = udaf(new graft.functions.TopK(KnnK))
      use(
        adcScan(codes, plut, col("cluster") === col("pcell"))
          .groupBy("qid")
          .agg(topk((-col("adc_fp")).cast("double"), col("nn_id")).as("top"))
          .select(col("qid"), posexplode(col("top")))
          .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
            col("col.nn_id").as("nn_id"),
            (-col("col.sim")).cast("long").as("adc_fp")))
    }

  /** The mutual-kNN candidate pair frame (d1 < d2, adc_fp) — the body of
    * `knn_mutual_pairs`, factored so DedupQueries' `dedup_semantic_graph`
    * consumes the SAME composition as the catalog entry (a second
    * spelling of the mutuality join could drift).
    */
  private[queries] def mutualPairs(s: SparkSession, dir: String): DataFrame = {
    val k = knnGraph(s, dir).select(col("qid"), col("nn_id"), col("adc_fp"))
    k.as("a").join(k.as("b"),
        col("b.qid") === col("a.nn_id") && col("b.nn_id") === col("a.qid") &&
          col("a.qid") < col("a.nn_id"))
      .select(col("a.qid").as("d1"), col("a.nn_id").as("d2"),
        col("a.adc_fp").as("adc_fp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- k-means cluster assignment over the embedding corpus ----
    // The clustering stage of the SemDeDup recipe (Abbas et al.,
    // arXiv:2303.03540 §3: k-means the embeddings, then dedup WITHIN
    // clusters) as a first-class operator: 3 pinned Lloyd iterations from
    // a hash-deterministic init, squared-L2 assignment (no norm, so zero
    // vectors need no NULL degrade), exact fixed-point centroid sums.
    // Emits the final assignment + its distance so downstream can both
    // partition (cluster) and rank within a cluster (d2).
    "embedding_kmeans" -> ((s, dir) =>
      kmeansAssign(s, dir)
        .select(col("vec_id"), col("cluster"), col("d2"))
        .orderBy("vec_id")),

    // ---- brute-force top-k for a bounded query set (broadcast queries) ----
    // KEPT in the window-ranked form deliberately, as the physical contrast
    // to ann_topk_agg / ann_ivf: Window.partitionBy(qid) has at most
    // NQueries distinct partitions, so every scored row funnels into ≤
    // NQueries tasks regardless of cluster size — fine for a bounded demo
    // query set, wrong at scale. The aggregator twins show the scale plan
    // (map-side partial_topk; exchange carries k·|queries|·partitions rows).
    "ann_bruteforce" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nn_id"),
          cosine(col("qv"), col("v")).as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nn_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("rank"), col("nn_id"))
        .orderBy("qid", "rank")
    }),

    // ---- brute-force top-k via the typed TopK aggregator ----
    // Same result as ann_bruteforce, different physical plan: the window
    // form shuffles every scored row to rank it; the Aggregator prunes to
    // k per (group, partition) in the partial aggregate, so the exchange
    // carries k·|queries|·partitions rows however large the corpus is.
    "ann_topk_agg" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      topKPerQuery(e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), cosine(col("qv"), col("v")).as("sim"),
          col("vec_id").as("nn_id")))
    }),

    // ---- contrastive hard-negative mining over the query set ----
    // The pair-mining step an embedding-training pipeline runs before a
    // contrastive fine-tune: for each query vector, the POSITIVE anchor
    // (nearest same-label neighbor, self excluded) and the HARD NEGATIVE
    // (nearest different-label neighbor — the confusable the loss needs).
    // ONE scored pass (corpus ⋈ broadcast(queries), cosine computed once
    // per row) feeds both picks as conditional max(struct(sim, -nn_id))
    // aggregates — the Election shape with a per-winner condition, which
    // Election.winners has no slot for — so the exchange carries one row
    // per query however large the corpus. A query whose label has no
    // second member emits NULL positive fields (the oracle's LEFT JOIN
    // mirror).
    "mine_hard_negatives" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("nn_id"),
          (col("label") === col("qlabel")).as("same"),
          cosine(col("qv"), col("v")).as("sim"))
      scored.groupBy(col("qid"), col("qlabel"))
        .agg(
          max(when(col("same"),
            struct(col("sim"), (-col("nn_id")).as("nid")))).as("p"),
          max(when(!col("same"),
            struct(col("sim"), (-col("nn_id")).as("nid")))).as("n"))
        .select(col("qid"), col("qlabel").as("label"),
          (-col("p.nid")).as("pos_id"), col("p.sim").as("pos_sim"),
          (-col("n.nid")).as("neg_id"), col("n.sim").as("neg_sim"))
        .orderBy("qid")
    }),

    // ---- semi-hard negative mining (the FaceNet rule) ----
    // mine_hard_negatives' hardest negative can sit CLOSER than the
    // positive — the regime where triplet losses collapse; the semi-hard
    // rule keeps only negatives strictly farther than the positive anchor
    // (sim < pos_sim) and picks the hardest of those. Two linear passes:
    // the per-query positive similarity is a ≤ NQueries-row aggregate of
    // pass one, broadcast back into pass two's filter — never a
    // materialized corpus×queries frame. A query with no same-label
    // second member (no anchor) or no negative below its anchor drops
    // out — inner semantics, the loss has nothing to mine there. n_semi
    // (the surviving candidate count) is an exact integer diagnostic.
    "mine_semi_hard_negatives" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("v").as("qv"))
      def scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("nn_id"),
          (col("label") === col("qlabel")).as("same"),
          cosine(col("qv"), col("v")).as("sim"))
      val pos = scored.filter(col("same"))
        .groupBy("qid").agg(max(col("sim")).as("pos_sim"))
      val semi = scored.filter(!col("same"))
        .join(broadcast(pos), Seq("qid"))
        .filter(col("sim") < col("pos_sim"))
      Election.winners(semi, Seq("qid", "qlabel", "pos_sim"),
          Seq(Election.desc("sim"), Election.asc("nn_id")), Seq("nn_id", "sim"),
          also = Seq(count(lit(1)).as("n_semi")))
        .select(col("qid"), col("qlabel").as("label"), col("pos_sim"),
          col("nn_id").as("semi_id"), col("sim").as("semi_sim"), col("n_semi"))
        .orderBy("qid")
    }),

    // ---- LSH: sign-bit buckets, top-1 neighbor within bucket ----
    // Hot buckets (> MaxBucket members) are dropped before the self-join;
    // the rank-1 pick is an Election (sim DESC, nn_id).
    "ann_lsh" -> ((s, dir) => {
      val e0 = vecs(s, dir).withColumn("bucket", signBucket(col("v"), LshBits))
        .filter(col("bucket").isNotNull) // align with the join's inferred filter
      val e = DedupQueries.capBuckets(e0, Seq("bucket"))
      val pairs = lshCandidateJoin(e, Seq("bucket"))
        .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
          col("b.vec_id").as("nn_id"), cosine(col("a.v"), col("b.v")).as("sim"))
      Election.winners(pairs, Seq("vec_id", "bucket"),
          Seq(Election.desc("sim"), Election.asc("nn_id")), Seq("nn_id"))
        .orderBy("vec_id")
    }),

    // ---- multi-probe LSH: 4 independent 16-bit sign tables over the
    // 64 embedding dimensions, candidates unioned across tables. Recovers
    // the single-table form's boundary misses: two near-neighbors that
    // straddle a hyperplane in one table's dimensions still collide in
    // the other three. Same scale posture as ann_lsh — hot (table,
    // bucket) pairs capped, rank-1 via an Election; a pair colliding in
    // several tables just feeds the same (sim, nn) candidate twice. ----
    "ann_lsh_multiprobe" -> ((s, dir) => {
      // one materialization of the 4-table sign projection: capBuckets'
      // count/anti-join branches and both candidate-join aliases would
      // otherwise re-run it ~4×, with reuse left to the AQE coin flip
      // (the simhashPairs rationale)
      val tabs = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(signTables(vecs(s, dir))))
      val cold = DedupQueries.capBuckets(tabs, Seq("tbl", "bucket"))
      val pairs = lshCandidateJoin(cold, Seq("tbl", "bucket"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
          cosine(col("a.v"), col("b.v")).as("sim"))
      Election.winners(pairs, Seq("vec_id"),
          Seq(Election.desc("sim"), Election.asc("nn_id")), Seq("nn_id"))
        .orderBy("vec_id")
    }),

    // ---- IVF with multi-cell probing (nprobe > 1) ----
    // Single-cell IVF (ann_ivf) misses neighbors sitting just across a
    // cell boundary — the same failure ann_lsh_multiprobe fixes for sign
    // buckets. Production IVF ranks cells by query-to-centroid distance
    // and searches the nearest nprobe cells; a float centroid (cross-row
    // mean) is summation-order-dependent, so the cell REPRESENTATIVE here
    // is the cell's min-vec_id vector — a deterministic medoid surrogate
    // that keeps cell ranking, and hence the whole query, bit-exact on
    // both engines (a production deployment would precompute trained
    // centroids and broadcast them the same way). Probed cells = the
    // query's OWN assignment cell ∪ the top-(nprobe−1) rep-ranked OTHER
    // cells: with trained centroids the own cell is the top-ranked cell
    // by definition, but the medoid surrogate can misrank it — the
    // RECALL_sf{1,10}_r12 probes (`git show e9e7a22:RECALL_sf1_r12.json`)
    // measured 0.75 vs single-cell IVF's 1.0 on the duplicated replica
    // geometry before this pin, a structural violation of ivf ⊆ nprobe
    // that the own-cell union restores for ANY representative
    // ([[probedCells]]; the scan is [[nprobeScan]]).
    "ann_ivf_nprobe" -> ((s, dir) =>
      topKPerQuery(nprobeScan(s, dir, "ann_ivf_nprobe"))),

    // ---- metadata-predicated (filtered) ANN: search WITHIN a predicate ----
    // Every production similarity stack a training-data pipeline uses
    // supports filtered search ("nearest en-language documents", "within
    // this source/licence partition") — and the standard failure mode is
    // POST-filtering: take the unfiltered top-k, then filter, and return
    // fewer than k (or zero) results whenever the neighborhood is
    // predicate-sparse. The correct composition is PRE-filtering the
    // candidate scan (FAISS's IDSelector, the filtered-search mode of
    // every published vector store): here the predicate lives on the
    // documents table (lang = 'en'; vec_id ≡ doc_id, the SemDeDup
    // quality-election identity), reaches the documents parquet scan as
    // a pushed filter (EqualTo(lang, en) in PushedFilters — the spec
    // asserts it), and a LEFT-SEMI join intersects the cell-probed
    // corpus side with the qualifying-id set BEFORE any distance is
    // computed — so the TopK ranks qualifying vectors only, and every
    // query returns the exact filtered top-k of its probed cells. The
    // index structure (cells, reps, probe rule) stays UNFILTERED and
    // query-set-independent — one index serves every predicate; only
    // the scan side shrinks. Scale shape: the semi-join is a hash join
    // on the id key (no new quadratic door), the probe rule is
    // ann_ivf_nprobe's verbatim, and selectivity multiplies straight
    // through the scored-row count.
    "ann_filtered" -> ((s, dir) => {
      val keep = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("lang") === AnnFilterLang)
        .select(col("doc_id").as("vec_id"))
      topKPerQuery(nprobeScan(s, dir, "ann_filtered",
        _.join(keep, Seq("vec_id"), "left_semi")))
    }),

    // ---- embedding outlier flagging: distance to the cell representative ----
    // The embedding-side curation filter (the CLIP-score-percentile shape):
    // a vector far from its own cell's representative is mislabeled /
    // out-of-distribution, and curation drops the bottom decile. The
    // threshold is RELATIVE per cell (quality_filter's argument: absolute
    // cosine thresholds over/under-prune cells whose similarity
    // distributions sit differently). Deterministic end-to-end: the rep is
    // the min-vec_id medoid surrogate ([[cellReps]]), cosines are pinned-
    // fold-order doubles, and the per-cell P10 is the exact percentile —
    // one row per cell joined back (broadcast-sized); at data scale the
    // drop-in is approx_percentile (quality_filter_approx's trade, same
    // mergeable-sketch argument).
    "embedding_outliers" -> ((s, dir) => {
      val e = vecs(s, dir).filter(col("label").isNotNull)
      val scored = e.join(broadcast(cellReps(e)), col("label") === col("cell"))
        .select(col("vec_id"), col("label"),
          cosine(col("v"), col("rv")).as("sim_to_rep"))
      // counts-table + cumulative-window exact quantile (bit-equal to the
      // built-in aggregate, QuantilesSpec) — no boxed per-group value map
      val thr = graft.operators.Quantiles.exactByGroup(
        scored, "label", "sim_to_rep", Seq(0.1), Seq("p10"))
      scored.join(thr, Seq("label"))
        .select(col("vec_id"), col("label"), col("sim_to_rep"), col("p10"),
          (col("sim_to_rep") < col("p10")).as("is_outlier"))
        .orderBy("vec_id")
    }),

    // ---- IVF-style: top-k within the query's own coarse cell ----
    "ann_ivf" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("label").as("qcell"), col("v").as("qv"))
      topKPerQuery(e.join(broadcast(q),
          col("label") === col("qcell") && col("vec_id") =!= col("qid"))
        .select(col("qid"), cosine(col("qv"), col("v")).as("sim"),
          col("vec_id").as("nn_id")))
    }),

    // ---- PQ encode: each vector as PqM subspace codes ----
    // The compressed-index build: (vec_id, codes_packed, recon_err_fp).
    // codes_packed is the j-ordered codes packed into ONE integer —
    // code_j occupies bits [j·PqBits, (j+1)·PqBits): 8 × 4-bit codes =
    // the literal 4-byte representation of a 256-byte vector, and it is
    // what production would store (a fixed-width word, not a variable
    // array). It is also the driver-gate-safe spelling: the r12 ARRAY
    // form crashed the driver's pandas sort (unhashable ndarray cells —
    // the documented limitation TextQueries' inverted_index solves with
    // concat_ws). Subspace code sums never overlap (disjoint bit ranges,
    // so Σ = bitwise-OR) and the whole word fits a signed BIGINT (loud
    // require below). recon_err_fp is the fixed-point total quantization
    // error Σ_j floor(d2_j·2²⁰) — a BIGINT sum of BIGINTs, order-free,
    // so the oracle compare is exact (the float sum would be
    // partition-order-dependent).
    "embedding_pq_codes" -> ((s, dir) => {
      require(PqM * PqBits <= 63,
        s"packed code word needs ${PqM * PqBits} bits — exceeds a signed BIGINT; shrink PqK or emit two words")
      pqCodes(s, dir)
        .groupBy("vec_id")
        .agg(sum(expr(s"shiftleft(CAST(code AS BIGINT), j * $PqBits)")).as("codes_packed"),
          sum(floor(col("d2") * KmScale).cast("long")).as("recon_err_fp"))
        .orderBy("vec_id")
    }),

    // ---- PQ ADC search: rank-1 by asymmetric distance ----
    // Per query: ONE exact-distance table (query slice → every codeword,
    // PqM·PqK entries, fixed-point BIGINT) laid out as a dense slot
    // array at slot = j·PqK + cid — keyed, not positional, because a
    // codeword can die during training (its slot stays NULL). The corpus
    // scan is then codes-only: PqM dense-LUT probes + an integer sum per
    // (query, vector) — no float math touches the corpus, which is the
    // whole point of ADC at 100 TB (the index is 64× smaller than the
    // vectors and the scan is integer lookups). Rank-1 via min(struct)
    // is partial-aggregable (the ann_lsh posture); the broadcast side is
    // NQueries rows.
    "ann_pq" -> ((s, dir) =>
      nearest(adcScan(codeArrays(pqCodes(s, dir)),
        broadcast(pqLut(vecs(s, dir), pqCodebook(s, dir)))), "adc_fp")),

    // ---- PQ codebook occupancy: vectors per (subspace, codeword) ----
    // The index-health relation: a subspace whose live codeword count
    // collapses carries fewer than its log2(PqK) bits, which is how
    // quantization quality degrades — so occupancy is a first-class,
    // oracle-checked output. PqM·PqK rows, partial-agg'd count.
    "pq_occupancy" -> ((s, dir) =>
      pqCodes(s, dir)
        .groupBy("j", "code")
        .agg(count(lit(1)).as("n"))
        .orderBy("j", "code")),

    // ---- two-stage PQ retrieval: ADC shortlist, exact re-rank ----
    // The production deployment shape: the 4-bit integer scan cannot
    // rank finely (its pick sits at exact-rank ≤ ~50; see PqRerank), so
    // it NOMINATES — the map-side-pruning TopK aggregator keeps the
    // PqRerank best ADC candidates per query — and exact float distance
    // re-ranks only the shortlist: PqRerank full-vector reads per query
    // instead of a corpus scan ([[pqRerank]]).
    "ann_pq_rerank" -> ((s, dir) => {
      val e = vecs(s, dir)
      pqRerank(adcScan(codeArrays(pqCodes(s, dir)),
        broadcast(pqLut(e, pqCodebook(s, dir)))), e)
    }),

    // ---- PQ serving from the PERSISTED index (the build/serve split) ----
    // ann_pq re-derives codes from the embeddings every run; production
    // serves from a built artifact. This entry builds the index once per
    // session ([[pqIndexDir]]: codebook parquet + ONE packed BIGINT per
    // vector) and answers the query reading ONLY the index files plus
    // the bounded query set — the corpus embeddings are never scanned at
    // serve time, which is the point at 100 TB: the serving tier holds
    // 1/64th of the bytes. Codes unpack by shift/mask from the packed
    // word (exact integer ops); parquet round-trips BIGINT/ARRAY<DOUBLE>
    // exactly, so the answer is bit-identical to ann_pq — the oracle IS
    // ann_pq's string.
    "ann_pq_indexed" -> ((s, dir) => {
      val idx = pqIndexDir(s, dir)
      val lut = pqLut(vecs(s, dir), s.read.parquet(s"$idx/codebook"))
      nearest(adcScan(packedCodes(s, idx), broadcast(lut)), "adc_fp")
    }),

    // ---- corpus-side kNN join: EVERY vector's top-k, index-served ----
    // The composition semantic dedup and clustering consume at 100 TB:
    // not NQueries point lookups but the full kNN graph — each corpus
    // vector's KnnK nearest neighbors — built WITHOUT the all-pairs
    // join. Three bounded ingredients compose: (a) the TWO-LEVEL coarse
    // quantizer's cells (corpus-derived K ≈ n/KmCell UNCAPPED, so mean
    // cell size is a design CONSTANT and the cell-equi join stays linear
    // at any corpus — the r15 sf30 probe measured the capped flat
    // quantizer reopening the quadratic door at ×9.8 for 3× data — while
    // the √K-per-tier hierarchy keeps every per-row argmin at 2√K·dim,
    // so uncapping K does not move the quadratic into the Lloyd passes;
    // see the km2 block); (b) the IVFADC probe rule — own cell ∪ the
    // nearest other cell, found hierarchically (nearest other super,
    // then argmin over both supers' subs; rank by the SAME L2 the
    // assignment used; ties to the smaller cid) — so a vector sitting
    // on a cell boundary still sees its across-the-border neighbors;
    // (c) the PERSISTED PQ index
    // (ann_pq_indexed's build/serve split): the corpus side of the
    // candidate join reads ONLY packed codes, 64× smaller than the
    // vectors, and every distance is integer ADC probes of a per-query
    // LUT. The one corpus×corpus-shaped step — codes ⋈ probed cells —
    // is an EQUI-join on the cell id: candidates per query ≈
    // NProbe·KmCell by construction, the exchange is hash-partitioned
    // on a key with design-bounded multiplicity on the member side, and
    // the TopK aggregator prunes to KnnK map-side. Everything is exact
    // integer arithmetic after the LUT floor, so ranks mirror in SQL.
    "knn_join" -> ((s, dir) =>
      knnGraph(s, dir).orderBy("qid", "rank")),

    // ---- mutual-kNN candidate pairs: the kNN graph CONSUMED ----
    // The reason knn_join exists: semantic-dedup candidate generation
    // from the graph. A pair is a candidate iff each vector appears in
    // the OTHER's top-k (mutual-kNN — the standard symmetric filter: a
    // one-directional edge from a sparse region to a dense cluster's
    // edge is usually not a duplicate, and mutuality removes it without
    // any threshold constant). Composition cost on top of the graph:
    // the graph is k·n rows, checkpointed ONCE, and the mutuality test
    // is one equi-self-join on the (qid, nn_id) edge key — linear,
    // hash-partitioned, no new quadratic door. Output keeps the d1→d2
    // edge's integer ADC so downstream can rank candidate tightness.
    "knn_mutual_pairs" -> ((s, dir) =>
      mutualPairs(s, dir).orderBy("d1", "d2")),

    // ---- exact re-rank over the graph's edge set: the production recipe ----
    // Small-K PQ (the graph's serving constant) has measured rank errors —
    // recall@3 0.667 at sf10 (`git show e9e7a22:RECALL_sf10_r14.json`) —
    // and the corpus side
    // CANNOT buy resolution with PqK=256 (the per-query dense ADC table
    // would be 2048 slots ≈ 16 KB/row against every corpus row: the
    // abandoned r14 probe, SCALE.md note #2). The production fix is the
    // two-stage split every IVFADC+R deployment uses, applied to the
    // GRAPH: the quantized index only NOMINATES (here: the symmetrized
    // edge set, out-edges ∪ in-edges — in-edges matter because ADC error
    // is asymmetric per query LUT, so b may rank a highly while a's own
    // LUT misranked b), and exact full-vector distance DECIDES. Cost is
    // linear by construction: ≤ 2·KnnK·n candidate rows, two
    // hash-partitioned equi-joins to fetch the endpoint vectors, one
    // codegen'd Dist2 per row, TopK pruning to KnnK map-side — the
    // bounded-set re-rank, never a second corpus×corpus pass. Output
    // d2 is exact on both engines (identical operands, sequential
    // fold), and ann_recall ladders this tier: recall above the raw
    // graph's is the number that justifies shipping small-K codes.
    "knn_mutual_rerank" -> ((s, dir) => {
      val g = knnGraph(s, dir)
      val cand = g.select(col("qid"), col("nn_id"))
        .union(g.select(col("nn_id").as("qid"), col("qid").as("nn_id")))
        .distinct()
      val e = vecs(s, dir).filter(col("v").isNotNull)
        .select(col("vec_id"), col("v"))
      val topk = udaf(new graft.functions.TopK(KnnK))
      cand
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
        .join(e.select(col("vec_id").as("nn_id"), col("v").as("nv")), Seq("nn_id"))
        .select(col("qid"), col("nn_id"), dist2(col("qv"), col("nv")).as("d2"))
        // NaN guard (unreachable for finite embeddings, which the
        // generator produces — but TopK ranks NaN FIRST via sim DESC
        // while the oracle's ORDER BY d2 ASC ranks it LAST, so a
        // non-finite component would diverge across engines silently;
        // the cosine paths filter isnan for the same reason)
        .filter(!isnan(col("d2")))
        // sim = −d2: TopK keeps the k largest (ties to smaller nn_id) =
        // the k smallest exact distances; −(−d2) restores d2's bits
        // exactly (negation flips one sign bit; d2 = +0.0 for duplicate
        // vectors round-trips to +0.0)
        .groupBy("qid")
        .agg(topk(-col("d2"), col("nn_id")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
          col("col.nn_id").as("nn_id"), (-col("col.sim")).as("d2"))
        .orderBy("qid", "rank")
    }),

    // ---- IVF-PQ (IVFADC): probed coarse cells, residual-PQ ADC scan ----
    // The composition production ANN deploys at 100 TB: the corpus is
    // coarse-partitioned (IVF cells = `label`, the ann_ivf data model),
    // each vector stored as PqM codes of its RESIDUAL against its cell's
    // representative, and a query (a) probes own-cell ∪ top-(nprobe−1)
    // rep-ranked cells (the r12 recall-fix probe rule, shared stage), (b)
    // builds one integer ADC table per (query, probed cell) — the IVFADC
    // subtlety: distances must be computed in the PROBED cell's residual
    // frame, so the LUT keys on (qid, pcell), not qid — and (c) scans
    // ONLY the probed cells' codes: nprobe/nlist of the corpus touched,
    // PqM dense-LUT probes per row (adcSum), no float math. The scale
    // argument over ann_pq (which scans every code) and over
    // ann_ivf_nprobe (which reads full vectors in probed cells); the
    // cost is approximation on both axes, which ann_recall measures.
    // All arithmetic inherits the PQ determinism contract (md5 seed,
    // d2-then-cid tie-break, fixed-point sums; residual subtraction is
    // elementwise IEEE — exactly rounded).
    "ann_ivfpq" -> ((s, dir) =>
      nearest(ivfpqScan(s, dir, "ann_ivfpq"), "adc_fp")),

    // ---- IVFADC+R: the IVF-PQ scan nominates, exact distance re-ranks ----
    // ann_pq_rerank's two-stage shape composed over ann_ivfpq's probed
    // scan (Jégou et al.'s IVFADC with re-ranking): the integer ADC
    // shortlists PqRerank candidates per query FROM THE PROBED CELLS
    // ONLY, then exact float distance re-reads just those full vectors.
    // At 100 TB the scan touches nprobe/nlist of the 64×-compressed
    // index and the re-rank reads PqRerank vectors per query — the
    // measured RECALL ladder shows the re-rank recovering the raw
    // 4-bit tier's misses (0.875 → 1.0 on the replica geometry).
    "ann_ivfpq_rerank" -> ((s, dir) =>
      pqRerank(ivfpqScan(s, dir, "ann_ivfpq_rerank"), ivfpqCorpus(s, dir))),

    // ---- measured recall: every approximate tier vs the exact answer ----
    // The evaluation harness a production ANN deployment runs before
    // trusting an index: each tier's returned neighbors are scored
    // against the exact brute-force top-k. n_ret = rows the tier
    // returned, n_hits = those inside the exact top-k, hit_rate their
    // ratio — recall@k for the top-k tiers (ivf, nprobe), success-rate
    // for the rank-1 tiers (pq, pq_rerank); ann_topk_agg is the pinned
    // 1.0 sanity row (it IS the exact answer via another plan). The
    // exact reference is checkpointed (k·NQueries rows — bounded) so the
    // five branches probe ONE materialized frame instead of five
    // re-plans of the window ranking; every integer is exact, the one
    // division per row is the repo float rule.
    "ann_recall" -> ((s, dir) => {
      val bf = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          queries("ann_bruteforce")(s, dir).select(col("qid"), col("nn_id"))))
      recallTiers.map { name =>
        // qid < NQueries is a no-op for the point-query tiers (their
        // output IS the query set) but restricts knn_join — whose graph
        // covers the corpus — to the laddered queries; Catalyst pushes
        // the predicate through the aggregate and down both join sides
        // (qid is the equi-key everywhere), so the tier costs a point
        // lookup, not the full graph.
        val m = queries(name)(s, dir).select(col("qid"), col("nn_id"))
          .filter(col("qid") < NQueries)
        val hits = m.join(bf, Seq("qid", "nn_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val ret = m.agg(count(lit(1)).as("n_ret"))
        ret.crossJoin(hits)
          .select(lit(name).as("method"), col("n_ret"), col("n_hits"))
      }.reduce(_ union _)
        .select(col("method"), col("n_ret"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_ret").cast("double"))
            .as("hit_rate"))
        .orderBy("method")
    })
  )

  /** The tiers ann_recall scores — ONE list consumed by the Spark query
    * and the spliced oracle, so adding a tier (as ann_ivfpq did) updates
    * both in lockstep.
    */
  private[graft] val recallTiers: Seq[String] = Seq("ann_topk_agg", "ann_ivf",
    "ann_ivf_nprobe", "ann_pq", "ann_pq_rerank", "ann_ivfpq",
    "ann_ivfpq_rerank", "knn_join", "knn_mutual_rerank")

  private val eSql = "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"

  // ===== Lloyd oracle: the training loop unrolled into CTEs =====
  // The SQL twin of kmInit/lloydAssign/lloydUpdate/lloydTrain: same init
  // rule (rn over (md5, vec_id)), same assignment tie-break (ORDER BY d2,
  // cid — the lexicographic struct argmin's mirror), same fixed-point
  // update (floor to scaled BIGINT, exact integer sum, one double
  // division). DuckDB's zipped unnest(pt)/unnest(range(...)) is the
  // posexplode mirror; `list(cv ORDER BY pos)` the sorted reassembly. A
  // tier is a point relation (vec_id, keys…, pt), its key columns and its
  // point column, as on the Spark side; centroid relations are
  // (keys…, cid, c).

  /** [[kmInit]]'s twin: the `bound` (an SQL expression) vectors of `rel`
    * with the smallest (md5(vec_id), vec_id), as (cid, c).
    */
  private def kmInitSql(name: String, rel: String, bound: String): String =
    s"""$name AS (SELECT CAST(rn - 1 AS INTEGER) AS cid, v AS c FROM (
       |        SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM $rel)
       |       WHERE rn <= $bound)""".stripMargin

  /** [[lloydAssign]]'s twin: each row of `pts` with its nearest
    * same-key centroid of `cents`, that centroid's cid emitted as `id`.
    */
  private def lloydAssignSql(name: String, pts: String, keys: Seq[String], pt: String,
      cents: String, id: String): String = {
    val k = keys.map(", " + _).mkString
    val on = if (keys.isEmpty) s"CROSS JOIN $cents c"
      else keys.map(x => s"$pts.$x = c.$x").mkString(s"JOIN $cents c ON ", " AND ", "")
    val scored = s"""(SELECT $pts.vec_id${keys.map(x => s", $pts.$x").mkString}, $pts.$pt, c.cid, ${dist2Sql(s"$pts.$pt", "c.c")} AS d2
       |        FROM $pts $on)""".stripMargin
    s"$name AS (${winnersSql(s"vec_id$k, $pt, cid AS $id, d2", scored, s"vec_id$k", "d2, cid")})"
  }

  /** [[lloydUpdate]]'s twin over assignment relation `asg` (cid read
    * from its `id` column).
    */
  private def lloydUpdateSql(name: String, asg: String, keys: Seq[String], pt: String,
      id: String): String = {
    val k = keys.map(_ + ", ").mkString
    s"""$name AS (SELECT ${k}cid, list(cv ORDER BY pos) AS c FROM (
       |  SELECT ${k}cid, pos, CAST(fsum AS DOUBLE) / (CAST(n AS DOUBLE) * $KmScale.0) AS cv FROM (
       |    SELECT $k$id AS cid, i AS pos,
       |           sum(CAST(floor(x * $KmScale.0) AS BIGINT)) AS fsum, count(*) AS n
       |    FROM (SELECT $k$id, unnest($pt) AS x, unnest(range(1, len($pt)+1)) AS i FROM $asg)
       |    GROUP BY ${(1 to keys.size + 2).mkString(", ")})) GROUP BY ${k}cid)""".stripMargin
  }

  /** [[lloydTrain]]'s twin plus the final assignment: from the init
    * relation `${cent}0`, the chain `${asg}1, ${cent}1, …, ${cent}KmIter,
    * ${asg}{KmIter+1}` — trained centroids `${cent}KmIter`, final
    * assignment `${asg}{KmIter+1}`.
    */
  private def lloydSql(pts: String, keys: Seq[String], pt: String, id: String,
      cent: String, asg: String): String = {
    val ctes = Seq.newBuilder[String]
    for (i <- 1 to KmIter + 1) {
      ctes += lloydAssignSql(s"$asg$i", pts, keys, pt, s"$cent${i - 1}", id)
      if (i <= KmIter) ctes += lloydUpdateSql(s"$cent$i", s"$asg$i", keys, pt, id)
    }
    ctes.result().mkString(",\n")
  }

  /** The full flat chain `e, c0, a1, c1, …, a{KmIter+1}` — shared with
    * dedup_semantic_kmeans' oracle (DedupQueries), whose cells are
    * a{KmIter+1}'s clusters.
    */
  private[queries] def kmeansCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |""".stripMargin +
      kmInitSql("c0", "e", s"""(SELECT LEAST($KmMaxK, GREATEST($KmMinK,
         |                      (count(*) + ${KmCell - 1}) // $KmCell)) FROM e)""".stripMargin) +
      ",\n" + lloydSql("e", Seq(), "v", "cluster", "c", "a")

  private[queries] val kmFinalAsg = s"a${KmIter + 1}"

  // ===== two-level coarse quantizer oracle: both Lloyd tiers unrolled =====
  // The km2 block's SQL twin, prefixed g* (spliced FLAT next to pqCtes —
  // no nested WITH, so the chain evaluates once). Same derivations from
  // the same COUNT(*) (integer // arithmetic; CEIL∘SQRT exactly rounded
  // on an integer-valued double), same init rule per tier (rn over
  // (md5, vec_id), PARTITIONED BY scell at the sub tier), and the one
  // Lloyd chain for both tiers (keyed by scell at the sub tier).

  /** The full two-level chain: gkb (derived Ks/Ksub), super Lloyd
    * gs0/ga1/…/ga{KmIter+1}, sub init gb0, sub Lloyd gq1/…/gq{KmIter+1},
    * final assignment gz (vec_id, v, scell, cluster = scell·Ksub + sid).
    * References `e` (pqCtes' corpus relation — the same not-null filters
    * kmCorpus applies).
    */
  private def km2Ctes: String =
    s"""gk AS (SELECT GREATEST($KmMinK, (count(*) + ${KmCell - 1}) // $KmCell) AS k FROM e),
       |gkb AS (SELECT k, ks, (k + ks - 1) // ks AS kb FROM (
       |        SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS ks FROM gk)),
       |""".stripMargin +
      kmInitSql("gs0", "e", "(SELECT ks FROM gkb)") +
      ",\n" + lloydSql("e", Seq(), "v", "cluster", "gs", "ga") + ",\n" +
      s"""gsa AS (SELECT vec_id, v, cluster AS scell FROM ga${KmIter + 1}),
         |gb0 AS (SELECT scell, CAST(rn - 1 AS INTEGER) AS cid, v AS c FROM (
         |        SELECT scell, v, ROW_NUMBER() OVER (PARTITION BY scell
         |                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |        FROM gsa)
         |       WHERE rn <= (SELECT kb FROM gkb)),
         |""".stripMargin +
      lloydSql("gsa", Seq("scell"), "v", "sid", "gb", "gq") + ",\n" +
      s"""gz AS (SELECT vec_id, v, scell,
         |         CAST(scell * (SELECT kb FROM gkb) + sid AS INTEGER) AS cluster
         |       FROM gq${KmIter + 1})""".stripMargin

  // ===== PQ oracle: the keyed (per-subspace) Lloyd chain =====
  // DuckDB's 1-based inclusive list slice v[a:b] is the `slice` mirror;
  // the seed is kmInitSql's PqK vectors sliced per subspace (every
  // subspace starts from the SAME seed vectors, as in trainPqCodebook);
  // the chain is lloydSql keyed by j over the subvectors.

  /** [[trainPqCodebook]]'s twin over relation `rel` (vec_id, v): `sub`,
    * the seed `p0`, the chain through codebook [[pqFinalBook]] and codes
    * [[pqFinalAsg]].
    */
  private def pqTrainCtes(rel: String): String =
    s"""sub AS (SELECT vec_id, j, v[(j*$PqDsub+1):(j*$PqDsub+$PqDsub)] AS sv
       |        FROM $rel CROSS JOIN (SELECT unnest(range(0, $PqM)) AS j)),
       |""".stripMargin +
      kmInitSql("pseed", rel, s"$PqK") + ",\n" +
      s"""p0 AS (SELECT j, cid, c[(j*$PqDsub+1):(j*$PqDsub+$PqDsub)] AS c
         |       FROM pseed CROSS JOIN (SELECT unnest(range(0, $PqM)) AS j)),
         |""".stripMargin +
      lloydSql("sub", Seq("j"), "sv", "code", "p", "q")

  private[queries] def pqCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |""".stripMargin + pqTrainCtes("e")

  private[queries] val pqFinalAsg = s"q${KmIter + 1}"
  private[queries] val pqFinalBook = s"p$KmIter"

  // ===== cell-representative oracle fragments =====
  // The SQL twins of cellReps, probedCells, nprobeScan and topKPerQuery.
  // labeledSql mirrors the Spark side's vec_id/label isNotNull filters —
  // without it a NULL-label vector would mint a NULL-cell representative
  // on the oracle side only and could consume one of the probe slots.
  private val labeledSql = "vec_id IS NOT NULL AND label IS NOT NULL"

  /** [[cellReps]]' twin: `e` (the embeddings WHERE `eFilter`), `rid`
    * (each cell's min vec_id) and `reps(cell, rv)`.
    */
  private def cellRepsSql(eFilter: String): String =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE $eFilter),
       |rid AS (SELECT label, min(vec_id) AS rid FROM e GROUP BY 1),
       |reps AS (SELECT e.label AS cell, e.v AS rv FROM e JOIN rid ON e.vec_id = rid.rid)""".stripMargin

  /** [[probedCells]]' twin over `e` and `reps`: queries `q` and
    * `probes(qid, pcell)`, cells ranked (csim DESC, cell) as TopK does.
    */
  private val probesSql: String =
    s"""q AS (SELECT vec_id AS qid, label AS qcell, v AS qv FROM e WHERE vec_id < $NQueries),
       |ranked AS (SELECT qid, cell,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |                       ORDER BY ${cosineSql("qv", "rv")} DESC, cell) AS crk
       |  FROM q CROSS JOIN reps WHERE cell <> qcell),
       |probes AS (SELECT qid, cell AS pcell FROM ranked WHERE crk <= ${NProbe - 1}
       |           UNION ALL SELECT qid, qcell AS pcell FROM q)""".stripMargin

  /** [[topKPerQuery]]'s twin over the (qid, nn_id, sim) relation `scored`. */
  private def topKSql(scored: String): String =
    s"""SELECT qid, rank, nn_id FROM (
       |  SELECT qid, nn_id, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nn_id) AS INT) AS rank
       |  FROM $scored) WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  /** [[nprobeScan]]'s twin, ranked; ann_filtered passes its candidate
    * relation `scan` and `scanCte`, the CTE (with its comma) defining it.
    */
  private def nprobeSql(scan: String = "e", scanCte: String = ""): String =
    s"""WITH ${cellRepsSql(labeledSql)},
       |$probesSql,
       |${scanCte}scored AS (SELECT p.qid, c.vec_id AS nn_id, ${cosineSql("q.qv", "c.v")} AS sim
       |  FROM probes p JOIN q ON q.qid = p.qid
       |               JOIN $scan c ON c.label = p.pcell AND c.vec_id <> p.qid)
       |${topKSql("scored")}""".stripMargin

  // ===== IVF-PQ oracle: the residual chain, then the keyed Lloyd chain =====
  // pqCtes with the training relation swapped: `r` is the residual
  // relation (vector − its cell's min-vec_id representative, elementwise
  // — vsubSql mirrors zip_with subtraction exactly) over the corpus
  // ivfpqCorpus reads.
  private def ivfpqCtes: String =
    s"""${cellRepsSql(s"$labeledSql AND embedding IS NOT NULL")},
       |r AS (SELECT e.vec_id, e.label, ${vsubSql("e.v", "reps.rv")} AS v
       |      FROM e JOIN reps ON e.label = reps.cell),
       |""".stripMargin + pqTrainCtes("r")

  // ===== PQ serving oracle fragments: one string per shared CTE run =====
  // The flat ADC chain (qs/lut/adc over pqCtes) of ann_pq and
  // ann_pq_rerank — a join + SUM over (j, cid) rows, the relational
  // mirror of the engine's dense-LUT adcSum.
  private lazy val pqAdcSql: String =
    s"""qs AS (SELECT vec_id AS qid, j, v[(j*$PqDsub+1):(j*$PqDsub+$PqDsub)] AS qsv
       |       FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS j)
       |       WHERE vec_id < $NQueries),
       |lut AS (SELECT q.qid, c.j, c.cid,
       |               CAST(floor(${dist2Sql("q.qsv", "c.c")} * $KmScale.0) AS BIGINT) AS lfp
       |        FROM qs q JOIN $pqFinalBook c ON q.j = c.j),
       |adc AS (SELECT l.qid, cd.vec_id AS nn_id, CAST(SUM(l.lfp) AS BIGINT) AS adc_fp
       |        FROM $pqFinalAsg cd
       |        JOIN lut l ON l.j = cd.j AND l.cid = cd.code AND cd.vec_id <> l.qid
       |        GROUP BY 1, 2)""".stripMargin

  // The IVFADC prefix of ann_ivfpq and ann_ivfpq_rerank, WITH through
  // adc. Probes are probesSql's; the ADC join pins each corpus code row to
  // its OWN cell's LUT via l.pcell = r.label, the (query, probed cell)
  // keying the IVFADC recipe requires. Both SUM casts are the
  // HUGEINT→BIGINT convention.
  private lazy val ivfpqAdcSql: String =
    s"""WITH $ivfpqCtes,
       |$probesSql,
       |pres AS (SELECT p.qid, p.pcell, ${vsubSql("q.qv", "reps.rv")} AS qres
       |         FROM probes p JOIN q ON q.qid = p.qid
       |                       JOIN reps ON reps.cell = p.pcell),
       |qs AS (SELECT qid, pcell, j, qres[(j*$PqDsub+1):(j*$PqDsub+$PqDsub)] AS qsv
       |       FROM pres CROSS JOIN (SELECT unnest(range(0, $PqM)) AS j)),
       |lut AS (SELECT x.qid, x.pcell, c.j, c.cid,
       |               CAST(floor(${dist2Sql("x.qsv", "c.c")} * $KmScale.0) AS BIGINT) AS lfp
       |        FROM qs x JOIN $pqFinalBook c ON x.j = c.j),
       |adc AS (SELECT l.qid, cd.vec_id AS nn_id, CAST(SUM(l.lfp) AS BIGINT) AS adc_fp
       |        FROM $pqFinalAsg cd
       |        JOIN r ON r.vec_id = cd.vec_id
       |        JOIN lut l ON l.j = cd.j AND l.cid = cd.code
       |                  AND l.pcell = r.label AND cd.vec_id <> l.qid
       |        GROUP BY 1, 2)""".stripMargin

  // The two-stage entries' shortlist: the PqRerank (adc_fp, nn_id)-least
  // candidates per query.
  private lazy val shortSql: String =
    s"""short AS (SELECT qid, nn_id FROM (
       |  SELECT qid, nn_id,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, nn_id) AS rn
       |  FROM adc) WHERE rn <= $PqRerank)""".stripMargin

  // [[nearest]]'s twin: per qid the (score, nn_id)-least row of `rel`.
  private def rank1Sql(score: String, rel: String): String =
    winnersSql(s"qid, nn_id, $score", rel, "qid", s"$score, nn_id") + " ORDER BY qid"

  /** The per-method oracle strings; [[oracles]] adds ann_recall, which
    * SPLICES these as sub-selects (nested WITH — DuckDB-legal inside a
    * parenthesized subquery) so the recall harness and the tiers it
    * measures can never drift apart.
    */
  /** knn_join's full oracle string — a val because three strings splice
    * it: the catalog entry, knn_mutual_rerank (symmetrized edges), and
    * [[knnMutualPairsSql]] (the mutual filter, also consumed by
    * DedupQueries' dedup_semantic_graph mirror).
    */
  private lazy val knnJoinSql: String = {
    val gnpRel = """q JOIN gns ON gns.qid = q.qid
                   |    JOIN gbc b ON (b.scell = q.qscell OR b.scell = gns.s2) AND b.cid <> q.qcell""".stripMargin
    s"""WITH $pqCtes,
       |$km2Ctes,
       |asg AS (SELECT vec_id, cluster FROM gz),
       |q AS (SELECT vec_id AS qid, scell AS qscell, cluster AS qcell, v AS qv FROM gz),
       |gbc AS (SELECT b.scell, CAST(b.scell * g.kb + b.cid AS INTEGER) AS cid, b.c
       |        FROM gb$KmIter b CROSS JOIN gkb g),
       |gsc AS (SELECT cid, c FROM gs$KmIter
       |        WHERE cid IN (SELECT DISTINCT scell FROM gbc)),
       |gns AS (${winnersSql("q.qid, s.cid AS s2", "q CROSS JOIN gsc s WHERE s.cid <> q.qscell",
                                  "q.qid", s"${dist2Sql("q.qv", "s.c")}, s.cid")}),
       |gnp AS (${winnersSql("q.qid, b.cid AS pcell", gnpRel, "q.qid", s"${dist2Sql("q.qv", "b.c")}, b.cid")}),
       |probes AS (SELECT qid, pcell FROM gnp
       |           UNION ALL SELECT qid, qcell AS pcell FROM q),
       |qs AS (SELECT vec_id AS qid, j, v[(j*$PqDsub+1):(j*$PqDsub+$PqDsub)] AS qsv
       |       FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS j)),
       |lut AS (SELECT q2.qid, c.j, c.cid,
       |               CAST(floor(${dist2Sql("q2.qsv", "c.c")} * $KmScale.0) AS BIGINT) AS lfp
       |        FROM qs q2 JOIN $pqFinalBook c ON q2.j = c.j),
       |adc AS (SELECT p.qid, cd.vec_id AS nn_id, CAST(SUM(l.lfp) AS BIGINT) AS adc_fp
       |        FROM $pqFinalAsg cd
       |        JOIN asg a ON a.vec_id = cd.vec_id
       |        JOIN probes p ON p.pcell = a.cluster AND cd.vec_id <> p.qid
       |        JOIN lut l ON l.qid = p.qid AND l.j = cd.j AND l.cid = cd.code
       |        GROUP BY 1, 2)
       |SELECT qid, CAST(rn AS INT) AS rank, nn_id, adc_fp FROM (
       |  SELECT qid, nn_id, adc_fp,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, nn_id) AS rn
       |  FROM adc) WHERE rn <= $KnnK ORDER BY qid, rank""".stripMargin
  }

  /** knn_mutual_pairs' oracle — the mutual filter over the spliced knn
    * graph (one nested WITH — the recall-splice precedent). Shared with
    * DedupQueries so dedup_semantic_graph's mirror consumes the SAME
    * candidate relation string.
    */
  private[queries] lazy val knnMutualPairsSql: String =
    // k AS MATERIALIZED: the self-join references k twice and DuckDB
    // inlines CTEs by default — without the hint the whole spliced knn
    // chain (kmeans unroll + PQ train) evaluates twice
    s"""WITH k AS MATERIALIZED (SELECT qid, nn_id, adc_fp FROM ($knnJoinSql) x)
       |SELECT a.qid AS d1, a.nn_id AS d2, a.adc_fp
       |FROM k a JOIN k b ON b.qid = a.nn_id AND b.nn_id = a.qid
       |                 AND a.qid < a.nn_id
       |ORDER BY d1, d2""".stripMargin

  /** ann_bruteforce's oracle — also ann_topk_agg's (the same answer
    * through another physical plan) and the exact reference ann_recall
    * scores against.
    */
  private lazy val bruteforceSql: String =
    s"""WITH e AS ($eSql),
       |scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS nn_id, ${cosineSql("q.v", "e.v")} AS sim
       |  FROM e q JOIN e ON q.vec_id < $NQueries AND e.vec_id <> q.vec_id)
       |${topKSql("scored")}""".stripMargin

  private lazy val oraclesBase: Map[String, String] = Map(
    "embedding_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cluster, d2 FROM $kmFinalAsg ORDER BY vec_id""".stripMargin,

    // Both SUMs cast back to BIGINT: DuckDB's SUM(BIGINT) widens to
    // HUGEINT, which pandas materializes as float64 — numerically equal
    // to Spark's int64 but a different representation, so the driver's
    // dtype-sensitive hash would fail (the r12 ann_pq defect).
    "embedding_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id,
         |       CAST(SUM(CAST(code AS BIGINT) << (j * $PqBits)) AS BIGINT) AS codes_packed,
         |       CAST(SUM(CAST(floor(d2 * $KmScale.0) AS BIGINT)) AS BIGINT) AS recon_err_fp
         |FROM $pqFinalAsg GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "ann_pq" ->
      s"""WITH $pqCtes,
         |$pqAdcSql
         |${rank1Sql("adc_fp", "adc")}""".stripMargin,

    // j cast to INTEGER: DuckDB's range() yields BIGINT where Spark's
    // sequence(0, PqM-1) yields INT — numerically equal, but the strict
    // dtype gate (and potentially the driver's hash) sees int64 vs int32.
    "pq_occupancy" ->
      s"""WITH $pqCtes
         |SELECT CAST(j AS INTEGER) AS j, code, count(*) AS n FROM $pqFinalAsg
         |GROUP BY 1, 2 ORDER BY j, code""".stripMargin,

    "ann_pq_rerank" ->
      s"""WITH $pqCtes,
         |$pqAdcSql,
         |$shortSql,
         |rer AS (SELECT s.qid, s.nn_id, ${dist2Sql("q.v", "c.v")} AS d2
         |        FROM short s JOIN e q ON q.vec_id = s.qid
         |                     JOIN e c ON c.vec_id = s.nn_id)
         |${rank1Sql("d2", "rer")}""".stripMargin,

    "ann_ivfpq" ->
      s"""$ivfpqAdcSql
         |${rank1Sql("adc_fp", "adc")}""".stripMargin,

    "ann_ivfpq_rerank" ->
      s"""$ivfpqAdcSql,
         |$shortSql,
         |rer AS (SELECT s.qid, s.nn_id, ${dist2Sql("x.v", "c.v")} AS d2
         |        FROM short s JOIN e x ON x.vec_id = s.qid
         |                     JOIN e c ON c.vec_id = s.nn_id)
         |${rank1Sql("d2", "rer")}""".stripMargin,

    // pqCtes is the OUTER chain (its e/codebook/codes feed the ADC); the
    // k-means cell machinery nests twice as parenthesized sub-WITHs (the
    // recall-splice precedent — two CTE chains both defining `e` cannot
    // share one WITH; the nested e is textually identical to the outer
    // one, so the relations agree).
    "knn_join" -> knnJoinSql,

    // symmetrize the graph's edges (UNION dedupes = the Spark distinct),
    // exact dist2 on the endpoint vectors, top-KnnK per vector.
    // k AS MATERIALIZED: both union arms read k (the knnMutualPairsSql
    // inlining note)
    "knn_mutual_rerank" ->
      s"""WITH k AS MATERIALIZED (SELECT qid, nn_id FROM ($knnJoinSql) x),
         |cand AS (SELECT qid, nn_id FROM k
         |         UNION SELECT nn_id AS qid, qid AS nn_id FROM k),
         |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
         |rer AS (SELECT c.qid, c.nn_id, ${dist2Sql("q.v", "n.v")} AS d2
         |        FROM cand c JOIN e2 q ON q.vec_id = c.qid
         |                    JOIN e2 n ON n.vec_id = c.nn_id)
         |SELECT qid, CAST(rn AS INT) AS rank, nn_id, d2 FROM (
         |  SELECT qid, nn_id, d2,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nn_id) AS rn
         |  FROM rer WHERE NOT isnan(d2)) WHERE rn <= $KnnK ORDER BY qid, rank""".stripMargin,

    "ann_bruteforce" -> bruteforceSql,

    // the aggregator twin's result is ann_bruteforce's by definition
    "ann_topk_agg" -> bruteforceSql,

    "mine_hard_negatives" ->
      s"""WITH e AS ($eSql),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id AS nn_id,
         |         e.label = q.label AS same, ${cosineSql("q.v", "e.v")} AS sim
         |  FROM e q JOIN e ON q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
         |qs AS (SELECT DISTINCT qid, qlabel FROM scored),
         |p AS (${winnersSql("qid, nn_id AS pos_id, sim AS pos_sim", "scored WHERE same", "qid", "sim DESC, nn_id")}),
         |n AS (${winnersSql("qid, nn_id AS neg_id, sim AS neg_sim", "scored WHERE NOT same", "qid", "sim DESC, nn_id")})
         |SELECT qs.qid, qs.qlabel AS label, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
         |FROM qs LEFT JOIN p USING (qid) LEFT JOIN n USING (qid)
         |ORDER BY qs.qid""".stripMargin,

    "mine_semi_hard_negatives" ->
      s"""WITH e AS ($eSql),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id AS nn_id,
         |         e.label = q.label AS same, ${cosineSql("q.v", "e.v")} AS sim
         |  FROM e q JOIN e ON q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
         |pos AS (SELECT qid, MAX(sim) AS pos_sim FROM scored WHERE same GROUP BY 1),
         |sh AS (SELECT s.qid, s.qlabel, s.nn_id, s.sim, p.pos_sim,
         |         CAST(COUNT(*) OVER (PARTITION BY s.qid) AS BIGINT) AS n_semi
         |       FROM scored s JOIN pos p USING (qid)
         |       WHERE NOT s.same AND s.sim < p.pos_sim)
         |${winnersSql("qid, qlabel AS label, pos_sim, nn_id AS semi_id, sim AS semi_sim, n_semi",
                       "sh", "qid", "sim DESC, nn_id")} ORDER BY qid""".stripMargin,

    "ann_lsh" ->
      s"""WITH e0 AS (SELECT vec_id, v, ${signBucketSql("v", LshBits)} AS bucket FROM ($eSql)),
         |${DedupQueries.capBucketsSql("e0", Seq("bucket"), "hot", "e")},
         |pairs AS (
         |  SELECT a.vec_id, a.bucket, b.vec_id AS nn_id, ${cosineSql("a.v", "b.v")} AS sim
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |${winnersSql("vec_id, bucket, nn_id", "pairs", "vec_id", "sim DESC, nn_id")} ORDER BY vec_id""".stripMargin,

    "ann_lsh_multiprobe" -> {
      val tabArms = (0 until Probes).map(t =>
        s"SELECT vec_id, v, $t AS tbl, ${signBucketAtSql("v", t * LshBits, LshBits)} AS bucket FROM e")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS ($eSql),
         |tabs AS (
         |  $tabArms),
         |${DedupQueries.capBucketsSql("tabs", Seq("tbl", "bucket"), "hot", "cold")},
         |pairs AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id, ${cosineSql("a.v", "b.v")} AS sim
         |  FROM cold a JOIN cold b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |${winnersSql("vec_id, nn_id", "pairs", "vec_id", "sim DESC, nn_id")} ORDER BY vec_id""".stripMargin
    },

    "ann_ivf_nprobe" -> nprobeSql(),

    // nprobe's chain with the candidate side SEMI-joined to the
    // predicate's id set before scoring (pre-filtering, never
    // post-filtering); index structure (reps, probe rule) unfiltered
    "ann_filtered" -> nprobeSql("f",
      s"""f AS (SELECT e.* FROM e WHERE EXISTS (
         |        SELECT 1 FROM documents d
         |        WHERE d.doc_id = e.vec_id AND d.doc_id IS NOT NULL
         |          AND d.lang = '$AnnFilterLang')),
         |""".stripMargin),

    "embedding_outliers" ->
      s"""WITH ${cellRepsSql(labeledSql)},
         |scored AS (SELECT e.vec_id, e.label, ${cosineSql("e.v", "reps.rv")} AS sim_to_rep
         |           FROM e JOIN reps ON e.label = reps.cell),
         |thr AS (SELECT label, quantile_cont(sim_to_rep, 0.1) AS p10
         |        FROM scored GROUP BY 1)
         |SELECT s.vec_id, s.label, s.sim_to_rep, t.p10,
         |       s.sim_to_rep < t.p10 AS is_outlier
         |FROM scored s JOIN thr t USING (label)
         |ORDER BY vec_id""".stripMargin,

    "ann_ivf" ->
      s"""WITH e AS ($eSql),
         |scored AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nn_id, ${cosineSql("q.v", "e.v")} AS sim
         |  FROM e q JOIN e ON q.vec_id < $NQueries AND e.label = q.label AND e.vec_id <> q.vec_id)
         |${topKSql("scored")}""".stripMargin
  )

  def oracles: Map[String, String] = oraclesBase +
    // index-served PQ must be bit-identical to compute-from-vectors PQ:
    // the oracle IS ann_pq's string
    ("ann_pq_indexed" -> oraclesBase("ann_pq")) +
    // the mutual filter over the spliced knn graph (one nested WITH —
    // the recall-splice precedent; the string is [[knnMutualPairsSql]],
    // shared with dedup_semantic_graph's mirror)
    ("knn_mutual_pairs" -> knnMutualPairsSql) + ("ann_recall" -> {
    val ctes = recallTiers.zipWithIndex.map { case (n, i) =>
      // the qid filter mirrors the Spark tier restriction (a no-op for
      // the point-query tiers, the ladder window for knn_join)
      s"m$i AS (SELECT qid, nn_id FROM (${oraclesBase(n)}) t WHERE qid < $NQueries)"
    }.mkString(",\n")
    val rows = recallTiers.zipWithIndex.map { case (n, i) =>
      s"""SELECT '$n' AS method,
         |  CAST((SELECT COUNT(*) FROM m$i) AS BIGINT) AS n_ret,
         |  CAST((SELECT COUNT(*) FROM m$i WHERE EXISTS (
         |    SELECT 1 FROM bf WHERE bf.qid = m$i.qid AND bf.nn_id = m$i.nn_id)) AS BIGINT) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bf AS (SELECT qid, nn_id FROM ($bruteforceSql) t),
       |$ctes
       |SELECT method, n_ret, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_ret AS DOUBLE) AS hit_rate
       |FROM ($rows)
       |ORDER BY method""".stripMargin
  })
}
