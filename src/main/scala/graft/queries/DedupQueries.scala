package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.Election
import graft.operators.Election.winnersSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` / `embeddings` — the operators a
  * training-data pipeline needs at 100 TB, each designed around a LINEAR
  * candidate-generation step (group-by / bucket-join), never an unblocked
  * O(n²) self-join:
  *
  *  - exact:   hash-groupBy on md5(text)
  *  - minhash: md5-based k-min signatures → signature-group canonical,
  *             plus the canonical shingle→minhash→band→bucket-join LSH
  *             near-dup pairs with estimated Jaccard
  *  - simhash: 64-bit hex-digit majority sketch → exact-group canonical +
  *             banded (4×16-bit) candidate pairs within Hamming ≤ 3
  *  - n-gram Jaccard: 3-token shingle bucket-join candidates → exact Jaccard,
  *             with hot shingles (document frequency > [[MaxShingleDf]])
  *             dropped before the join — a single stop-shingle bucket is the
  *             one thing that turns this plan quadratic at scale, and such
  *             shingles carry near-zero Jaccard information anyway
  *  - embedding: cosine nearest neighbor inside (coarse cell × sign-LSH
  *             sub-bucket) — the coarse `label` cell count is fixed, so an
  *             all-pairs join within cells is still O(n²/L); the sign-bit
  *             sub-bucket multiplies the bucket count by 2^[[CellBits]],
  *             which DIVIDES the quadratic constant but does not remove it
  *             (cell × sub-bucket is a fixed key space, so per-bucket
  *             membership still grows linearly with n) — which is why the
  *             query also drops buckets larger than [[MaxBucket]] before
  *             the self-join, the same broadcast-anti-join cap as the
  *             n-gram path
  *
  *  - containment: the DIRECTIONAL sibling of n-gram Jaccard (|A∩B|/|A| ≥
  *             0.8) over the same capped candidate stage — catches a short
  *             doc quoted inside a long one, which symmetric Jaccard
  *             scores ≈ |A|/|B| and misses
  *  - source overlap: per-source bottom-k (KMV) md5-shingle sketches →
  *             pairwise Jaccard estimates between corpus sources, one
  *             partial-aggregable pass plus a sources²·k driver-scale join
  *  - n-gram novelty: per-doc fraction of corpus-FIRST shingles
  *             (keep-first min(doc_id)) — the dedup-outcome metric
  *
  * All hashing is md5 (identical in Spark and DuckDB), so even the sketch
  * operators are oracle-checkable.
  */
object DedupQueries {

  // K and MaxBucket are private[graft]: graft.LshStats (the scaling
  // attribution probe) must count the stages of the REAL query —
  // duplicating the constants would let the probe silently desynchronize
  // from the operator it measures.
  private[graft] val K = 8     // minhash signature length
  private val BITS = 64        // simhash width (two md5s, one bit per hex digit)
  private val Bands = 4        // simhash LSH bands (16 bits each → 65,536 buckets/band)
  private val MaxShingleDf = 100 // n-gram Jaccard: drop shingles in more docs than this
  private[graft] val CellBits = 8  // embedding dedup: sign-LSH sub-bucket bits within a cell
  // Any FIXED-width bucket space (simhash bands, sign sub-buckets) admits a
  // quadratic blow-up when one bucket's membership grows with the corpus;
  // buckets larger than this are dropped via broadcast anti-join BEFORE the
  // self-join. Recall cost is negligible by construction: a bucket this hot
  // is dominated by exact/near-exact duplicates already caught by
  // dedup_exact / dedup_simhash's Hamming-0 grouping.
  private[graft] val MaxBucket = 100
  // minhash LSH emission gate: fraction of agreeing signature components.
  // private[graft] like K/MaxBucket — graft.LshStats applies the REAL gate.
  // 0.5: at least half the components agree. Lowering it to the 0.2
  // truth bar buys +0.1pp recall for +5% candidates and -3.6pp precision
  // (SCALE.md, the r16 threshold ladder): missed pairs never collide in a
  // band, so the gate is not the recall ceiling. Every derived relation
  // and every oracle string is built from this value.
  private[graft] val MinEstJaccard = 0.5
  // dedup_containment emission gate: fraction of the CONTAINED doc's rare
  // shingles that appear in the container.
  private[graft] val MinContainment = 0.8
  // dedup_winnowing: candidate pairs must share at least this many
  // winnowed fingerprints — one shared local-min hash is a 6-token run
  // (boilerplate-grade); two begins to look like copied prose.
  private[graft] val MinSharedFp = 2
  // source_overlap: bottom-k (KMV) sketch size per source. 256 gives a
  // Jaccard standard error of ~1/sqrt(256) ≈ 6% — mix-weight informative
  // — and the sketch stays 256 hashes per source whatever the corpus.
  private[graft] val SketchK = 256
  // dedup_semantic cosine gate. The driver's synthetic embeddings are
  // near-orthogonal (within-label cosine tops out ~0.47), so the gate is
  // tuned to that space; a production embedding model concentrates
  // duplicates at ~0.95+ — the constant is the operator's single knob.
  private[graft] val SemTau = 0.3

  // ===== the one hot-bucket cap =====
  // [[MaxBucket]] and these stages are the only spelling of the cap in
  // the program: every capped bucket space here, SimilarityQueries' sign
  // buckets, CurationQueries' directional decontamination caps, the
  // incremental-dedup stream's history probe and graft.LshStats' probes
  // compose them, and every oracle composes [[capBucketsSql]] (the
  // MaxShingleDf shingle caps included). A consumer with its own
  // count/filter/anti-join would silently desynchronize the first time
  // the cap policy changes.

  /** Per-bucket membership counts of a band/bucket frame over `keys`. */
  private[graft] def bucketCounts(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))

  /** Keys of buckets over the [[MaxBucket]] total-membership cap. */
  private[graft] def hotBuckets(counts: DataFrame, keys: Seq[String]): DataFrame =
    counts.filter(col("n") > MaxBucket).select(keys.map(col): _*)

  /** Rows minus hot buckets — the broadcast anti-join cap itself. */
  private[graft] def dropHot(rows: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame =
    rows.join(broadcast(hot), keys, "left_anti")

  /** The capped band space in one step: count, find hot, anti-join. */
  private[graft] def capBuckets(rows: DataFrame, keys: Seq[String]): DataFrame =
    dropHot(rows, hotBuckets(bucketCounts(rows, keys), keys), keys)

  /** The SQL twin of the cap, as two CTEs: `hot` (the `keys` of `rel`'s
    * buckets with more than `bound` rows — counting only rows matching
    * `where` when given, the directional caps' held-out count) and `cold`
    * (`rel` minus those buckets, a NOT EXISTS anti-join; `materialized`
    * adds DuckDB's MATERIALIZED hint to it).
    */
  private[queries] def capBucketsSql(rel: String, keys: Seq[String], hot: String,
      cold: String, bound: Int = MaxBucket, where: String = "",
      materialized: Boolean = false): String = {
    val ks = keys.mkString(", ")
    val filter = if (where.isEmpty) "" else s" WHERE $where"
    val hint = if (materialized) " MATERIALIZED" else ""
    val eq = keys.map(k => s"$hot.$k = $rel.$k").mkString(" AND ")
    s"""$hot AS (SELECT $ks FROM $rel$filter GROUP BY $ks HAVING count(*) > $bound),
       |$cold AS$hint (SELECT * FROM $rel
       |  WHERE NOT EXISTS (SELECT 1 FROM $hot WHERE $eq))""".stripMargin
  }

  /** The minhash LSH candidate self-join on (band, bval) under a
    * caller-supplied pair-ordering predicate (doc-level `<`, or the
    * chunk-level composite lexicographic `<`). Sides are aliased a/b —
    * [[estJaccard]] reads them by those names.
    */
  private[graft] def minhashCandidateJoin(cold: DataFrame, ord: Column): DataFrame =
    cold.as("a").join(cold.as("b"),
      col("a.band") === col("b.band") && col("a.bval") === col("b.bval") && ord)

  /** Estimated Jaccard of an a/b-aliased candidate join: fraction of
    * agreeing signature components (exact md5 arithmetic, oracle-exact).
    */
  private[graft] def estJaccard(k: Int): Column =
    (0 until k).map(i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0)).reduce(_ + _) /
      lit(k.toDouble)

  /** Distinct (doc_id, shingle) pairs ([[TextFunctions.shingles3]] binds
    * the token array once — see its scaladoc for why that matters).
    *
    * The explicit `isNotNull` matches the filter every downstream
    * equi-join infers on its side of the plan: without it, the hot-bucket
    * branch (which only groups, so infers nothing) scans/aggregates a
    * CANONICALLY DIFFERENT subplan and Spark cannot reuse the expensive
    * exchange between the join sides and the cap branch. doc_id is never
    * null, so the filter is semantically free.
    */
  private[graft] def shingleTable(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables(s, dir, "documents"))

  /** [[shingleTable]] over a caller-supplied (doc_id, text) frame — the
    * post-canon recall instrument shingles the exact-deduplicated
    * corpus with the SAME computation as the raw one (the tokensOf
    * precedent).
    */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(shingles3(tokens(col("text")))).as("sh"))
      .distinct()

  /** Per-doc FULL k-min shingle signature (doc_id, ssig): md5 of the
    * concatenated h0..h{K-1} mins — the same mins [[minhashBands]]
    * derives, collapsed to one grouping key. Signature-equality grouping
    * is the UNCAPPED exact-duplicate catcher the LSH cap's recall
    * defense leans on (a pair sharing all K mins has estimated Jaccard
    * 1.0); dedup_recall's union tier turns that defense into a number.
    * Linear: one partial-aggregable groupBy over the shingle table.
    */
  private def shingleSigs(s: SparkSession, dir: String): DataFrame =
    shingleSigsOf(shingleTable(s, dir))

  /** [[shingleSigs]] over a caller-supplied (doc_id, sh) shingle frame —
    * the post-canon recall tier signs the canonical corpus with the SAME
    * computation ([[shinglesOf]]' rationale).
    */
  private def shingleSigsOf(sh: DataFrame): DataFrame =
    minhashSigs(sh, Seq("doc_id"), "sh", K)
      .select(col("doc_id"), signature(K).as("ssig"))

  /** Same-signature pair count of a (doc_id, ssig) frame as one row,
    * one column `as`: a group of g docs holds g(g-1)/2 pairs, summed in
    * exact integer arithmetic, never materialized.
    */
  private def sigPairCount(sig: DataFrame, as: String): DataFrame =
    sig.groupBy("ssig").agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(col("g") * (col("g") - lit(1))), lit(0L)).as("t"))
      .select(expr("t div 2").as(as))

  /** Distinct (doc_id, token) pairs (isNotNull: see [[shingleTable]]). */
  private def tokenTable(s: SparkSession, dir: String): DataFrame =
    tokensOf(Tables(s, dir, "documents"))

  /** [[tokenTable]] over a caller-supplied (doc_id, text) frame — the
    * incremental-dedup stream signs each arriving batch with the SAME
    * computation as the batch operators, so its anti-join against the
    * published history is exact.
    */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .distinct()

  /** Per-doc 64-bit simhash as a LONG. Bits 0–31 come from `md5(w)`, bits
    * 32–63 from `md5('x:' || w)` (one majority-voted bit per hex digit,
    * digit >= '8' = set, ties round up); bit j is the 2^(63-j) bit, so
    * `lpad(bin(sig), 64, '0')` reproduces the canonical '1'/'0' string form
    * bit-for-bit (bin() of a negative long is already the full 64-char
    * two's-complement string).
    *
    * Integer form matters at scale: hamming distance between two sketches
    * is one codegen'd `bit_count(a ^ b)` instead of 64 substring compares,
    * and band keys are shift/mask arithmetic instead of string slicing.
    *
    * The per-token digit predicate goes through the native
    * [[graft.expressions.HexMsbMask]]: the two md5 hex strings are packed
    * into one LONG per token (a digit >= '8' is its nibble's high bit),
    * and the 64 majority-vote sums become shift/mask arithmetic on that
    * word — replacing 64 `substring(...) >= '8'` string compares per
    * token in the aggregate's hot loop. Values are bit-identical to the
    * substring form (HexMsbMaskProps fuzz) so the DuckDB oracle, which
    * keeps the substring spelling, still hash-matches.
    */
  private def simhashTable(s: SparkSession, dir: String): DataFrame =
    simhashOf(Tables(s, dir, "documents"))

  /** Per-doc simhash of a caller-supplied (doc_id, text) frame — see
    * [[simhashTable]] for the signature derivation; factored so the
    * incremental-dedup stream signs arriving batches identically.
    */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.hexMsbMask
    // digit i of md5(w) ↔ packed bit 63-i; digit i of md5('x:'||w) ↔
    // packed bit 31-i — so sig bit 63-j reads packed bit 63-j for ALL j
    val packed = shiftleft(hexMsbMask(md5(col("w"))).cast("long"), 32)
      .bitwiseOR(hexMsbMask(md5(concat(lit("x:"), col("w")))).cast("long")
        .bitwiseAND(lit(0xFFFFFFFFL)))
    val sums = (0 until BITS).map(j =>
      sum(shiftright(col("bits"), 63 - j).bitwiseAND(lit(1L))).as(s"s$j")) :+
      count(lit(1)).as("n")
    val sigInt = (0 until BITS).map(j =>
      when(col(s"s$j") * 2 >= col("n"), lit(1L << (63 - j))).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    tokensOf(docs)
      .withColumn("bits", packed)
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sigInt.cast("long").as("sig"))
  }

  /** SimHash near-dup candidate pairs (d1 < d2, Hamming 1–3), shared by
    * `dedup_simhash_pairs` (the pair list) and `dedup_clusters` (the
    * connected components over them). See the `dedup_simhash_pairs` entry
    * for the banding/cap/reuse rationale.
    */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // session-cached (pair-bounded): consumed by dedup_simhash_pairs AND
    // dedup_clusters' edge source — one banding/self-join per session.
    // Inside the build, the signature aggregation materializes ONCE:
    // capBuckets' count branch, its anti-join side, and both self-join
    // aliases otherwise re-run the tokenize+md5+64-bitsum chain ~4× —
    // whether Catalyst reuses the exchange instead is an AQE coin flip
    // (the kmeans precedent measured the same HEAD 6× apart on it).
    // Retired sig blocks release at the harness drain; the cached pair
    // frame is already materialized by then. Per-doc signature rows are
    // corpus-proportional → serialized storage (Checkpoints scaladoc).
    graft.operators.SessionCache.frame(s, dir, "simhash-pairs") {
      graft.operators.Checkpoints.fresh(
        simhashPairsFrom(graft.operators.Checkpoints.retire(
          graft.operators.Checkpoints.corpusScaled(simhashTable(s, dir)))))
    }

  /** The minhash signature: one row per `keys` group of `rows` with
    * h_i = min(md5('<i>:' || x)), i < k. Its only Spark spelling —
    * [[minhashBands]] bands it, [[signature]] collapses it — mirrored in
    * SQL by [[minhashMinsSql]], so a change of hash domain is one edit.
    */
  private[graft] def minhashSigs(rows: DataFrame, keys: Seq[String], x: String,
      k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col(x)))).as(s"h$i"))
    rows.groupBy(keys.head, keys.tail: _*).agg(mins.head, mins.tail: _*)
  }

  /** The full k-min signature of a [[minhashSigs]] frame as one grouping
    * key: md5 of h0..h{k-1} joined by '|' ([[signatureSql]] mirrors it).
    */
  private def signature(k: Int): Column =
    md5(concat_ws("|", (0 until k).map(i => col(s"h$i")): _*))

  /** UNCAPPED MinHash-LSH band rows over a distinct (doc_id, <carry...>,
    * sh) shingle frame: per-doc [[minhashSigs]] h0..h{k-1}, then one row
    * per (doc, band) with `bval` = md5 of the band's two signature
    * halves. Carry columns ride along (e.g. decontaminate_fuzzy's split
    * bucket). Callers apply their own hot-bucket cap — the candidate
    * machinery is common to `dedup_minhash_lsh` and
    * [[CurationQueries]]'s `decontaminate_fuzzy`, but the cap POLICY is
    * not (a self-join caps total membership; a cross-split probe caps
    * only the held-out side).
    */
  private[graft] def minhashBands(sh: DataFrame, carry: Seq[String], k: Int): DataFrame = {
    val sigs = minhashSigs(sh, "doc_id" +: carry, "sh", k)
    sigs.select(
      (col("doc_id") +: carry.map(col) ++: (0 until k).map(i => col(s"h$i"))) :+
        posexplode(array((0 until k / 2).map(b =>
          md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")))): _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
      // explicit isNotNull mirrors the filter downstream equi-joins infer
      // (h_i are nullable min() aggregates) so cap branches canonicalize
      // identically and the signature exchange is reused, not recomputed
      .filter(col("bval").isNotNull)
  }

  /** Oracle fragments mirroring [[minhashSigs]], [[signature]] and
    * [[minhashBands]] (shared with CurationQueries so the Spark side and
    * its DuckDB mirror cannot drift independently).
    */
  private[queries] def minhashMinsSql(x: String, k: Int): String =
    (0 until k).map(i => s"min(md5('$i:' || $x)) AS h$i").mkString(", ")
  private[queries] def signatureSql(k: Int): String =
    "md5(" + (0 until k).map(i => s"h$i").mkString(" || '|' || ") + ")"
  private[queries] def minhashBvalCaseSql(k: Int): String =
    "CASE band " + (0 until k / 2 - 1).map(b =>
      s"WHEN $b THEN md5(h${2 * b} || h${2 * b + 1})").mkString(" ") +
      s" ELSE md5(h${2 * (k / 2 - 1)} || h${2 * (k / 2 - 1) + 1}) END"
  private[queries] def minhashMatchesSql(k: Int): String =
    (0 until k).map(i =>
      s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** One row per (doc, 16-bit simhash band) of a (doc_id, sig LONG)
    * frame — THE band geometry of the simhash family, shared by
    * [[simhashPairsFrom]] and the incremental-dedup stream's history
    * probe (StreamingPipelines), which must band exactly like the batch
    * operator or its Hamming-≤3 pigeonhole recall claim silently breaks.
    */
  private[graft] def simhashBandRows(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map(b =>
          shiftright(col("sig"), 16 * (Bands - 1 - b)).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "sig", "band", "bval")

  /** [[simhashPairs]] over a pre-computed (possibly checkpointed)
    * signature table — lets `dedup_canonical` derive both the Hamming-1..3
    * pairs and the Hamming-0 (same-signature) star edges from ONE
    * materialized signature aggregation instead of running it twice.
    */
  private def simhashPairsFrom(sigTable: DataFrame): DataFrame = {
    val bands = capBuckets(simhashBandRows(sigTable), Seq("band", "bval"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming"))
      .filter(col("hamming").between(1, 3))
      .dropDuplicates("d1", "d2")
  }

  /** Connected components over the simhash near-dup pair graph —
    * (doc_id, cluster_id, cluster_size), unordered — shared by
    * `dedup_clusters` (the labeling itself) and `dedup_canonical` (the
    * keep/drop decision on top of it).
    *
    * The end-product of dedup at scale is not a pair list but a cluster
    * id per document. Components are computed by HOOK-and-CONTRACT
    * min-label rounds over the simhash pair edges: each round every doc
    * takes the min label among itself and its neighbors (hook), then the
    * label map is jumped label → label(label) to IDEMPOTENCE (contract),
    * so labels are component-root ids entering every round and one hook
    * merges whole root trees; a fixpoint is a connected component
    * labeled by its smallest doc_id. The loop runs on CHECKPOINTED
    * iterations (localCheckpoint truncates the logical plan — without it
    * the plan doubles per round and re-executes the whole simhash
    * pipeline each join) and converges in O(log n) outer rounds —
    * measured 6 rounds at sf10 where the previous single-composition
    * spelling took 43, at the identical fixpoint sum (see the loop
    * comment in [[hookContractLabels]]). A pair graph of at most
    * `driverMaxPairs` edges skips the loop: union-find on the driver
    * reaches the same fixpoint ([[clusterLabelsFromEdges]]). Labels are
    * integers, so the fixpoint is exactly reproducible by the oracle's
    * recursive reachability closure (no float order sensitivity).
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String,
      includeExact: Boolean = false, driverMaxPairs: Int = CcDriverMaxPairs): DataFrame =
    if (!includeExact)
      clusterLabelsFromEdges(Tables(s, dir, "documents").select(col("doc_id")),
        simhashEdges(s, dir, includeExact = false), driverMaxPairs)
    else graft.operators.SessionCache.frame(s, dir, "cluster-map-exact") {
      // session-cached (doc-rows-bounded, three longs per row): the
      // KEEP/DROP-grade map is consumed by dedup_canonical AND all three
      // pipeline_curate forms — the CC loop, the catalog's most expensive
      // shared step, runs once per session instead of once per consumer
      // (the in-session analog of publishClusterMap's snapshot)
      graft.operators.Checkpoints.corpusScaled(
        clusterLabelsFromEdges(Tables(s, dir, "documents").select(col("doc_id")),
          simhashEdges(s, dir, includeExact = true), driverMaxPairs))
    }

  /** The simhash near-dup pair edges (d1, d2) of [[clusterLabels]].
    * `includeExact` additionally connects same-signature (Hamming-0)
    * documents: dedup_clusters deliberately leaves those to
    * dedup_simhash's exact-group canon, but a KEEP/DROP decision
    * (dedup_canonical) must treat exact and near duplicates as one
    * class. The star edges (min-id -> member) are O(group) rows and
    * collapse in one propagation round; deriving both edge kinds from
    * ONE checkpointed signature table runs the expensive signature
    * aggregation once, not twice.
    */
  private def simhashEdges(s: SparkSession, dir: String,
      includeExact: Boolean): DataFrame =
    if (!includeExact) simhashPairs(s, dir).select("d1", "d2")
    else graft.operators.SessionCache.frame(s, dir, "simhash-edges-exact") {
      val sigs = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(simhashTable(s, dir)))
      // groupBy + join back, NOT a Window over sig: a doc mirrored
      // millions of times is one signature group, and a window would
      // funnel the whole group into a single task's sort — the
      // partial-aggregable min + equi-join spelling has no such
      // concentration (the repo-wide "no Window funnel" rule)
      val sigMin = sigs.groupBy("sig").agg(min(col("doc_id")).as("m"))
      val sigDup = sigs.join(sigMin, Seq("sig"))
        .filter(col("doc_id") =!= col("m"))
        .select(col("m").as("d1"), col("doc_id").as("d2"))
      // session-cached (pair+star-edge-bounded): dedup_canonical's CC
      // loop and dedup_clusters_multi's edge union both consume this —
      // one signature aggregation + banding per session, not one each
      graft.operators.Checkpoints.fresh(
        simhashPairsFrom(sigs).select("d1", "d2").union(sigDup))
    }

  /** Pair-edge rows up to which [[clusterLabelsFromEdges]] labels on the
    * driver instead of running the distributed loop. At this bound (a
    * random graph of 65,536 edges over 131,072 ids) the driver path took
    * 1.5-1.8 s and the loop 10.4-11.7 s on a 4-core local[4] session: the
    * loop pays its three setup checkpoints and ~10 jobs per round.
    */
  private[graft] val CcDriverMaxPairs = 1 << 16

  /** The connected-components labeling over a caller-supplied undirected
    * pair-edge frame (d1, d2) — the engine of [[clusterLabels]] (simhash
    * edges) and `dedup_clusters_multi` (the union of every pair relation
    * the catalog emits). Edge SOURCE is the only thing that varies; the
    * labeling and the singleton-completion join are shared verbatim.
    *
    * Two paths compute the same (id, label) map, the component's minimum
    * id per paired vertex:
    *  - DRIVER finish: one bounded collect, `limit(driverMaxPairs + 1)`,
    *    both gates the path and fetches the edges. If it returns at most
    *    `driverMaxPairs` rows, union-find by minimum id labels them
    *    ([[minIdLabels]]) and the map is a local relation: no checkpoint,
    *    no loop. Labels are integers and the minimum of a component does
    *    not depend on the order edges are merged in, so the map is
    *    bit-identical to the loop's fixpoint.
    *  - DISTRIBUTED loop ([[hookContractLabels]]) otherwise. The probe
    *    then costs one more evaluation of `pairs0` up to the limit.
    * `driverMaxPairs` is [[CcDriverMaxPairs]]; specs pass 0 (never the
    * driver) to run both paths on the same inputs.
    */
  private[graft] def clusterLabelsFromEdges(docs: DataFrame,
      pairs0: DataFrame, driverMaxPairs: Int = CcDriverMaxPairs): DataFrame = {
    val idType = pairs0.schema("d1").dataType
    val labels = graft.operators.Checkpoints.collectAtMost(
        pairs0.select(col("d1").cast("long"), col("d2").cast("long")), driverMaxPairs) match {
      case Some(rows) => minIdLabels(docs.sparkSession, rows)
        .select(col("id").cast(idType), col("label").cast(idType))
      case None => hookContractLabels(pairs0)
    }
    // sizes come from the SMALL labels frame, not from the full docs
    // join (which would execute the corpus-wide join twice): every doc
    // absent from `labels` has no edge, hence cluster size 1
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
    val labeled = labels.join(sizes, "label")
    docs.join(labeled, docs("doc_id") === labeled("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"))
  }

  /** The fixpoint of [[hookContractLabels]] on the driver: union-find over
    * the collected (d1, d2) rows, always hanging the larger root under the
    * smaller, so a vertex's root is its component's minimum id. Roots are
    * indices into the sorted distinct ids, hence "smaller index" is
    * "smaller id". A null endpoint joins nothing and its partner keeps its
    * own id, which is what the loop's null-dropping joins do too.
    * Returns (id LONG, label LONG) as a local relation.
    */
  private def minIdLabels(s: SparkSession, pairs: Array[org.apache.spark.sql.Row]): DataFrame = {
    val ids = pairs.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(r.getLong)).distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    pairs.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = find(java.util.Arrays.binarySearch(ids, r.getLong(0)))
        val b = find(java.util.Arrays.binarySearch(ids, r.getLong(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(ids.indices.map(i => org.apache.spark.sql.Row(ids(i), ids(find(i)))).asJava,
      new org.apache.spark.sql.types.StructType().add("id", "long").add("label", "long"))
  }

  /** The distributed labeling loop of [[clusterLabelsFromEdges]]: (id,
    * label) for every paired vertex, as a checkpoint retired to the next
    * harness drain.
    */
  private def hookContractLabels(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.transform(graft.operators.Checkpoints.fresh)
    // checkpointed PRE-PARTITIONED on the per-round join key: LogicalRDD
    // preserves outputPartitioning, so the edge side of every iteration's
    // join reuses this one exchange instead of re-shuffling per round
    val edges = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .repartition(col("d2")).transform(graft.operators.Checkpoints.fresh)
    // `pairs` exists only so the edges union evaluates pairs0 once, not
    // twice; with `edges` materialized its blocks are dead — free now
    // (r9 driver bench: accumulated checkpoints poisoned the shared
    // session, Checkpoints scaladoc)
    graft.operators.Checkpoints.free(pairs)
    // iterate over PAIRED docs only — singletons can never change label,
    // and they dominate the corpus (the iteration working set is the
    // pair-graph vertex set, orders of magnitude smaller than the docs)
    var labels = edges.select(col("d1").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .transform(graft.operators.Checkpoints.fresh)
    // min-label is monotonically decreasing, so the integer label sum is
    // a convergence certificate — one agg per round, previous round's
    // value carried forward instead of recomputed. The sum is coalesced:
    // sum() over an EMPTY frame is NULL (a clean corpus with zero
    // near-dup pairs), and the loop must fall through to all-singletons
    // instead of throwing on the null.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    // CONTRACT the label map to idempotence: jump label → label(label)
    // until a fixpoint. The label frame is vertex-set-sized — far smaller
    // than the edge frame — so inner jumps are cheap, and with the map
    // idempotent entering every hook round, label values are component-
    // ROOT ids: one hook merges whole trees, and outer rounds track the
    // logarithm of how root groups merge, not path length. The sum is
    // the certificate at this level too: contraction is pointwise
    // non-increasing, so a sum that ever RISES can only mean a
    // nondeterministic label source — fail loudly, never loop on it.
    // Frames this helper supersedes are freed here; the returned frame
    // (possibly its own input, when already idempotent) is the caller's.
    def contracted(l0: DataFrame, s0: Long): (DataFrame, Long) = {
      var l = l0
      var s = s0
      var done = false
      while (!done) {
        val j = l.select(col("id").as("jid"), col("label").as("jlabel"))
        val nxt = l.join(j, l("label") === j("jid"), "left")
          .select(l("id"), coalesce(col("jlabel"), l("label")).as("label"))
          .transform(graft.operators.Checkpoints.fresh)
        val s2 = labelSum(nxt)
        require(s2 <= s, s"label certificate rose during contraction: $s -> $s2")
        done = s2 == s
        if (done) graft.operators.Checkpoints.free(nxt)
        else { graft.operators.Checkpoints.free(l); l = nxt; s = s2 }
      }
      (l, s)
    }
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    var rounds = 0
    // HOOK-and-contract rounds: hook every vertex to the min label over
    // its closed neighborhood (one edge join), then contract to
    // idempotence. The previous spelling — a single jump through the
    // previous round's map — measured 9 / 19 / 43 rounds at
    // sf0.1 / sf1 / sf10 on the ×N replica corpus: super-logarithmic
    // (each decade of corpus roughly doubled the rounds), because one
    // composition per round leaves the map non-idempotent and root-merge
    // chains drain one hop per round. To-idempotence is the textbook
    // O(log n) hybrid, so the 64-round loud-failure bound is structural
    // headroom (2^64 root-merge depth), not a corpus-size bet — and the
    // monotone-sum requires catch the only real non-termination risk
    // (a nondeterministic edge source) on the round it happens.
    while (!converged && rounds < 64) {
      // per-vertex min over the neighbors' labels (one edge join) ...
      val neighborMin = edges.join(labels, edges("d2") === labels("id"))
        .groupBy(col("d1")).agg(min(col("label")).as("nmin"))
      // ... LIFTED to the tree root: every root hooks to the min
      // neighbor-root seen by ANY member of its tree. Hooking at the
      // vertex level (the previous spelling) moves the min one graph
      // hop per round — a frontier crawl that measured 36 rounds at
      // sf10 even with contraction, because a bridge edge updates one
      // member while its root stays put. Root-level hooks form
      // root→root pointer CHAINS that the contraction collapses in one
      // pass, so a merged tree's whole edge surface works for it next
      // round — tree reach doubles per round (Shiloach–Vishkin), and
      // the same corpus measures 6 rounds.
      val rootMin = labels.join(neighborMin, labels("id") === neighborMin("d1"), "left")
        .groupBy(col("label"))
        .agg(min(coalesce(col("nmin"), col("label"))).as("rmin"))
      val hooked = labels.join(rootMin, Seq("label"))
        .select(col("id"), least(col("label"), col("rmin")).as("label"))
        .transform(graft.operators.Checkpoints.fresh)
      // a hook round whose sum did not move changed nothing (hooks are
      // pointwise non-increasing, so sum-equal ⇒ pointwise-equal), and
      // the map entering the round is already idempotent — the
      // contraction pass would be a no-op re-materialization; skip it on
      // the converged round (the r11 advisory)
      val hookedSum = labelSum(hooked)
      val (next, nextSum) =
        if (hookedSum == prevSum) (hooked, hookedSum)
        else contracted(hooked, hookedSum)
      require(nextSum <= prevSum,
        s"label certificate rose across a hook round: $prevSum -> $nextSum")
      converged = nextSum == prevSum
      prevSum = nextSum
      // the superseded frame's blocks are dead — free them now instead
      // of pinning every round's map for the session's life. Sum-equal ⇒
      // pointwise-equal (updates are pointwise non-increasing), so on
      // the converged round the OLD frame is kept and the identical new
      // one is released.
      if (converged) graft.operators.Checkpoints.free(next)
      else { graft.operators.Checkpoints.free(labels); labels = next }
      rounds += 1
    }
    require(converged, s"cluster labeling failed to converge in $rounds rounds")
    // converged: the caller's result reads only the FINAL labels — the
    // edge frame is dead (free now); the final labels back the lazy result
    // the caller will execute later, so they are retired to the next
    // harness drain instead of freed
    graft.operators.Checkpoints.free(edges)
    graft.operators.Checkpoints.retire(labels)
  }

  /** Publish the KEEP/DROP-grade cluster map (doc_id, cluster_id,
    * cluster_size; exact duplicates folded in) through the
    * manifest-keyed parquet sink. The CC label loop is the most
    * expensive step of `dedup_canonical` / `pipeline_curate`, and it is
    * recomputed per consuming query when run inline ("one query, one
    * plan"); at data scale the production shape is materialize-ONCE —
    * publish the map after each corpus build, then let every consumer
    * read the snapshot ([[canonicalDecisionFromMap]],
    * [[CurationQueries.pipelineCurateFrom]]) instead of re-deriving it.
    * The manifest sink gives the map the same atomic-snapshot /
    * staleness-bound contract as every other published table.
    */
  def publishClusterMap(s: SparkSession, dir: String, path: String): Unit =
    graft.sources.Sinks.mergeIntoKeyedParquet(
      clusterLabels(s, dir, includeExact = true), "doc_id", path)

  /** [[publishClusterMap]] over the FULL edge union ([[multiSourceEdges]])
    * — the production publish: one canonical cluster decision across
    * every duplicate-evidence relation the catalog emits, consumable by
    * [[canonicalDecisionFromMap]] unchanged (it takes the map path).
    */
  def publishMultiClusterMap(s: SparkSession, dir: String, path: String): Unit =
    graft.sources.Sinks.mergeIntoKeyedParquet(
      clusterLabelsFromEdges(Tables(s, dir, "documents").select(col("doc_id")),
        multiSourceEdges(s, dir)), "doc_id", path)

  /** [[canonicalDecision]] with the cluster map read from a published
    * snapshot ([[publishClusterMap]]) instead of re-running the CC loop.
    */
  def canonicalDecisionFromMap(s: SparkSession, dir: String, path: String): DataFrame =
    canonicalDecisionFrom(s, dir,
      graft.sources.Sinks.readKeyedParquet(s, path).select("doc_id", "cluster_id"))

  /** The `dedup_canonical` decision frame (doc_id, cluster_id, canon_id,
    * keep), unordered — also the first gate of CurationQueries'
    * `pipeline_curate`, which is why it is exposed package-side without
    * the presentation sort.
    */
  private[queries] def canonicalDecision(s: SparkSession, dir: String): DataFrame =
    canonicalDecisionFrom(s, dir,
      clusterLabels(s, dir, includeExact = true))

  /** The election step of [[canonicalDecision]] over a caller-supplied
    * (doc_id, cluster_id) frame — inline loop or published snapshot; the
    * quality-argmax pick is identical either way, which the materialized-
    * map spec asserts as frame equality.
    */
  def canonicalDecisionFrom(s: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysisQueries.canonScore(col("text"))
          .as("qscore"))
    val d = clusters
      .select("doc_id", "cluster_id")
      .join(scored, Seq("doc_id"))
    val canon = Election.winners(d, Seq("cluster_id"),
        Seq(Election.desc("qscore"), Election.asc("doc_id")), Seq("doc_id"))
      .withColumnRenamed("doc_id", "canon_id")
    d.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("canon_id"),
        (col("doc_id") === col("canon_id")).as("keep"))
  }

  /** One representative row (doc_id, chunk_id, chunk) per DISTINCT chunk
    * content — the min-(doc_id, chunk_id) member of each md5 group, i.e.
    * dedup_chunk_exact's canon. The chunk text rides the election as a
    * carried column, so it is ONE grouping with no join-back. Shared by
    * `dedup_chunk_minhash` (its exact-duplicate pre-filter) and
    * graft.LshStats' chunk probe.
    */
  private[graft] def chunkReps(s: SparkSession, dir: String): DataFrame =
    Election.winners(
        CurationQueries.chunkTable(s, dir).withColumn("chunk_hash", md5(col("chunk"))),
        Seq("chunk_hash"), Seq(Election.asc("doc_id"), Election.asc("chunk_id")),
        Seq("doc_id", "chunk_id", "chunk"))
      .drop("chunk_hash")

  /** Distinct (doc_id, chunk_id, sh) 3-shingle rows of [[chunkReps]] —
    * the input frame of `dedup_chunk_minhash`'s signature pipeline.
    */
  private[graft] def chunkRepShingles(s: SparkSession, dir: String): DataFrame =
    repShingles(chunkReps(s, dir))

  /** The shingle step of [[chunkRepShingles]] over a caller-supplied
    * (possibly checkpointed) reps frame — split out so graft.LshStats
    * can instrument the rep stage without re-spelling this one.
    */
  private[graft] def repShingles(reps: DataFrame): DataFrame =
    reps
      .select(col("doc_id"), col("chunk_id"),
        explode(shingles3(tokens(col("chunk")))).as("sh"))
      .distinct()

  /** Rare-shingle pair statistics (d1 < d2, inter, n1, n2) under the
    * hot-shingle cap — the shared candidate stage of `dedup_ngram_jaccard`
    * (symmetric Jaccard) and `dedup_containment` (directional
    * containment). One SQL twin: [[rareShinglePairStatsSql]].
    */
  private[graft] def rareShinglePairStats(s: SparkSession, dir: String): DataFrame =
    // session-cached (pair-bounded post-cap): three consumers —
    // dedup_ngram_jaccard, dedup_containment, and dedup_clusters_multi's
    // edge union — each previously paid the full shingle self-join.
    graft.operators.SessionCache.frame(s, dir, "rare-shingle-pair-stats") {
      // materialize the shingle HOF chain ONCE: without the checkpoint this
      // one stats plan evaluates shingleTable ~4× (hot-df groupBy, the
      // anti-join's left side, and both self-join aliases) — tokenize +
      // shingle + md5 over the whole corpus each time (r9 VERDICT "What's
      // wrong #3": HOF-heavy subplans get no plan-level reuse from
      // Catalyst; materialization is the only floor). The FULL shingle
      // table is the most corpus-expanded frame in the catalog (docs ×
      // shingles/doc) — serialized storage is mandatory, and it stays on
      // the retire-at-drain lifecycle (only the pair-bounded STATS output
      // is admitted to the session cache).
      val sh0 = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(shingleTable(s, dir)))
      graft.operators.Checkpoints.fresh(rareShinglePairStatsOf(sh0))
    }

  /** The hot-cap + self-join + size-join body of [[rareShinglePairStats]]
    * over a caller-supplied MATERIALIZED (doc_id, sh) frame — factored so
    * the post-canon recall tier derives exact-Jaccard truth on the
    * canonical corpus with the SAME stage (caller owns checkpoint
    * lifecycle; the frame feeds four subplans below).
    */
  private def rareShinglePairStatsOf(sh0: DataFrame): DataFrame = {
    val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("sh")
    val sh = sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sz.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
  }

  /** dedup_minhash_lsh's band/cap/self-join body over a caller-supplied
    * MATERIALIZED (doc_id, sh) frame — factored for the same reason as
    * [[rareShinglePairStatsOf]]: the post-canon tier derives LSH
    * candidates on the canonical corpus with the SAME cap policy.
    */
  private def minhashLshPairsOf(sh0: DataFrame): DataFrame = {
    val bandRows = graft.operators.Checkpoints.retire(
      graft.operators.Checkpoints.corpusScaled(minhashBands(sh0, Nil, K)))
    val bands = capBuckets(bandRows, Seq("band", "bval"))
    minhashCandidateJoin(bands, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        estJaccard(K).as("est_jaccard"))
      .filter(col("est_jaccard") >= MinEstJaccard)
      .dropDuplicates("d1", "d2")
  }

  /** `dedup_ngram_jaccard`'s pair frame (d1, d2, jaccard), unordered —
    * also an edge source of `dedup_clusters_multi`.
    */
  private[graft] def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsFrom(rareShinglePairStats(s, dir))

  /** [[ngramJaccardPairs]] over a caller-supplied (possibly
    * pre-materialized) [[rareShinglePairStats]] frame — so
    * [[multiSourceEdges]] can feed Jaccard and containment from ONE
    * stats materialization instead of two full stats subplans.
    */
  private[graft] def ngramJaccardPairsFrom(st: DataFrame): DataFrame =
    st.select(col("d1"), col("d2"),
        (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.2)

  /** `dedup_chunk_minhash`'s pair frame (d1, c1, d2, c2, est_jaccard),
    * unordered — projected to (d1, d2) it is an edge source of
    * `dedup_clusters_multi`.
    */
  private[graft] def chunkMinhashPairs(s: SparkSession, dir: String): DataFrame =
    // session-cached (pair-bounded): dedup_chunk_minhash and
    // dedup_clusters_multi's edge union both consume this — one chunk
    // shingle/banding pass per session
    graft.operators.SessionCache.frame(s, dir, "chunk-minhash-pairs") {
      // one materialization of the chunk → shingle → k-min signature chain
      // (the simhashPairs rationale; this was the catalog's #1 sf10 mover
      // when the exchange-reuse coin landed wrong)
      val bandRows = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(
          minhashBands(chunkRepShingles(s, dir), Seq("chunk_id"), K)))
      val bands = capBuckets(bandRows, Seq("band", "bval"))
      graft.operators.Checkpoints.fresh(minhashCandidateJoin(bands,
          col("a.doc_id") < col("b.doc_id") ||
            (col("a.doc_id") === col("b.doc_id") &&
              col("a.chunk_id") < col("b.chunk_id")))
        .select(col("a.doc_id").as("d1"), col("a.chunk_id").as("c1"),
          col("b.doc_id").as("d2"), col("b.chunk_id").as("c2"),
          estJaccard(K).as("est_jaccard"))
        .filter(col("est_jaccard") >= MinEstJaccard)
        .dropDuplicates("d1", "c1", "d2", "c2"))
    }

  /** `dedup_semantic` (labeled = true) / `dedup_semantic_unlabeled`
    * (labeled = false) pair frame (d1, d2, sim, drop_id), unordered.
    * The two forms differ ONLY in the candidate cell — (label × sign
    * bucket) vs sign bucket alone — and in which null filters the cell
    * key needs; sharing the body is what the unlabeled form's
    * subset-relation spec relies on.
    */
  private[graft] def semanticPairs(s: SparkSession, dir: String,
      labeled: Boolean): DataFrame =
    // session-cached (pair-bounded): each form feeds its standalone
    // catalog entry and dedup_clusters_multi's edge union
    graft.operators.SessionCache.frame(s, dir, s"semantic-pairs-$labeled") {
      graft.operators.Checkpoints.fresh(semanticPairsBuild(s, dir, labeled))
    }

  private def semanticPairsBuild(s: SparkSession, dir: String,
      labeled: Boolean): DataFrame = {
    val idFilter =
      if (labeled) col("vec_id").isNotNull && col("label").isNotNull
      else col("vec_id").isNotNull
    val cols =
      if (labeled) Seq(col("vec_id"), col("label"))
      else Seq(col("vec_id"))
    val cellKeys = if (labeled) Seq("label", "bkt") else Seq("bkt")
    val e0 = Tables(s, dir, "embeddings")
      .filter(idFilter)
      .select(cols :+ col("embedding").cast("array<double>").as("v"): _*)
      .withColumn("bkt", signBucket(col("v"), CellBits))
      .filter(col("bkt").isNotNull)
    semanticElection(s, dir, withinCellPairs(e0, cellKeys))
  }

  /** `dedup_semantic_kmeans`: the SemDeDup cell is the LEARNED k-means
    * cluster (SimilarityQueries.kmeansAssign) instead of a hash bucket or
    * a provided label — the recipe as published (Abbas et al.,
    * arXiv:2303.03540: k-means the embeddings, dedup within clusters).
    * Same capped within-cell candidate join, same cosine gate, same
    * cross-modal quality election as [[semanticPairs]]. K is the
    * production scale knob (SemDeDup grows cluster count with the
    * corpus); the [[MaxBucket]] cap keeps the join bounded whatever K is
    * set to — an under-provisioned K degrades recall (dense clusters
    * drop), never the plan.
    */
  private[graft] def kmeansSemanticPairs(s: SparkSession, dir: String): DataFrame =
    // session-cached (pair-bounded): dedup_semantic_kmeans and
    // dedup_clusters_multi's edge union both consume this — the
    // clustering + capped within-cell join runs once per session
    graft.operators.SessionCache.frame(s, dir, "semantic-kmeans-pairs") {
      graft.operators.Checkpoints.fresh(kmeansSemanticPairsBuild(s, dir))
    }

  private def kmeansSemanticPairsBuild(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (the dedup_clusters precedent): the assignment is
    // KmIter+1 corpus scans deep, and this consumer reads it from FOUR
    // plan positions (cap count branch, anti-join side, both self-join
    // aliases). Whether Spark reuses the exchange across them is
    // AQE-timing-dependent — the r9 sf10 chain measured the same HEAD at
    // 199 s and 32 s run to run on exactly that coin flip. Materializing
    // the (vec_id, v, cluster) frame once makes the floor the only
    // behavior.
    val a = graft.operators.Checkpoints.retire(
      graft.operators.Checkpoints.corpusScaled(
        SimilarityQueries.kmeansAssign(s, dir)
          .select(col("vec_id"), col("v"), col("cluster"))))
    semanticElection(s, dir, withinCellPairs(a, Seq("cluster")))
  }

  // ===== the SemDeDup stages =====
  // Every semantic pair relation is a candidate stage (the capped
  // within-cell join, or the kNN graph's mutual pairs) followed by the
  // one gate and the one election; the oracles compose their SQL twins.

  /** The one SemDeDup cosine gate: `sim` ≥ [[SemTau]] and not NaN. A
    * zero vector's cosine is 0/0, NULL in both engines (non-ANSI Spark,
    * DuckDB), which the comparison drops; a NaN or infinite component
    * makes it NaN, which BOTH engines order above every threshold — a
    * meaningless "duplicate". [[semGateSql]] is the oracle's twin.
    */
  private[graft] def semGate(sim: Column): Column = sim >= SemTau && !isnan(sim)

  private[queries] def semGateSql(sim: String): String =
    s"$sim >= $SemTau AND NOT isnan($sim)"

  /** The capped within-cell cosine pair stage (d1 < d2, sim) over the
    * (vec_id, v, cellKeys…) frame `pts`: the [[MaxBucket]] cap on the
    * cell, then the cell-equi self-join. Ungated — [[semanticElection]]
    * gates. Shared by the bucket and k-means SemDeDup tiers and
    * graft.LshStats' probe; [[withinCellPairsSql]] is the oracle's twin.
    */
  private[graft] def withinCellPairs(pts: DataFrame, cellKeys: Seq[String]): DataFrame = {
    val e = capBuckets(pts, cellKeys)
    e.as("a").join(e.as("b"),
        cellKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        cosine(col("a.v"), col("b.v")).as("sim"))
  }

  /** The cross-modal drop election over a (d1, d2, sim) candidate frame:
    * [[semGate]], then each side joined back to `documents` for its text
    * quality `q`, and the LOWER-quality side dropped (ties drop the
    * larger id) — (d1, d2, sim, drop_id). vec_id and doc_id share one id
    * domain, so ids with no text side drop out of the inner joins.
    * [[semanticElectionSql]] is the oracle's twin.
    */
  private[graft] def semanticElection(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val q = Tables(s, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        TextAnalysisQueries.canonScore(col("text")).as("q"))
    pairs.filter(semGate(col("sim")))
      .join(q.select(col("doc_id").as("d1"), col("q").as("q1")), Seq("d1"))
      .join(q.select(col("doc_id").as("d2"), col("q").as("q2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("sim"),
        when(col("q1") < col("q2"), col("d1"))
          .when(col("q2") < col("q1"), col("d2"))
          .otherwise(greatest(col("d1"), col("d2"))).as("drop_id"))
  }

  /** `dedup_winnowing`'s pair relation WITHOUT its score join — also an
    * edge source for [[multiSourceEdges]]. One definition, two consumers,
    * so the catalog entry and the cluster map cannot drift.
    */
  private[graft] def winnowingPairs(s: SparkSession, dir: String): DataFrame =
    winnowingShared(s, dir)._1

  /** The winnowing pair relation AND the per-doc fingerprint counts,
    * both session-cached, built from ONE fingerprint materialization
    * when either is cold: whichever consumer arrives first
    * (dedup_winnowing needs both; dedup_clusters_multi's edge union
    * needs only the pairs) pays the md5+sliding-window chain once, the
    * other finds both entries warm. The corpus-expanded fingerprint
    * postings themselves stay retire-at-drain — only the pair-bounded
    * and doc-rows-bounded outputs enter the cache.
    */
  private[graft] def winnowingShared(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    var fps: Option[DataFrame] = None
    def f(): DataFrame = fps.getOrElse {
      val m = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(
          TextAnalysisQueries.winnowFps(s, dir)))
      fps = Some(m); m
    }
    val pairs = graft.operators.SessionCache.frame(s, dir, "winnowing-pairs") {
      graft.operators.Checkpoints.fresh(winnowingPairsFrom(f()))
    }
    val cnt = graft.operators.SessionCache.frame(s, dir, "winnow-fp-counts") {
      graft.operators.Checkpoints.fresh(
        f().groupBy("doc_id").agg(count(lit(1)).as("nf")))
    }
    (pairs, cnt)
  }

  /** [[winnowingPairs]] over a caller-supplied (pre-materialized)
    * fingerprint frame. The md5+sliding-window fingerprint chain is the
    * expensive subplan here, and this pair plan reads it from ~4
    * positions (capBuckets' count branch and anti-join side, both
    * self-join aliases) — each a FULL re-evaluation without the
    * checkpoint (r9 VERDICT "What's wrong #3"; the measured sf0.1 gap
    * was 48.7 s driver vs 4.0 s healthy).
    */
  private[graft] def winnowingPairsFrom(f: DataFrame): DataFrame = {
    val cold = capBuckets(f, Seq("fp"))
    cold.as("a").join(cold.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedFp)
  }

  /** `dedup_containment`'s flagged pairs projected to the unordered edge:
    * a pair qualifies when EITHER direction's containment clears
    * [[MinContainment]] (the catalog entry emits both directions; as an
    * edge the pair is one undirected fact). Shares
    * [[rareShinglePairStats]] with the n-gram Jaccard relation — inside
    * the multi-edge plan, one stats subplan feeds both.
    */
  private[graft] def containmentEdges(s: SparkSession, dir: String): DataFrame =
    containmentEdgesFrom(rareShinglePairStats(s, dir))

  /** [[containmentEdges]] over a caller-supplied stats frame (see
    * [[ngramJaccardPairsFrom]]). */
  private[graft] def containmentEdgesFrom(st: DataFrame): DataFrame =
    st.filter(col("inter") / col("n1") >= MinContainment ||
        col("inter") / col("n2") >= MinContainment)
      .select("d1", "d2")

  /** The unioned (d1, d2) edge frame of `dedup_clusters_multi`: simhash
    * near-dup pairs with the exact (Hamming-0) star edges folded in, plus
    * chunk-minhash pairs projected to documents (same-doc repeated-
    * paragraph pairs are self-loops here and are dropped), n-gram Jaccard
    * pairs, directional-containment pairs, winnowing pairs, and all
    * three semantic pair forms (labeled, sign-LSH, k-means cells). Every
    * relation emits doc-id pairs from the same corpus id domain
    * (embeddings' vec_id is the documents' id — the semantic pair forms
    * inner-join `documents` for the quality election, so no edge can
    * mention an id outside the doc table). `distinct()` collapses pairs
    * that several relations vote for before the CC loop checkpoints the
    * edge frame.
    */
  private[graft] def multiSourceEdges(s: SparkSession, dir: String): DataFrame = {
    // ONE materialized stats frame feeds both the Jaccard and the
    // containment relations: the r9 comment claimed Catalyst would share
    // the stats subplan between the two union branches, but plan-level
    // common-subplan reuse does not exist for separate invocations — each
    // branch carried its own full shingle self-join. The stats arrive as
    // a session-cached checkpoint (pair-bounded post-cap), shared with
    // the standalone dedup_ngram_jaccard / dedup_containment entries.
    val st = rareShinglePairStats(s, dir)
    simhashEdges(s, dir, includeExact = true)
      .union(chunkMinhashPairs(s, dir)
        .filter(col("d1") =!= col("d2")).select("d1", "d2"))
      .union(ngramJaccardPairsFrom(st).select("d1", "d2"))
      .union(containmentEdgesFrom(st))
      .union(winnowingPairs(s, dir).select("d1", "d2"))
      .union(semanticPairs(s, dir, labeled = true).select("d1", "d2"))
      .union(semanticPairs(s, dir, labeled = false).select("d1", "d2"))
      .union(kmeansSemanticPairs(s, dir).select("d1", "d2"))
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup: canonical doc per identical text ----
    "dedup_exact" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
      val w = Window.partitionBy(col("text_hash"))
      d.select(col("doc_id"), col("text_hash"),
          min(col("doc_id")).over(w).as("canon_id"),
          count(lit(1)).over(w).as("n_copies"))
        .orderBy("doc_id")
    }),

    // ---- MinHash (k=8, md5-derived) signature-group dedup ----
    "dedup_minhash" -> ((s, dir) => {
      val sig = minhashSigs(tokenTable(s, dir), Seq("doc_id"), "w", K)
        .select(col("doc_id"), signature(K).as("sig"))
      val w = Window.partitionBy(col("sig"))
      sig.select(col("doc_id"), col("sig"),
          min(col("doc_id")).over(w).as("canon_id"),
          count(lit(1)).over(w).as("group_size"))
        .orderBy("doc_id")
    }),

    // ---- MinHash LSH near-dup pairs: 4 bands × 2 signature rows ----
    // The canonical shingle→minhash→band→bucket-join pipeline: signatures
    // are min-md5 over 3-token SHINGLES (unigram sets are too coarse —
    // under a small vocabulary every doc contains every word and all
    // signatures collide); documents agreeing on BOTH components of any
    // band become candidates (for shingle-Jaccard j, a band matches with
    // probability j², a pair survives with 1-(1-j²)⁴ — steep around
    // j≈0.5); estimated Jaccard = fraction of agreeing signature
    // components, exact md5 arithmetic on both engines. The band-value
    // SPACE grows with distinct content (bval = md5 of two 128-bit mins),
    // but every member of one duplicate CLASS shares all band values — a
    // mirror-spam crawl (the dedup use case) collapses into one bucket per
    // band and the self-join goes O(dupes²). Hence the same [[MaxBucket]]
    // broadcast-anti-join cap as dedup_simhash_pairs: a band bucket that
    // hot is exact/near-exact-duplicate territory, already caught by
    // dedup_exact / dedup_minhash's signature grouping. The explicit
    // `bval.isNotNull` mirrors the filter the self-join infers on its
    // children (h_i are nullable min() aggregates), so the cap branch
    // canonicalizes identically and the expensive signature aggregation is
    // computed once (ReusedExchange), not once per branch.
    "dedup_minhash_lsh" -> ((s, dir) =>
      // one materialization of the shingle → k-min signature chain
      // (the simhashPairs rationale), inside [[minhashLshPairsOf]]
      minhashLshPairsOf(shingleTable(s, dir))
        .orderBy("d1", "d2")),

    // ---- SimHash sketch: per-doc 64-bit signature + exact-group canon ----
    // The window partitions by the LONG `sig` (cheap 8-byte shuffle key);
    // the display column `simhash` is the same value in string form.
    "dedup_simhash" -> ((s, dir) => {
      val w = Window.partitionBy(col("sig"))
      simhashTable(s, dir)
        .select(col("doc_id"), lpad(bin(col("sig")), BITS, "0").as("simhash"),
          min(col("doc_id")).over(w).as("canon_id"),
          count(lit(1)).over(w).as("group_size"))
        .orderBy("doc_id")
    }),

    // ---- SimHash near-dup pairs: 4×16-bit LSH bands, Hamming in [1,3] ----
    // (Hamming 0 groups are covered by dedup_simhash; 4 bands over 64 bits
    // guarantee recall for Hamming ≤ 3 by pigeonhole.) 16-bit bands give
    // 65,536 buckets per band — but that space is FIXED, so expected
    // within-bucket membership grows ~n/2¹⁶: band buckets larger than
    // [[MaxBucket]] are dropped via broadcast anti-join before the
    // self-join, so no bucket can go quadratic on a near-dup-dense crawl
    // (mirror spam). Recall: a band bucket that hot is overwhelmingly
    // exact/Hamming-0 duplicates, which dedup_exact / dedup_simhash's sig
    // grouping already catch. ONE self-join on the exploded (band_idx,
    // band_value) key — both join children are the identical subplan
    // hash-partitioned the same way, so Spark plans a ReusedExchange
    // instead of recomputing the signature aggregation per band; the
    // Hamming ≤ 3 filter runs BEFORE the pair-dedup so the distinct only
    // shuffles survivors.
    "dedup_simhash_pairs" -> ((s, dir) =>
      simhashPairs(s, dir).orderBy("d1", "d2")),

    // ---- near-dup CLUSTERS: connected components over the pair graph ----
    // See [[clusterLabels]] for the iterative min-label-propagation /
    // pointer-jumping algorithm and its convergence argument.
    "dedup_clusters" -> ((s, dir) =>
      clusterLabels(s, dir).orderBy("doc_id")),

    // ---- canonical-doc selection: the KEEP/DROP decision per cluster ----
    // The step that actually shrinks the corpus: within every duplicate
    // class keep exactly one document — the highest-quality member
    // (ties to the smallest doc_id), not merely the smallest id, so a
    // cleaned mirror of a boilerplate-ridden page wins over the original.
    // Classes are connected components over Hamming ≤ 3 INCLUDING 0
    // (clusterLabels(includeExact = true)): unlike dedup_clusters, a
    // keep/drop decision must fold exact duplicates into the same class,
    // or two identical docs would each elect themselves. The pick is an
    // Election (qscore DESC, doc_id) keyed by the cluster id set
    // (≈ the corpus), so no key concentrates; qscore is canonScore.
    "dedup_canonical" -> ((s, dir) =>
      canonicalDecision(s, dir).orderBy("doc_id")),

    // ---- cluster-size histogram: the dedup report a curator reads ----
    // One row per duplicate-class size over the KEEP/DROP-grade map
    // (exact + near duplicates, the dedup_canonical class definition):
    // how many classes of that size exist and how many documents they
    // hold — the "what fraction of the corpus is duplicated, and in how
    // big a clump" summary that decides whether dedup is worth a
    // re-crawl. Free at the margin: the map is the session-cached CC
    // fixpoint both dedup_canonical and the pipeline_curate family
    // already share, and the roll-up is two cluster-scale hash
    // aggregations on top (cluster_size is constant within a cluster, so
    // counting distinct cluster ids per size never concentrates).
    "dedup_cluster_stats" -> ((s, dir) =>
      clusterLabels(s, dir, includeExact = true)
        .groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy("cluster_size")),

    // ---- n-gram Jaccard near-dup pairs (shingle-bucket candidates) ----
    // Hot shingles (document frequency > MaxShingleDf) are dropped BEFORE
    // the self-join via a broadcast anti-join: the hot set is tiny by
    // construction (few shingles exceed the cap), while the buckets it
    // removes are exactly the ones whose within-bucket pair count would
    // grow quadratically. Jaccard is then computed over the surviving
    // (rare-shingle) sets on both engines.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(s, dir).orderBy("d1", "d2")),

    // ---- directional containment: the quote/inclusion detector ----
    // Jaccard is SYMMETRIC, so a short doc quoted verbatim inside a much
    // longer one scores |A|/|B| — far below any Jaccard threshold the
    // moment the container is big (the spec pins exactly this miss).
    // Containment |A∩B|/|A| is the asymmetric form (Broder's original
    // distinction): ≥ [[MinContainment]] of the CONTAINED side's rare
    // shingles appear in the container, whatever the container's size.
    // Same candidate stage as dedup_ngram_jaccard (shared
    // [[rareShinglePairStats]] — hot-shingle capped, so the denominator
    // counts rare shingles; a doc made ENTIRELY of stop-shingles has no
    // candidates, documented like the Jaccard form). Both directions of
    // each unordered candidate pair are tested; the union doubles rows
    // before a filter, never the join itself.
    "dedup_containment" -> ((s, dir) => {
      // the stats come back as a session-cached checkpoint, so the two
      // directional union branches below scan blocks instead of running
      // two full rare-shingle self-joins — measured ~100 s at sf1 vs
      // ngram_jaccard's ~14 s over the SAME stats before the
      // materialization existed (the r9 sf1/sf10 "anomaly": it was this,
      // not host noise)
      val st = rareShinglePairStats(s, dir)
      val d1in2 = st.select(col("d1").as("contained"), col("d2").as("container"),
        col("inter").as("n_shared"), col("n1").as("n_contained"))
      val d2in1 = st.select(col("d2").as("contained"), col("d1").as("container"),
        col("inter").as("n_shared"), col("n2").as("n_contained"))
      d1in2.union(d2in1)
        .select(col("contained"), col("container"), col("n_shared"),
          col("n_contained"),
          (col("n_shared") / col("n_contained")).as("containment"))
        .filter(col("containment") >= MinContainment)
        .orderBy("contained", "container")
    }),

    // ---- winnowing dedup: pairs sharing local-min fingerprints ----
    // The MOSS candidate rule over doc_winnowing's postings
    // (TextAnalysisQueries.winnowFps): two docs pair iff they share ≥
    // [[MinSharedFp]] winnowed fingerprints, scored by containment in
    // fingerprint space (n_shared / min fingerprint count — directional
    // like dedup_containment, so a short doc quoted inside a long one
    // still scores high). Versus minhash/simhash: winnowing's guarantee
    // is POSITIONAL (any shared ≥6-token run surfaces a shared
    // fingerprint wherever it sits), so it catches a copied paragraph
    // inside otherwise-unrelated docs, which whole-doc sketches dilute
    // away. The fingerprint IS the bucket key: a fingerprint posted by >
    // [[MaxBucket]] docs is corpus boilerplate (the hot navbar hash) and
    // is dropped before the self-join — the same data-independent cap as
    // every candidate stage in this family; per-pair work after the join
    // is one partial-aggregable groupBy, never an all-pairs score.
    "dedup_winnowing" -> ((s, dir) => {
      // one fingerprint materialization for BOTH the per-doc counts and
      // the pair relation, session-cached so dedup_clusters_multi's edge
      // union and this entry share it ([[winnowingShared]])
      val (pairs, cnt) = winnowingShared(s, dir)
      pairs
        .join(cnt.select(col("doc_id").as("d1"), col("nf").as("n1")), Seq("d1"))
        .join(cnt.select(col("doc_id").as("d2"), col("nf").as("n2")), Seq("d2"))
        .select(col("d1"), col("d2"), col("n_shared"),
          (col("n_shared") / least(col("n1"), col("n2"))).as("overlap"))
        .orderBy("d1", "d2")
    }),

    // ---- SUB-DOCUMENT dedup: exact chunk-granularity duplicate groups ----
    // Boilerplate repeats at PARAGRAPH granularity (headers, navbars,
    // license blocks) and is invisible to every document-level signature
    // above: two distinct pages sharing a navbar agree on no doc-level
    // hash. The unit is doc_chunks' sliding window (CurationQueries.
    // chunkTable), keyed by (doc_id, chunk_id); identical chunks form one
    // md5 group. Deliberately NOT dedup_exact's Window shape: a boilerplate
    // chunk is hot BY CONSTRUCTION (a navbar in millions of documents is
    // one hash group), and Window.partitionBy(chunk_hash) would funnel the
    // whole group into a single task's sort — the groupBy min/count
    // spelling is partial-aggregable (each task prunes to one candidate
    // per hash map-side) and the join back is a plain shuffle join with
    // AQE skew splitting available. The canon is the lexicographic min
    // (doc_id, chunk_id) — deterministic, integer-only.
    "dedup_chunk_exact" -> ((s, dir) => {
      val c = CurationQueries.chunkTable(s, dir)
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk")).as("chunk_hash"))
      // Canon packed into one long (doc_id·2²⁴ + chunk_id): min(struct)
      // plans a SortAggregate (no mutable codegen buffer for structs) that
      // sorts the corpus-scale chunk table; the packed min is a codegen'd
      // HashAggregate. Unpacked on output; identical while chunk_id < 2²⁴.
      val groups = c.groupBy("chunk_hash")
        .agg(min(shiftleft(col("doc_id"), 24) + col("chunk_id")).as("ck"),
          count(lit(1)).as("n_copies"))
      c.join(groups, Seq("chunk_hash"))
        .select(col("doc_id"), col("chunk_id"), col("chunk_hash"),
          shiftright(col("ck"), 24).as("canon_doc"),
          col("ck").bitwiseAND(lit((1L << 24) - 1)).cast("int").as("canon_chunk"),
          col("n_copies"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- exact chunk dedup over CONTENT-DEFINED chunks ----
    // dedup_chunk_exact's hash-group + min-struct canon pointed at
    // doc_chunks_cdc's chunking instead of the fixed windows. The point
    // is the composition: fixed windows make exact chunk dedup blind to
    // re-crawls with insertions (every downstream window shifts, every
    // hash changes), while CDC boundaries realign after an edit — so the
    // SAME linear hash group now catches the unchanged remainder of an
    // edited page (the spec inserts one token and watches the shared
    // chunks collapse into n_copies=2 groups). Plan shape is identical:
    // partial-aggregable groupBy (hot BY CONSTRUCTION for boilerplate),
    // plain shuffle join-back, AQE skew splitting available, no Window.
    "dedup_chunk_cdc" -> ((s, dir) => {
      val c = CurationQueries.cdcChunkRowsOf(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk")).as("chunk_hash"))
      // Same packed-long canon as dedup_chunk_exact (HashAggregate, not
      // a corpus-scale SortAggregate).
      val groups = c.groupBy("chunk_hash")
        .agg(min(shiftleft(col("doc_id"), 24) + col("chunk_id")).as("ck"),
          count(lit(1)).as("n_copies"))
      c.join(groups, Seq("chunk_hash"))
        .select(col("doc_id"), col("chunk_id"), col("chunk_hash"),
          shiftright(col("ck"), 24).as("canon_doc"),
          col("ck").bitwiseAND(lit((1L << 24) - 1)).cast("int").as("canon_chunk"),
          col("n_copies"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- SUB-DOCUMENT near-dup pairs: chunk-granularity MinHash-LSH ----
    // dedup_minhash_lsh's shingle→minhash→band→bucket-join machinery
    // (minhashBands, chunk_id riding the carry slot) pointed at CHUNKS:
    // catches a lightly-edited boilerplate paragraph (tracking params in a
    // navbar URL, a year bump in a license block) that dedup_chunk_exact's
    // md5 group misses. The probe runs over [[chunkReps]] — ONE
    // representative per DISTINCT chunk content — not over every chunk
    // row: on duplicate-dense data the bulk of raw candidate pairs are
    // byte-identical chunks that dedup_chunk_exact already catches with a
    // linear hash group, so shingling/banding them again only fills band
    // buckets toward the cap (at sf10 the un-prefiltered form was the
    // catalog's most expensive query, 13.5% of its band rows in dropped
    // hot buckets). Signature/banding cost now scales with DISTINCT chunk
    // content; pairs among exact copies are recoverable by composing the
    // md5 groups (each rep stands for its whole group). Keys are
    // composite (doc_id, chunk_id) of the representative; the pair
    // ordering predicate is the lexicographic <, so same-document
    // repeated-paragraph reps still pair. Same [[MaxBucket]]
    // total-membership cap — a band bucket of >100 DISTINCT near-dup
    // contents (template spam with per-page edits) is still a quadratic
    // door, and the crafted cap test pins it with distinct-content
    // signature-colliding chunks. A ~32-token chunk has ≤ 30 shingles,
    // so per-row signature cost is bounded by the chunk size constant.
    "dedup_chunk_minhash" -> ((s, dir) =>
      chunkMinhashPairs(s, dir).orderBy("d1", "c1", "d2", "c2")),

    // ---- SEMANTIC dedup: embedding pairs, TEXT-quality drop election ----
    // The SemDeDup shape (Abbas et al. 2023, arXiv:2303.03540): semantic
    // duplicates — same meaning, different words — are invisible to every
    // lexical sketch above (minhash/simhash/n-gram all hash surface
    // forms), but land close in embedding space. Candidates come from the
    // same capped (label cell × sign sub-bucket) space as dedup_embedding;
    // pairs at cosine ≥ [[SemTau]] are semantic duplicates, and the KEEP
    // decision is CROSS-MODAL: join each side back to `documents` and
    // drop the LOWER text-quality member (ties drop the larger id), so a
    // well-formed original survives its boilerplate-ridden paraphrase.
    // Cosine values are bit-identical across engines (pinned fold order —
    // see VectorFunctions.dotSql), so emitting `sim` stays oracle-exact.
    // vec_id and doc_id share the corpus id domain in the driver data
    // (both 0..N-1 per scale factor — embeddings are the documents'
    // vectors), making the quality join a plain equi-join on the natural
    // key; ids with no text side drop out of the inner join identically
    // on both engines.
    "dedup_semantic" -> ((s, dir) =>
      semanticPairs(s, dir, labeled = true).orderBy("d1", "d2")),

    // ---- SEMANTIC dedup WITHOUT labels: sign-LSH buckets as the cell ----
    // dedup_semantic partitions candidates by the provided `label` — but
    // production corpora are UNLABELED: this is the same SemDeDup shape
    // with the cell being the sign-LSH bucket ALONE. The bucket width is
    // the SAME [[CellBits]] as the labeled form's sub-bucket, so the
    // label-free cell is exactly the labeled cell's sign component:
    // every labeled pair (same label ∧ same sign bucket) is by
    // construction a candidate here too, which the spec pins as a
    // subset relation (pairs_labeled ⊆ pairs_unlabeled below the cap),
    // with identical sim and drop election on the overlap. The sign
    // space is FIXED (2^CellBits), so per-bucket membership grows
    // linearly with the corpus — same [[MaxBucket]] cap, and the bit
    // width is the production scale knob (more bits = smaller buckets =
    // more hyperplane-straddle misses; ann_lsh_multiprobe's trade).
    "dedup_semantic_unlabeled" -> ((s, dir) =>
      semanticPairs(s, dir, labeled = false).orderBy("d1", "d2")),

    // ---- SemDeDup with LEARNED cells: k-means clusters as the partition ----
    // The published recipe end-to-end: embedding_kmeans' final assignment
    // is the cell, candidates pair within a cluster under the same
    // MaxBucket cap, cosine gates, and the cross-modal quality election
    // picks the drop side. Versus dedup_semantic_unlabeled's sign-LSH
    // cells: hyperplane-straddling near-duplicates land in ONE k-means
    // cluster when they share a centroid basin (the spec's blob case),
    // at the cost of the KmIter clustering scans — which amortize over
    // every downstream consumer of the assignment.
    "dedup_semantic_kmeans" -> ((s, dir) =>
      kmeansSemanticPairs(s, dir).orderBy("d1", "d2")),

    // ---- ONE cluster map over EVERY pair relation the catalog emits ----
    // dedup_clusters consumes simhash pair edges alone, but the catalog
    // produces seven more near-duplicate evidence relations — chunk-level
    // minhash (projected to documents), n-gram Jaccard, directional
    // containment, winnowing, and the three semantic forms (labeled,
    // sign-LSH, k-means cells) — each catching duplicates the others are
    // blind to (a shared
    // boilerplate paragraph is invisible to every doc-level sketch; a
    // paraphrase is invisible to every lexical one). A production dedup
    // pass publishes ONE canonical decision across all evidence: union
    // the (d1, d2) edge relations (they share the corpus id domain) into
    // the SAME pointer-jumping loop. Transitivity is deliberate — if a
    // chunk edge links A-B and a semantic edge links B-C, A and C are one
    // cluster, exactly as a union-find over mixed evidence behaves. Exact
    // duplicates (Hamming-0 star edges) are folded in as in
    // dedup_canonical, so the map is KEEP/DROP-grade. Cost is the sum of
    // the edge relations' candidate stages (each already capped) plus the
    // unchanged O(log diameter) loop — the union adds edge rows, never a
    // new quadratic door; `distinct()` collapses multi-evidence pairs
    // BEFORE the checkpointed edge frame so the loop's per-round join
    // sees each edge once however many relations voted for it.
    "dedup_clusters_multi" -> ((s, dir) =>
      clusterLabelsFromEdges(
        Tables(s, dir, "documents").select(col("doc_id")),
        multiSourceEdges(s, dir)).orderBy("doc_id")),

    // ---- embedding near-dup: cosine NN within (cell × sign sub-bucket) ----
    // The (label × 2^CellBits) bucket space is FIXED, so per-bucket
    // membership grows linearly with the corpus and the within-bucket
    // self-join quadratically: buckets larger than [[MaxBucket]] are
    // dropped (broadcast anti-join) before the join — a bucket that hot is
    // near-identical vectors, i.e. exact-duplicate territory. The NN pick
    // is an Election (sim DESC, nn_id). Vectors with no same-bucket
    // neighbor drop out (the oracle mirrors the identical bucket
    // assignment bit-for-bit).
    "dedup_embedding" -> ((s, dir) => {
      val e0 = Tables(s, dir, "embeddings")
        // isNotNull on BOTH join keys so the cap branch canonicalizes
        // like the join sides (exchange reuse — see tokenTable scaladoc)
        .filter(col("vec_id").isNotNull && col("label").isNotNull)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bkt", signBucket(col("v"), CellBits))
        .filter(col("bkt").isNotNull)
      val e = capBuckets(e0, Seq("label", "bkt"))
      val sim = cosine(col("a.v"), col("b.v"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
          col("b.vec_id").as("nn_id"), sim.as("sim"))
      Election.winners(pairs, Seq("vec_id", "label"),
          Seq(Election.desc("sim"), Election.asc("nn_id")), Seq("nn_id"))
        .orderBy("vec_id")
    }),

    // ---- source-level content overlap: bottom-k (KMV) sketch Jaccard ----
    // Which corpus sources crawl the same underlying content? The answer
    // drives mix weights (corpus_mix double-counts overlapping sources)
    // and dedup ordering, and the exact answer is a cross-source
    // shingle-intersection join — quadratic in sources × corpus. The
    // bottom-k sketch answers it in ONE partial-aggregable pass: per
    // source, the k smallest distinct md5(shingle) values ([[graft
    // .functions.BottomK]] — map-side pruned like TopK, no Window funnel
    // on the handful of hot source keys). For the union's bottom-k U, J ≈
    // |{h ∈ U : h ∈ A ∧ h ∈ B}| / |U| — membership against the sketches
    // alone is EXACT for union-sketch elements (any union-bottom-k hash
    // present in A is necessarily among A's k smallest). The pairwise
    // stage joins one k-hash row per source (sources² rows, driver-scale
    // whatever the corpus); n_k < k iff the union itself has fewer than k
    // distinct shingles. Integers only — no float decides anything.
    "source_overlap" -> ((s, dir) => {
      val bk = udaf(new graft.functions.BottomK(SketchK))
      val sk = Tables(s, dir, "documents")
        .select(col("source"), explode(shingles3(tokens(col("text")))).as("sh"))
        .select(col("source"), md5(col("sh")).as("h"))
        .groupBy("source").agg(bk(col("h")).as("sk"))
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          col("a.sk").as("ska"), col("b.sk").as("skb"))
        .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, SketchK))
        .select(col("src_a"), col("src_b"),
          size(col("u")).cast("long").as("n_k"),
          size(filter(col("u"), x =>
            array_contains(col("ska"), x) && array_contains(col("skb"), x)))
            .cast("long").as("n_common"))
        .orderBy("src_a", "src_b")
    }),

    // ---- per-doc n-gram novelty: the dedup-literature outcome metric ----
    // The fraction of a doc's distinct 3-token shingles whose corpus-wide
    // FIRST occurrence (min doc_id — text_dedup_spans' keep-first rule)
    // is this doc. Near-1 = fresh content; near-0 = a re-crawl or template
    // assembled from text the corpus already has — the document-level
    // signal Lee et al. 2021 (arXiv:2107.06499) measure dedup quality by.
    // Scale: first-occurrence is a partial-aggregable min groupBy on the
    // shingle; the join-back is 1:1 on shingle rows (output = input rows,
    // never amplifying; hot-shingle skew is AQE's split case, and the
    // corpus-derived side is deliberately unhinted — decontaminate's
    // rule); the per-doc roll-up is a partial-aggregable count/sum. The
    // one float division happens after all counting.
    "ngram_novelty" -> ((s, dir) => {
      val sh = shingleTable(s, dir)
      val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
      sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
        .orderBy("doc_id")
    }),

    // ---- measured precision/recall: candidate tiers vs n-gram truth ----
    // The ann_recall posture transposed to the dedup family: before a
    // production run trusts an approximate candidate generator, its pair
    // output is SCORED against a reference notion of "true near-dup" —
    // here the exact rare-shingle Jaccard ≥ 0.2 pairs
    // (dedup_ngram_jaccard). n_hit = candidate pairs inside the truth
    // set; precision = n_hit/n_cand (how much of the tier's output is
    // real), recall = n_hit/n_true (how much of the truth the tier
    // reaches). The tiers measure DIFFERENT signals (minhash estimates
    // Jaccard directly; simhash pairs are Hamming ≤ 3 near-dups;
    // winnowing pairs share ≥ MinSharedFp fingerprints), so sub-1.0
    // numbers are the honest trade being measured, not defects. The
    // truth itself is hot-shingle-capped (the same cap every tier
    // carries), so this is INDEX-REACHABLE truth — the caps' recall
    // cost is shared, not hidden. The truth frame is checkpointed once;
    // the three tier branches probe ONE materialized relation (the
    // ann_recall bf precedent), every count is exact, and the two
    // divisions per row are the repo float rule (NULL-guarded so an
    // empty tier emits NULL, never NaN).
    // The r13 verdict's open question — is the measured sf10 LSH recall
    // collapse (0.157, `git show e9e7a22:DEDUPRECALL_sf10_r13.json`)
    // really covered by the
    // signature grouping the MaxBucket cap's defense points at? — is the
    // fourth row: the UNION of full-signature groups (every pair of docs
    // sharing the complete k-min shingle signature — dedup_minhash's
    // grouping transposed to the LSH family's own shingle signatures,
    // which is UNCAPPED: grouping is a linear aggregation, only the
    // pair self-join needed the cap) with the LSH candidate pairs.
    // Counted by CLUSTER-EQUIVALENCE, never materialized: a same-sig
    // GROUP of size g implies g(g-1)/2 pairs (exact integer arithmetic
    // on group sizes), truth pairs are union-hit iff same-sig OR in the
    // LSH pair set (two 1:1 joins + one left probe), and the overlap
    // term (LSH pairs already same-sig) closes the inclusion-exclusion
    // — so the union row costs three linear joins where materializing
    // hot-group pairs would be quadratic in duplication density,
    // exactly the door the cap exists to keep shut.
    "dedup_recall" -> ((s, dir) => {
      val truth = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          queries("dedup_ngram_jaccard")(s, dir).select(col("d1"), col("d2"))))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      // the LSH pair frame feeds its own tier row AND the union row —
      // one materialization (the truth-frame precedent)
      val lsh = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          queries("dedup_minhash_lsh")(s, dir).select(col("d1"), col("d2"))))
      def tierRow(name: String, cand: DataFrame): DataFrame = {
        val nc = cand.agg(count(lit(1)).as("n_cand"))
        val hit = cand.join(truth, Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        nc.crossJoin(hit).crossJoin(nTrue)
          .select(lit(name).as("method"), col("n_cand"), col("n_hit"),
            col("n_true"))
      }
      val tierRows = dedupRecallTiers.map {
        case n @ "dedup_minhash_lsh" => tierRow(n, lsh)
        case n => tierRow(n, queries(n)(s, dir).select(col("d1"), col("d2")))
      }
      val sig = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(shingleSigs(s, dir)))
      val nSig = sigPairCount(sig, "n_sig")
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      val s1 = sig.select(col("doc_id").as("d1"), col("ssig").as("s1"))
      val s2 = sig.select(col("doc_id").as("d2"), col("ssig").as("s2"))
      val nOverlap = lsh.join(s1, Seq("d1")).join(s2, Seq("d2"))
        .filter(col("s1") === col("s2"))
        .agg(count(lit(1)).as("n_overlap"))
      val uHit = truth.join(s1, Seq("d1")).join(s2, Seq("d2"))
        .join(lsh.withColumn("inlsh", lit(1)), Seq("d1", "d2"), "left")
        .agg(coalesce(sum(when(col("s1") === col("s2") ||
          col("inlsh").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_hit"))
      val unionRow = nSig.crossJoin(nLsh).crossJoin(nOverlap)
        .crossJoin(uHit).crossJoin(nTrue)
        .select(lit("union_sig_lsh").as("method"),
          (col("n_sig") + col("n_lsh") - col("n_overlap")).as("n_cand"),
          col("n_hit"), col("n_true"))
      (tierRows :+ unionRow).reduce(_ union _)
        .select(col("method"), col("n_cand"), col("n_hit"), col("n_true"),
          when(col("n_cand") > 0,
            col("n_hit").cast("double") / col("n_cand").cast("double"))
            .as("precision"),
          when(col("n_true") > 0,
            col("n_hit").cast("double") / col("n_true").cast("double"))
            .as("recall"))
        .orderBy("method")
    }),

    // ---- post-canon recall: the pipeline-order claim, measured ----
    // Round 14's union tier refuted "signature grouping covers the LSH
    // cap's recall loss" at replica density
    // (`git show e9e7a22:DEDUPRECALL_sf10_r14.json`: union
    // 0.193 vs LSH 0.157; the exact-replica regime still only 0.203),
    // and the replacement claim (SCALE.md round-14 note #1) became
    // pipeline ORDER: exact/near-exact dedup FIRST, LSH on the
    // canonical corpus where the buckets are cold again. This query
    // turns that sentence into a number. The corpus is
    // dedup_canonical's survivor set (one elected doc per exact+near
    // duplicate class); exact-Jaccard truth and LSH candidates are
    // re-derived on THAT corpus through the SAME factored stages as the
    // raw harness ([[shinglesOf]] / [[rareShinglePairStatsOf]] /
    // [[minhashLshPairsOf]] — compositions, not re-spellings, so the
    // two recall harnesses cannot drift), plus the residual
    // full-signature mass counted by cluster-equivalence (the union
    // tier's g(g−1)/2 arithmetic — never materializing a group's pair
    // set). One shingle materialization feeds all four subplans. High
    // post-canon recall confirms the production posture; low means the
    // caps themselves need revisiting — either way the claim stops
    // being a comment.
    "dedup_recall_canon" -> ((s, dir) => {
      val surv = canonicalDecision(s, dir).filter(col("keep")).select("doc_id")
      val cdocs = Tables(s, dir, "documents")
        .join(surv, Seq("doc_id"))
        .select(col("doc_id"), col("text"))
      val sh0 = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(shinglesOf(cdocs)))
      val truth = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          ngramJaccardPairsFrom(rareShinglePairStatsOf(sh0))
            .select(col("d1"), col("d2"))))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val lsh = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          minhashLshPairsOf(sh0).select(col("d1"), col("d2"))))
      val lshRow = {
        val nc = lsh.agg(count(lit(1)).as("n_cand"))
        val hit = lsh.join(truth, Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        nc.crossJoin(hit).crossJoin(nTrue)
          .select(lit("post_canon_lsh").as("method"), col("n_cand"),
            col("n_hit"), col("n_true"))
      }
      val sig = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(shingleSigsOf(sh0)))
      val nSig = sigPairCount(sig, "n_cand")
      val sHit = truth
        .join(sig.select(col("doc_id").as("d1"), col("ssig").as("s1")), Seq("d1"))
        .join(sig.select(col("doc_id").as("d2"), col("ssig").as("s2")), Seq("d2"))
        .agg(coalesce(sum(when(col("s1") === col("s2"), 1L).otherwise(0L)),
          lit(0L)).as("n_hit"))
      val sigRow = nSig.crossJoin(sHit).crossJoin(nTrue)
        .select(lit("post_canon_sig").as("method"), col("n_cand"),
          col("n_hit"), col("n_true"))
      lshRow.union(sigRow)
        .select(col("method"), col("n_cand"), col("n_hit"), col("n_true"),
          when(col("n_cand") > 0,
            col("n_hit").cast("double") / col("n_cand").cast("double"))
            .as("precision"),
          when(col("n_true") > 0,
            col("n_hit").cast("double") / col("n_true").cast("double"))
            .as("recall"))
        .orderBy("method")
    }),

    // ---- SemDeDup over the kNN graph: the graph CONSUMED end-to-end ----
    // dedup_semantic / dedup_semantic_kmeans predate the corpus kNN
    // graph and generate candidates from sign buckets / k-means cells
    // directly; this is the SemDeDup recipe with the graph as the
    // candidate source (Abbas et al., arXiv:2303.03540 — within-cluster
    // nearest-neighbor pairs above a cosine threshold): candidates =
    // knn_mutual_pairs (the symmetric filter over the PQ-served graph,
    // ≤ KnnK·n/2 pairs by construction), decision = EXACT full-vector
    // cosine on just those pairs (the two-stage split again — quantized
    // index nominates, exact distance decides), drop side = the
    // lower-quality member (dedup_semantic's election, same spelling).
    // Composition cost on top of the session-cached graph: one
    // mutuality self-join + two vector fetch joins on a pair-bounded
    // frame — no new corpus×corpus door, and unlike the bucket tiers
    // there is NO hot-cell cap to forfeit recall through: the graph's
    // derived-K cells bound candidate counts by design.
    "dedup_semantic_graph" -> ((s, dir) =>
      semanticGraphPairs(s, dir).orderBy("d1", "d2"))
  )

  /** `dedup_semantic_graph`'s pair frame (d1, d2, sim, drop_id),
    * unordered — session-cached (pair-bounded: ≤ the mutual edge set)
    * because CurationQueries' `pipeline_curate_semantic` consumes the
    * drop set as a fourth gate.
    */
  private[queries] def semanticGraphPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "semantic-graph-pairs") {
      val mp = SimilarityQueries.mutualPairs(s, dir).select(col("d1"), col("d2"))
      val e = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val scored = mp
        .join(e.select(col("vec_id").as("d1"), col("v").as("v1")), Seq("d1"))
        .join(e.select(col("vec_id").as("d2"), col("v").as("v2")), Seq("d2"))
        .select(col("d1"), col("d2"), cosine(col("v1"), col("v2")).as("sim"))
      graft.operators.Checkpoints.fresh(semanticElection(s, dir, scored))
    }

  // ===== DuckDB oracles (same md5-based hashing, same fold order) =====

  private def tokSqlRel =
    s"SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS w FROM documents"

  /** The distinct (doc_id, sh) shingle relation over an arbitrary
    * (doc_id, text) relation — [[shinglesOf]]' SQL twin, parameterized
    * the same way (dedup_recall_canon shingles the survivor corpus).
    */
  private def shSqlRelOf(rel: String) =
    """SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |FROM (SELECT doc_id, """.stripMargin + tokensSql("text") + s" AS t FROM $rel)"

  private def shSqlRel = shSqlRelOf("documents")

  private def simhashSqlRel: String = {
    val sums = (0 until BITS).map { j =>
      val h = if (j < 32) "md5(w)" else "md5('x:' || w)"
      val d = if (j < 32) j + 1 else j - 31
      s"SUM(CASE WHEN substring($h, $d, 1) >= '8' THEN 1 ELSE 0 END) AS s$j"
    }.mkString(", ")
    val bits = (0 until BITS).map(j =>
      s"(CASE WHEN 2*s$j >= n THEN '1' ELSE '0' END)").mkString(" || ")
    s"""SELECT doc_id, $bits AS simhash FROM (
       |  SELECT doc_id, count(*) AS n, $sums FROM ($tokSqlRel) GROUP BY doc_id)""".stripMargin
  }

  /** CTE list producing `pairs(d1, d2, hamming)` — the oracle mirror of
    * [[simhashPairs]], shared by the pair-list and cluster oracles.
    * Exploded (band, bval) form so the hot-bucket cap is expressible as
    * one GROUP BY — the 16-char substring slices are the same buckets as
    * Spark's shift/mask band values.
    */
  private def simhashPairCtes: String = {
    val ham = (0 until BITS).map(j =>
      s"(CASE WHEN substring(a.simhash,${j + 1},1) <> substring(b.simhash,${j + 1},1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""sigs AS ($simhashSqlRel),
       |bands AS (
       |  SELECT doc_id, simhash, band, substr(simhash, 1 + 16 * band, 16) AS bval
       |  FROM sigs, (SELECT unnest(range($Bands)) AS band)),
       |${capBucketsSql("bands", Seq("band", "bval"), "hot", "cold")},
       |pairs AS (
       |  SELECT d1, d2, hamming FROM (
       |    SELECT DISTINCT a.doc_id d1, b.doc_id d2, CAST($ham AS INT) AS hamming
       |    FROM cold a JOIN cold b
       |      ON a.doc_id < b.doc_id AND a.band = b.band AND a.bval = b.bval)
       |  WHERE hamming BETWEEN 1 AND 3)""".stripMargin
  }

  /** [[clusterLabelsFromEdges]]' SQL twin (requires WITH RECURSIVE):
    * `edges` (both directions of the (d1, d2) relation `pairs`), the
    * reachability closure `reach(id, r)` from every document (UNION
    * dedupes, so the fixpoint terminates) and `lab(doc_id, cluster_id)`,
    * the minimum reachable id — exactly the component labels the Spark
    * side computes.
    */
  private def ccLabelsSql(pairs: String): String =
    s"""edges AS (SELECT d1 AS a, d2 AS b FROM $pairs
       |          UNION ALL SELECT d2, d1 FROM $pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** CTE list (requires WITH RECURSIVE) producing `d(doc_id, cluster_id,
    * qscore)` and `canon(cluster_id, canon_id)` — the oracle mirror of
    * [[canonicalDecision]]: the dedup_clusters reachability closure over
    * pairs ∪ same-sig star edges (Hamming 0 joins the class here), then
    * the canon pick, [[canonicalDecisionFrom]]'s Election as
    * `winnersSql`. Shared with CurationQueries' pipeline_curate oracle.
    */
  private[queries] def canonicalCtes: String =
    s"""$simhashPairCtes,
       |sigdup AS (SELECT d1, d2 FROM (
       |  SELECT MIN(doc_id) OVER (PARTITION BY simhash) AS d1, doc_id AS d2
       |  FROM sigs) WHERE d1 <> d2),
       |alledges AS (SELECT d1, d2 FROM pairs
       |             UNION SELECT d1, d2 FROM sigdup),
       |${ccLabelsSql("alledges")},
       |q AS (SELECT doc_id,
       |        ${TextAnalysisQueries.canonScoreSql} AS qscore
       |      FROM documents),
       |d AS (SELECT lab.doc_id, lab.cluster_id, q.qscore
       |      FROM lab JOIN q USING (doc_id)),
       |canon AS (${winnersSql("cluster_id, doc_id AS canon_id", "d", "cluster_id", "qscore DESC, doc_id")})""".stripMargin

  /** dedup_ngram_jaccard's oracle — ONE string, shared by its own entry
    * and (as a nested subquery) dedup_clusters_multi's edge union.
    */
  /** The CTE block of [[rareShinglePairStats]] (shared by the Jaccard and
    * containment oracles the way the Spark stage is): final CTE `st` has
    * (d1, d2, inter, n1, n2) with d1 < d2.
    */
  /** `dedup_winnowing`'s pair relation (d1, d2, n_shared) — one SQL
    * string for the catalog entry and the multi-edge union.
    */
  private def winnowingPairsSql: String =
    s"""WITH f AS (${TextAnalysisQueries.winnowFpsSql}),
       |${capBucketsSql("f", Seq("fp"), "hot", "cold")},
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |      FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT d1, d2, n_shared FROM p WHERE n_shared >= $MinSharedFp""".stripMargin

  /** [[containmentEdges]]' SQL twin: either direction over the shared
    * rare-shingle stats clears [[MinContainment]].
    */
  private def containmentEdgesSql: String =
    s"""WITH $rareShinglePairStatsSql
       |SELECT d1, d2 FROM st
       |WHERE inter / n1 >= $MinContainment OR inter / n2 >= $MinContainment""".stripMargin

  /** dedup_semantic_kmeans' oracle — the k-means CTE chain
    * (SimilarityQueries.kmeansCtes, one SQL string shared with
    * embedding_kmeans' own oracle) feeding semanticPairsSql's capped-cell
    * pair shape with cluster as the cell key. A val so the catalog entry
    * and the multi-edge union nest the SAME string.
    */
  private lazy val kmSemanticPairsSql: String =
    s"""WITH ${SimilarityQueries.kmeansCtes},
       |ka AS (SELECT vec_id, v, cluster FROM ${SimilarityQueries.kmFinalAsg}),
       |${withinCellPairsSql("ka", Seq("cluster"))},
       |$semanticElectionSql""".stripMargin

  /** [[withinCellPairs]]' twin over relation `rel`: the cap's `hot`/`ce`
    * CTEs and `p(d1, d2, sim)`.
    */
  private def withinCellPairsSql(rel: String, cellKeys: Seq[String]): String =
    s"""${capBucketsSql(rel, cellKeys, "hot", "ce")},
       |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
       |        ${cosineSql("a.v", "b.v")} AS sim
       |      FROM ce a JOIN ce b
       |        ON ${cellKeys.map(k => s"a.$k = b.$k").mkString(" AND ")}
       |       AND a.vec_id < b.vec_id)""".stripMargin

  /** [[semanticElection]]'s twin over the candidate CTE `p(d1, d2, sim)`:
    * the quality CTE `q` and the gated, elected, ordered final SELECT.
    */
  private def semanticElectionSql: String =
    s"""q AS (SELECT doc_id,
       |        ${TextAnalysisQueries.canonScoreSql} AS q
       |      FROM documents)
       |SELECT p.d1, p.d2, p.sim,
       |  CASE WHEN x.q < y.q THEN p.d1
       |       WHEN y.q < x.q THEN p.d2
       |       ELSE GREATEST(p.d1, p.d2) END AS drop_id
       |FROM p JOIN q x ON p.d1 = x.doc_id JOIN q y ON p.d2 = y.doc_id
       |WHERE ${semGateSql("p.sim")}
       |ORDER BY d1, d2""".stripMargin

  private def rareShinglePairStatsSql: String =
    s"""sh0 AS ($shSqlRel),
       |${capBucketsSql("sh0", Seq("sh"), "hot", "sh", MaxShingleDf)},
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |st AS (SELECT d1, d2, inter, x.n AS n1, y.n AS n2
       |       FROM inter JOIN sz x ON d1 = x.doc_id
       |                  JOIN sz y ON d2 = y.doc_id)""".stripMargin

  private def ngramJaccardPairsSql: String =
    s"""WITH $rareShinglePairStatsSql
       |SELECT d1, d2, inter / (n1 + n2 - inter) AS jaccard
       |FROM st
       |WHERE inter / (n1 + n2 - inter) >= 0.2
       |ORDER BY d1, d2""".stripMargin

  /** dedup_chunk_minhash's oracle (shared like [[ngramJaccardPairsSql]]):
    * same fragments as dedup_minhash_lsh's oracle (minhash*Sql builders)
    * over the REPRESENTATIVE chunk relation — one min-(doc_id, chunk_id)
    * row per md5 group (dedup_chunk_exact's canon spelling), mirroring
    * the Spark side's exact-duplicate pre-filter.
    */
  private def chunkMinhashPairsSql: String =
    s"""WITH c AS (SELECT doc_id, chunk_id, chunk, md5(chunk) AS chunk_hash
       |           FROM (${CurationQueries.chunksSqlRel})),
       |g AS (SELECT chunk_hash, min(doc_id) AS canon_doc FROM c GROUP BY 1),
       |g2 AS (SELECT g.chunk_hash, g.canon_doc, min(c.chunk_id) AS canon_chunk
       |       FROM g JOIN c ON c.chunk_hash = g.chunk_hash
       |                    AND c.doc_id = g.canon_doc GROUP BY 1, 2),
       |reps AS (SELECT c.doc_id, c.chunk_id, c.chunk
       |         FROM c JOIN g2 ON c.chunk_hash = g2.chunk_hash
       |                       AND c.doc_id = g2.canon_doc
       |                       AND c.chunk_id = g2.canon_chunk),
       |sh0 AS (SELECT DISTINCT doc_id, chunk_id, unnest(${shinglesNSql("tv", 3)}) AS sh
       |  FROM (SELECT doc_id, chunk_id, ${tokensSql("chunk")} AS tv FROM reps)),
       |sigs AS (SELECT doc_id, chunk_id, ${minhashMinsSql("sh", K)}
       |         FROM sh0 GROUP BY doc_id, chunk_id),
       |bands AS (SELECT *, ${minhashBvalCaseSql(K)} AS bval
       |          FROM sigs, (SELECT unnest(range(${K / 2})) AS band)),
       |${capBucketsSql("bands", Seq("band", "bval"), "hot", "cold")}
       |SELECT d1, c1, d2, c2, est_jaccard FROM (
       |  SELECT DISTINCT a.doc_id d1, a.chunk_id c1, b.doc_id d2, b.chunk_id c2,
       |    (${minhashMatchesSql(K)}) / ${K.toDouble} AS est_jaccard
       |  FROM cold a JOIN cold b
       |    ON a.band = b.band AND a.bval = b.bval
       |   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.chunk_id < b.chunk_id)))
       |WHERE est_jaccard >= $MinEstJaccard ORDER BY d1, c1, d2, c2""".stripMargin

  /** dedup_semantic (labeled) / dedup_semantic_unlabeled oracle (shared
    * like [[ngramJaccardPairsSql]]). The WHERE mirrors the Spark side's
    * isNotNull filters: without it a NULL-id row would count toward a
    * bucket's hot-cap membership on one engine and not the other; the
    * unlabeled form drops the label from the bucket key and the WHERE.
    */
  private def semanticPairsSql(labeled: Boolean): String = {
    val (selCols, whereIds, cellKeys) =
      if (labeled)
        ("vec_id, label", "vec_id IS NOT NULL AND label IS NOT NULL", Seq("label", "bkt"))
      else
        ("vec_id", "vec_id IS NOT NULL", Seq("bkt"))
    s"""WITH e0 AS (SELECT $selCols, v, ${signBucketSql("v", CellBits)} AS bkt
       |            FROM (SELECT $selCols, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |                  WHERE $whereIds)),
       |${withinCellPairsSql("e0", cellKeys)},
       |$semanticElectionSql""".stripMargin
  }

  /** dedup_semantic_graph's oracle — knn_mutual_pairs' spliced string
    * as the candidate relation (one nested WITH — the recall-splice
    * precedent), exact cosine + the dedup_semantic election on top.
    * ONE string, shared by the catalog entry and (nested) by
    * CurationQueries' pipeline_curate_semantic mirror.
    */
  private[queries] lazy val semanticGraphSql: String =
    s"""WITH mp AS (SELECT d1, d2 FROM (${SimilarityQueries.knnMutualPairsSql}) x),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |p AS (SELECT mp.d1, mp.d2, ${cosineSql("a.v", "b.v")} AS sim
       |      FROM mp JOIN e2 a ON a.vec_id = mp.d1
       |              JOIN e2 b ON b.vec_id = mp.d2),
       |$semanticElectionSql""".stripMargin

  /** The tiers dedup_recall scores — ONE list consumed by the Spark
    * query and the spliced oracle (the recallTiers rule), so adding a
    * tier updates both in lockstep.
    */
  private val dedupRecallTiers: Seq[String] =
    Seq("dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_winnowing")

  /** The per-query oracle strings; [[oracles]] adds dedup_recall, which
    * SPLICES the measured tiers' own strings as sub-selects (nested WITH
    * inside a parenthesized subquery — DuckDB-legal; the ann_recall
    * precedent) so the harness and the tiers it measures cannot drift.
    */
  private lazy val oraclesBase: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS text_hash,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id,
        |  CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_minhash" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${signatureSql(K)} AS sig FROM (
         |    SELECT doc_id, ${minhashMinsSql("w", K)} FROM ($tokSqlRel) GROUP BY doc_id))
         |SELECT doc_id, sig,
         |  MIN(doc_id) OVER (PARTITION BY sig) AS canon_id,
         |  CAST(COUNT(*) OVER (PARTITION BY sig) AS BIGINT) AS group_size
         |FROM sigs ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" -> {
      // Exploded (band, bval) form — the same buckets as Spark's
      // posexplode'd md5(h_{2b} || h_{2b+1}) — so the hot-bucket cap is
      // one GROUP BY + NOT EXISTS, mirroring the dedup_simhash_pairs
      // oracle. Fragments shared with decontaminate_fuzzy's oracle via
      // the minhash*Sql builders.
      val matches = minhashMatchesSql(K)
      s"""WITH sigs AS (SELECT doc_id, ${minhashMinsSql("sh", K)}
         |              FROM ($shSqlRel) GROUP BY doc_id),
         |bands AS (SELECT *, ${minhashBvalCaseSql(K)} AS bval
         |          FROM sigs, (SELECT unnest(range(${K / 2})) AS band)),
         |${capBucketsSql("bands", Seq("band", "bval"), "hot", "cold")}
         |SELECT d1, d2, est_jaccard FROM (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2,
         |    ($matches) / ${K.toDouble} AS est_jaccard
         |  FROM cold a JOIN cold b
         |    ON a.doc_id < b.doc_id AND a.band = b.band AND a.bval = b.bval)
         |WHERE est_jaccard >= $MinEstJaccard ORDER BY d1, d2""".stripMargin
    },

    "dedup_simhash" ->
      s"""WITH sigs AS ($simhashSqlRel)
         |SELECT doc_id, simhash,
         |  MIN(doc_id) OVER (PARTITION BY simhash) AS canon_id,
         |  CAST(COUNT(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size
         |FROM sigs ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $simhashPairCtes
         |SELECT d1, d2, hamming FROM pairs ORDER BY d1, d2""".stripMargin,

    "dedup_clusters" ->
      // connected components of the simhash pairs ([[ccLabelsSql]])
      s"""WITH RECURSIVE $simhashPairCtes,
         |${ccLabelsSql("pairs")},
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
         |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,

    "dedup_canonical" ->
      s"""WITH RECURSIVE $canonicalCtes
         |SELECT d.doc_id, d.cluster_id, c.canon_id,
         |       d.doc_id = c.canon_id AS keep
         |FROM d JOIN canon c USING (cluster_id) ORDER BY doc_id""".stripMargin,

    "dedup_cluster_stats" ->
      // the canonical (exact-inclusive) closure's label relation, rolled
      // up to per-size counts: sz is one row per cluster, so n_docs per
      // size bucket is sum(cluster_size) = n_clusters × size
      s"""WITH RECURSIVE $canonicalCtes,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardPairsSql,

    "dedup_containment" ->
      s"""WITH $rareShinglePairStatsSql,
         |u AS (SELECT d1 AS contained, d2 AS container,
         |        inter AS n_shared, n1 AS n_contained FROM st
         |      UNION ALL
         |      SELECT d2, d1, inter, n2 FROM st)
         |SELECT contained, container, n_shared, n_contained,
         |  n_shared / n_contained AS containment
         |FROM u WHERE n_shared / n_contained >= $MinContainment
         |ORDER BY contained, container""".stripMargin,

    "dedup_chunk_exact" ->
      // lexicographic min (doc_id, chunk_id) spelled as min doc, then min
      // chunk within that doc — equal to Spark's min(struct(...))
      s"""WITH c AS (SELECT doc_id, chunk_id, md5(chunk) AS chunk_hash
         |           FROM (${CurationQueries.chunksSqlRel})),
         |g AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
         |        min(doc_id) AS canon_doc FROM c GROUP BY 1),
         |g2 AS (SELECT g.chunk_hash, g.n_copies, g.canon_doc,
         |         min(c.chunk_id) AS canon_chunk
         |       FROM g JOIN c ON c.chunk_hash = g.chunk_hash
         |                    AND c.doc_id = g.canon_doc
         |       GROUP BY 1, 2, 3)
         |SELECT c.doc_id, c.chunk_id, c.chunk_hash,
         |       g2.canon_doc, g2.canon_chunk, g2.n_copies
         |FROM c JOIN g2 USING (chunk_hash)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "dedup_chunk_cdc" ->
      // dedup_chunk_exact's oracle verbatim over the CDC chunk relation
      s"""WITH c AS (SELECT doc_id, chunk_id, md5(chunk) AS chunk_hash
         |           FROM (${CurationQueries.cdcChunksSqlRel})),
         |g AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
         |        min(doc_id) AS canon_doc FROM c GROUP BY 1),
         |g2 AS (SELECT g.chunk_hash, g.n_copies, g.canon_doc,
         |         min(c.chunk_id) AS canon_chunk
         |       FROM g JOIN c ON c.chunk_hash = g.chunk_hash
         |                    AND c.doc_id = g.canon_doc
         |       GROUP BY 1, 2, 3)
         |SELECT c.doc_id, c.chunk_id, c.chunk_hash,
         |       g2.canon_doc, g2.canon_chunk, g2.n_copies
         |FROM c JOIN g2 USING (chunk_hash)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "dedup_chunk_minhash" -> chunkMinhashPairsSql,

    "dedup_semantic" -> semanticPairsSql(labeled = true),

    "dedup_semantic_unlabeled" -> semanticPairsSql(labeled = false),

    "dedup_winnowing" ->
      s"""WITH wp AS ($winnowingPairsSql),
         |f2 AS (${TextAnalysisQueries.winnowFpsSql}),
         |cnt AS (SELECT doc_id, count(*) AS nf FROM f2 GROUP BY 1)
         |SELECT wp.d1, wp.d2, wp.n_shared,
         |  wp.n_shared / LEAST(x.nf, y.nf) AS overlap
         |FROM wp JOIN cnt x ON wp.d1 = x.doc_id JOIN cnt y ON wp.d2 = y.doc_id
         |ORDER BY d1, d2""".stripMargin,

    "dedup_semantic_kmeans" -> kmSemanticPairsSql,

    // the graph-fed SemDeDup tier — the string is [[semanticGraphSql]],
    // shared with pipeline_curate_semantic's mirror
    "dedup_semantic_graph" -> semanticGraphSql,

    "dedup_clusters_multi" ->
      // the dedup_clusters recursive reachability closure over the UNION
      // of every pair relation: simhash pairs + Hamming-0 star edges
      // (canonicalCtes' sigdup), chunk-minhash pairs projected to
      // documents, n-gram Jaccard pairs, directional containment,
      // winnowing pairs, and all three semantic forms (labeled, sign-LSH,
      // k-means cells). Each edge source is the corresponding pair oracle
      // nested VERBATIM as a subquery (DuckDB scopes their internal CTE
      // names) — mirrors cannot drift because there is exactly one SQL
      // string per pair relation, shared with its own catalog entry.
      s"""WITH RECURSIVE $simhashPairCtes,
         |sigdup AS (SELECT d1, d2 FROM (
         |  SELECT MIN(doc_id) OVER (PARTITION BY simhash) AS d1, doc_id AS d2
         |  FROM sigs) WHERE d1 <> d2),
         |echunk AS (SELECT DISTINCT d1, d2 FROM ($chunkMinhashPairsSql) WHERE d1 <> d2),
         |engram AS (SELECT d1, d2 FROM ($ngramJaccardPairsSql)),
         |econt AS (SELECT d1, d2 FROM ($containmentEdgesSql)),
         |ewin AS (SELECT d1, d2 FROM ($winnowingPairsSql)),
         |esem AS (SELECT d1, d2 FROM (${semanticPairsSql(labeled = true)})),
         |esemu AS (SELECT d1, d2 FROM (${semanticPairsSql(labeled = false)})),
         |ekm AS (SELECT d1, d2 FROM ($kmSemanticPairsSql)),
         |alledges AS (SELECT d1, d2 FROM pairs UNION SELECT d1, d2 FROM sigdup
         |  UNION SELECT d1, d2 FROM echunk UNION SELECT d1, d2 FROM engram
         |  UNION SELECT d1, d2 FROM econt UNION SELECT d1, d2 FROM ewin
         |  UNION SELECT d1, d2 FROM esem UNION SELECT d1, d2 FROM esemu
         |  UNION SELECT d1, d2 FROM ekm),
         |${ccLabelsSql("alledges")},
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
         |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,

    "dedup_embedding" ->
      // WHERE mirrors the Spark isNotNull filters (see dedup_semantic)
      s"""WITH e0 AS (SELECT vec_id, label, v, ${signBucketSql("v", CellBits)} AS bkt
         |            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |                  WHERE vec_id IS NOT NULL AND label IS NOT NULL)),
         |${capBucketsSql("e0", Seq("label", "bkt"), "hot", "e")},
         |sims AS (
         |  SELECT a.vec_id, a.label, b.vec_id AS nn_id,
         |    ${cosineSql("a.v", "b.v")} AS sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id <> b.vec_id)
         |${winnersSql("vec_id, label, nn_id", "sims", "vec_id", "sim DESC, nn_id")} ORDER BY vec_id""".stripMargin,

    "source_overlap" ->
      // the oracle's window-rank bottom-k is value-equal to the
      // aggregator's distinct-bottom-k because sh0 is hash-DISTINCT per
      // source before ranking
      s"""WITH sh0 AS (SELECT DISTINCT source, md5(sh) AS h
         |  FROM (SELECT source, unnest(${shinglesNSql("t", 3)}) AS sh
         |        FROM (SELECT source, ${tokensSql("text")} AS t FROM documents))),
         |bk AS (SELECT source, h FROM (
         |  SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM sh0) WHERE rn <= $SketchK),
         |srcs AS (SELECT DISTINCT source FROM bk),
         |prs AS (SELECT a.source AS sa, b.source AS sb
         |        FROM srcs a JOIN srcs b ON a.source < b.source),
         |m AS (SELECT p.sa, p.sb, k.h,
         |        max(CASE WHEN k.source = p.sa THEN 1 ELSE 0 END) AS ina,
         |        max(CASE WHEN k.source = p.sb THEN 1 ELSE 0 END) AS inb
         |      FROM prs p JOIN bk k ON k.source = p.sa OR k.source = p.sb
         |      GROUP BY 1, 2, 3),
         |r AS (SELECT sa, sb, ina, inb,
         |        row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM m)
         |SELECT sa AS src_a, sb AS src_b, CAST(count(*) AS BIGINT) AS n_k,
         |  CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM r WHERE rn <= $SketchK GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ngram_novelty" ->
      s"""WITH sh0 AS ($shSqlRel),
         |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh0 GROUP BY sh)
         |SELECT s.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS novelty
         |FROM sh0 s JOIN f USING (sh) GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  )

  def oracles: Map[String, String] = oraclesBase + ("dedup_recall" -> {
    val ctes = dedupRecallTiers.zipWithIndex.map { case (n, i) =>
      s"t$i AS (SELECT d1, d2 FROM (${oraclesBase(n)}) x)"
    }.mkString(",\n")
    // the LSH tier's CTE doubles as the union row's pair set
    val tl = s"t${dedupRecallTiers.indexOf("dedup_minhash_lsh")}"
    val rows = (dedupRecallTiers.zipWithIndex.map { case (n, i) =>
      s"""SELECT '$n' AS method,
         |  CAST((SELECT COUNT(*) FROM t$i) AS BIGINT) AS n_cand,
         |  CAST((SELECT COUNT(*) FROM t$i WHERE EXISTS (
         |    SELECT 1 FROM tr WHERE tr.d1 = t$i.d1 AND tr.d2 = t$i.d2)) AS BIGINT) AS n_hit""".stripMargin
    } :+
      s"""SELECT 'union_sig_lsh' AS method,
         |  (SELECT n_sig FROM nsp) + (SELECT n_lsh FROM nlsh)
         |    - (SELECT n_overlap FROM novl) AS n_cand,
         |  (SELECT n_hit FROM uhit) AS n_hit""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH tr AS (SELECT d1, d2 FROM (${oraclesBase("dedup_ngram_jaccard")}) x),
       |$ctes,
       |sg AS (SELECT doc_id, ${signatureSql(K)} AS ssig
       |       FROM (SELECT doc_id, ${minhashMinsSql("sh", K)}
       |             FROM ($shSqlRel) GROUP BY doc_id)),
       |nsp AS (SELECT CAST(COALESCE(SUM(g * (g - 1)), 0) // 2 AS BIGINT) AS n_sig
       |        FROM (SELECT count(*) AS g FROM sg GROUP BY ssig)),
       |nlsh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM $tl),
       |novl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap FROM $tl
       |         JOIN sg a ON a.doc_id = $tl.d1 JOIN sg b ON b.doc_id = $tl.d2
       |         WHERE a.ssig = b.ssig),
       |uhit AS (SELECT CAST(COALESCE(SUM(CASE WHEN a.ssig = b.ssig OR EXISTS (
       |           SELECT 1 FROM $tl WHERE $tl.d1 = tr.d1 AND $tl.d2 = tr.d2)
       |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
       |         FROM tr JOIN sg a ON a.doc_id = tr.d1 JOIN sg b ON b.doc_id = tr.d2),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tr)
       |SELECT method, n_cand, n_hit, n_true,
       |  CASE WHEN n_cand > 0
       |       THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS precision,
       |  CASE WHEN n_true > 0
       |       THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
       |FROM ($rows) CROSS JOIN nt
       |ORDER BY method""".stripMargin
  }) + ("dedup_recall_canon" -> {
    // The post-canon harness: the canonical survivor set (canonicalCtes'
    // closure — its internal names sigs/bands/hot/cold/pairs/q/d are
    // TAKEN, hence the c-prefixed CTEs), then the raw harness's truth /
    // LSH / signature arithmetic re-derived over the survivor shingles.
    // The multiply-referenced CTEs are AS MATERIALIZED: DuckDB inlines
    // CTEs by default, and with csh0 referenced 3×, csh 3×, ctr 3× etc.
    // the inlined plan re-runs the RECURSIVE closure + shingle chain
    // multiplicatively (measured: 10+ min single-threaded at sf0.01
    // before the hints; seconds after) — the SQL twin of the Spark
    // side's checkpoint-the-shared-frame rule.
    s"""WITH RECURSIVE $canonicalCtes,
       |surv AS MATERIALIZED (SELECT d.doc_id FROM d JOIN canon c USING (cluster_id)
       |         WHERE d.doc_id = c.canon_id),
       |cdocs AS (SELECT dd.doc_id, dd.text FROM documents dd
       |          JOIN surv USING (doc_id)),
       |csh0 AS MATERIALIZED (${shSqlRelOf("cdocs")}),
       |${capBucketsSql("csh0", Seq("sh"), "chot", "csh", MaxShingleDf, materialized = true)},
       |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
       |cinter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) AS inter
       |           FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |ctr AS MATERIALIZED (SELECT d1, d2 FROM (
       |          SELECT d1, d2, inter, x.n AS n1, y.n AS n2
       |          FROM cinter JOIN csz x ON d1 = x.doc_id
       |                      JOIN csz y ON d2 = y.doc_id)
       |        WHERE inter / (n1 + n2 - inter) >= 0.2),
       |csigs AS MATERIALIZED (SELECT doc_id, ${minhashMinsSql("sh", K)} FROM csh0 GROUP BY doc_id),
       |cbands AS (SELECT *, ${minhashBvalCaseSql(K)} AS bval
       |           FROM csigs, (SELECT unnest(range(${K / 2})) AS band)),
       |${capBucketsSql("cbands", Seq("band", "bval"), "chotb", "ccold", materialized = true)},
       |ccand AS MATERIALIZED (SELECT d1, d2 FROM (
       |  SELECT DISTINCT a.doc_id d1, b.doc_id d2,
       |    (${minhashMatchesSql(K)}) / ${K.toDouble} AS est_jaccard
       |  FROM ccold a JOIN ccold b
       |    ON a.doc_id < b.doc_id AND a.band = b.band AND a.bval = b.bval)
       |  WHERE est_jaccard >= $MinEstJaccard),
       |csg AS MATERIALIZED (SELECT doc_id, ${signatureSql(K)} AS ssig FROM csigs),
       |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM ctr)
       |SELECT method, n_cand, n_hit, n_true,
       |  CASE WHEN n_cand > 0
       |       THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS precision,
       |  CASE WHEN n_true > 0
       |       THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
       |FROM (
       |  SELECT 'post_canon_lsh' AS method,
       |    CAST((SELECT COUNT(*) FROM ccand) AS BIGINT) AS n_cand,
       |    CAST((SELECT COUNT(*) FROM ccand WHERE EXISTS (
       |      SELECT 1 FROM ctr WHERE ctr.d1 = ccand.d1 AND ctr.d2 = ccand.d2)) AS BIGINT) AS n_hit
       |  UNION ALL
       |  SELECT 'post_canon_sig' AS method,
       |    (SELECT CAST(COALESCE(SUM(g * (g - 1)), 0) // 2 AS BIGINT)
       |     FROM (SELECT count(*) AS g FROM csg GROUP BY ssig)) AS n_cand,
       |    (SELECT CAST(COALESCE(SUM(CASE WHEN a.ssig = b.ssig THEN 1 ELSE 0 END), 0) AS BIGINT)
       |     FROM ctr JOIN csg a ON a.doc_id = ctr.d1
       |              JOIN csg b ON b.doc_id = ctr.d2) AS n_hit
       |) CROSS JOIN ntr
       |ORDER BY method""".stripMargin
  })
}
