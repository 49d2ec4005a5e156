package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword n-gram heuristic), quality scoring (length/alpha/stopword
  * ratios), token counting (whitespace + BPE-ish regex), and document
  * fingerprinting (min-hash-of-shingles, a winnowing-style sketch).
  *
  * All per-document projections/aggregations — embarrassingly parallel, no
  * shuffle except the per-doc groupBy for the fingerprint. Determinism:
  * ratios are BIGINT/BIGINT double divisions and weights are binary
  * fractions (0.5/0.25), so scores are bit-identical on both engines.
  */
object TextAnalysisQueries {

  /** language -> stopword list for the n-gram/stopword-count heuristic. */
  private[queries] val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est", "dans"),
    "es" -> Seq("el", "los", "las", "y", "una", "es", "que"))

  private[queries] def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Winnowing window width: fingerprints are the min of every
    * [[WinnowW]]-long run of consecutive 3-token-shingle hashes, so any
    * shared token run of length ≥ WinnowW + 3 − 1 = 6 is GUARANTEED to
    * surface a shared fingerprint (Schleimer et al. 2003 §2). Density is
    * ~2/(W+1) of the shingle count — the storage/recall knob.
    */
  private[graft] val WinnowW = 4

  /** The winnowed (doc_id, fp) postings relation — `doc_winnowing`'s body
    * and `dedup_winnowing`'s candidate input (DedupQueries). Ties inside
    * a window resolve by plain min (md5 collisions are the only tie
    * source on distinct shingles, and both engines take the same
    * lexicographic min, so the rule stays oracle-exact without the
    * paper's rightmost-tie refinement).
    *
    * The hash array is BOUND once per row through the shingles3
    * one-binding idiom (`element_at(transform(array(hs), hsv -> …), 1)`)
    * before the window lambdas slice it: HOF lambdas are interpreted
    * without subexpression elimination, so a naive
    * `transform(seq, i -> array_min(slice(hsExpr, …)))` re-evaluates the
    * ENTIRE per-doc md5 chain for every window — O(n²) hashing that
    * measured 46 s at sf0.1 and, worse, poisoned every later bench query
    * through heap/GC pressure; the bound form is the intended O(n·W).
    */
  private[queries] def winnowFps(s: SparkSession, dir: String): DataFrame = {
    // native one-pass kernel (WinnowFps): the HOF spelling —
    // `array_distinct(transform(sequence(0, m-w), i ->
    // array_min(slice(hs, i+1, w))))` over `hs = transform(shingles3(
    // tokens(text)), t -> md5(t))` — built the shingle string and its md5
    // hex through three interpreted lambda layers per position and
    // re-scanned w hashes per window; the kernel hashes the identical
    // joined bytes and keeps window minima with a monotonic deque, so the
    // emitted fingerprints are bit-for-bit the HOF's (parity-spec'd on
    // the corpus in ScaleOpsSpec) and [[winnowFpsSql]] is unchanged.
    val fpsExpr = graft.bridge.SparkInternals.column(
      graft.expressions.WinnowFps(
        graft.bridge.SparkInternals.expression(tokens(col("text"))), WinnowW))
    Tables(s, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(fpsExpr).as("fp"))
  }

  /** DuckDB mirror of [[winnowFps]] (a full SELECT; nest as a subquery). */
  private[queries] def winnowFpsSql: String = {
    val w = WinnowW
    s"""SELECT doc_id, unnest(fps) AS fp FROM (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) >= $w THEN list_distinct(list_transform(
       |           range(0, len(hs)-${w - 1}), i -> list_aggregate(hs[i+1:i+$w], 'min')))
       |         WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
       |         ELSE CAST([] AS VARCHAR[]) END AS fps
       |  FROM (SELECT doc_id, list_transform(${shinglesNSql("t", 3)}, s -> md5(s)) AS hs
       |        FROM (SELECT doc_id, ${tokensSql("text")} AS t FROM documents
       |              WHERE doc_id IS NOT NULL)))""".stripMargin
  }

  /** The four BIGINT counts the quality score reads off a raw text
    * column: tokens of the cleaned line, chars, `[a-z]` chars and stop
    * words. One type for both engines' spellings.
    */
  private[graft] final case class QualityParts[A](nTok: A, nChars: A, nAlpha: A, nStop: A)

  private[graft] def qualityParts(text: Column): QualityParts[Column] = {
    val toks = tokens(cleanLine(text))
    QualityParts(size(toks).cast("long"), length(text).cast("long"),
      length(regexp_replace(text, "[^a-z]", "")).cast("long"),
      stopCount(toks, Stopwords.flatMap(_._2)).cast("long"))
  }

  /** DuckDB mirror of [[qualityParts]] applied to column `text`. */
  private[queries] def qualityPartsSql(text: String): QualityParts[String] = {
    val toks = tokensSql(cleanLineSql(text))
    val inList = Stopwords.flatMap(_._2).map(w => s"'$w'").mkString(",")
    QualityParts(s"CAST(len($toks) AS BIGINT)", s"CAST(length($text) AS BIGINT)",
      s"CAST(length(regexp_replace($text, '[^a-z]', '', 'g')) AS BIGINT)",
      s"CAST(len(list_filter($toks, x -> x IN ($inList))) AS BIGINT)")
  }

  /** The text_quality score as a reusable expression over a raw text
    * column — also the ranking signal for [[CurationQueries]]. NULL for
    * tokenless docs (0/0); both consumers mirror that in their oracles.
    */
  private[graft] def qualityExpr(text: Column): Column = {
    val p = qualityParts(text)
    (p.nAlpha / p.nChars) * 0.5 + (p.nStop / p.nTok) * 0.25 +
      least(p.nTok / lit(50.0), lit(1.0)) * 0.25
  }

  /** DuckDB mirror of [[qualityExpr]] applied to column `text`. */
  private[queries] def qualitySqlExpr: String = {
    val p = qualityPartsSql("text")
    s"(${p.nAlpha} / ${p.nChars}) * 0.5 + (${p.nStop} / ${p.nTok}) * 0.25" +
      s" + LEAST(${p.nTok} / 50.0, 1.0) * 0.25"
  }

  /** The score a canonical election ranks docs by: [[qualityExpr]], a
    * tokenless doc's NULL taken as -1.0 so a class of unscorable docs
    * still elects a deterministic canon.
    */
  private[graft] def canonScore(text: Column): Column = coalesce(qualityExpr(text), lit(-1.0))

  /** DuckDB mirror of [[canonScore]] applied to column `text`. */
  private[queries] def canonScoreSql: String = s"COALESCE($qualitySqlExpr, -1.0)"

  /** Token-span width for [[text_dedup_token_spans]] — a plan-time
    * constant like shinglesN's widths. Lee et al. 2021 use 50-token
    * spans on web corpora; 10 keeps the rule exercisable on the
    * synthetic corpus's shorter documents (the width changes nothing
    * structural: span rows stay ≈ token rows at any W).
    */
  private[queries] val SpanW = 10

  /** BPE-ish token regex: letter runs, digit runs, single other symbols.
    * Whitespace as an explicit class (`\s` differs between Java and RE2
    * on vertical tab — see TextFunctions.WsClass).
    */
  // private[graft]: QueriesSpec recomputes the pair ranking driver-side
  // with the SAME pattern (Java regex both places), not a copy that can
  // drift.
  private[graft] val BpeRegex = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  /** bpe_pair_counts: merge candidates kept per round — the rank window
    * after the top-k limit runs over exactly this many rows.
    */
  private[graft] val BpeTopK = 16

  /** [[BpeRegex]] with the \x1F delimiter char RESERVED out of the
    * single-symbol class: bpe_merges frames token sequences as
    * \x1F-delimited strings, so a corpus that happened to contain the
    * delimiter would otherwise forge token boundaries. Same literal in
    * Java regex and RE2 (explicit classes, \xhh escapes both places).
    */
  private[graft] val BpeMergeRegex =
    "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r\\x1F]"

  /** bpe_merges: training rounds (merges learned). A design constant —
    * plan depth must not be data-dependent; production picks vocab-size
    * rounds (~30k), each round the same linear plan.
    */
  private[graft] val BpeRounds = 6

  /** The trained merge table (round, lhs, rhs, n) — the bpe_merges loop
    * (see that entry for the delimiter-framing / greedy-replace
    * argument), session-cached: BpeRounds rows, a design constant, so
    * the cache admission rule holds, and bpe_vocab's apply-only pass
    * reuses the TRAINING result instead of re-paying one pair-count
    * aggregation per round. Per-round corpus checkpoints stay on the
    * retire-at-drain lifecycle; the returned 6-row union is re-
    * materialized fresh so it survives the drain that frees them.
    */
  private def bpeWinners(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionCache.frame(s, dir, "bpe-winners") {
      val Sep = "\u001F"
      var cur = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(concat(lit(Sep),
          array_join(regexp_extract_all(col("text"), lit(BpeMergeRegex), lit(0)),
            Sep + Sep),
          lit(Sep)).as("s"))
      val winners = (1 to BpeRounds).map { r =>
        val curM = graft.operators.Checkpoints.retire(
          graft.operators.Checkpoints.corpusScaled(cur))
        val pairs = curM
          .select(split(expr("substring(s, 2, length(s) - 2)"), Sep + Sep).as("tv"))
          .filter(size(col("tv")) >= 2)
          .select(explode(zip_with(
            slice(col("tv"), lit(1), size(col("tv")) - 1),
            slice(col("tv"), lit(2), size(col("tv")) - 1),
            (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
          .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        val w = graft.operators.Checkpoints.retire(graft.operators.Checkpoints.fresh(
          pairs.groupBy("lhs", "rhs").agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1)))
        cur = curM
          .crossJoin(broadcast(w.select(col("lhs").as("wl"), col("rhs").as("wr"))))
          .select(replace(col("s"),
            concat(lit(Sep), col("wl"), lit(Sep + Sep), col("wr"), lit(Sep)),
            concat(lit(Sep), col("wl"), col("wr"), lit(Sep))).as("s"))
        w.select(lit(r).as("round"), col("lhs"), col("rhs"), col("n"))
      }
      graft.operators.Checkpoints.fresh(winners.reduce(_ unionByName _))
    }

  /** The merge table with the exhausted-training guard: an apply-only
    * consumer (bpe_vocab / bpe_encode) folds EVERY round's winner as a
    * 1-row crossJoin, so a round that trained no winner (corpus too
    * small for BpeRounds distinct merges) would empty the corpus — and
    * the output — SILENTLY on both engines. bpe_merges honestly emits
    * the trained prefix in that regime; the apply passes cannot (their
    * unrolled plan is round-count-static, as is the oracle's), so the
    * regime fails loudly here instead. One count of the session-cached
    * BpeRounds-row frame.
    */
  private[queries] def bpeWinnersChecked(s: SparkSession, dir: String): DataFrame = {
    val w = bpeWinners(s, dir)
    val n = w.count()
    require(n == BpeRounds,
      s"BPE training exhausted after $n/$BpeRounds rounds: the apply-only " +
        "passes (bpe_vocab/bpe_encode) would silently empty the corpus; " +
        "lower BpeRounds or train on a larger corpus")
    w
  }

  /** Delimiter-framed symbol stream of a text column: \x1F-framed,
    * \x1F\x1F-separated [[BpeMergeRegex]] pre-tokens — the form every
    * BPE pass (training rounds, vocab apply, encode) operates on.
    */
  private[queries] def bpeFrame(text: Column): Column = {
    val Sep = "\u001F"
    concat(lit(Sep),
      array_join(regexp_extract_all(text, lit(BpeMergeRegex), lit(0)), Sep + Sep),
      lit(Sep))
  }

  /** All [[BpeRounds]] trained merges applied to a framed corpus (`s`
    * column; `keys` carried through) — N chained literal replaces in ONE
    * whole-stage-codegen projection (no pair counting, no per-round
    * checkpoint: each round's corpus feeds only the next, no lineage
    * fan-out). ONE spelling consumed by bpe_vocab AND bpe_encode — the
    * tokenizer's train-time and inference-time apply passes cannot
    * drift. limit(1) is semantically free (round is unique in the merge
    * table) and gives the conditionless broadcast a STATIC row bound
    * the structural join audit can see (maxRows = 1).
    */
  private[queries] def bpeApply(framed: DataFrame, keys: Seq[String], w: DataFrame): DataFrame = {
    val Sep = "\u001F"
    var cur = framed
    for (r <- 1 to BpeRounds)
      cur = cur
        .crossJoin(broadcast(w.filter(col("round") === r).limit(1)
          .select(col("lhs").as(s"wl$r"), col("rhs").as(s"wr$r"))))
        .select(keys.map(col) :+ replace(col("s"),
          concat(lit(Sep), col(s"wl$r"), lit(Sep + Sep), col(s"wr$r"), lit(Sep)),
          concat(lit(Sep), col(s"wl$r"), col(s"wr$r"), lit(Sep))).as("s"): _*)
    cur
  }

  /** sample_stratified: docs kept per stratum. */
  private[graft] val SampleK = 5

  /** URL / email patterns — explicit character classes only, so the same
    * literal pattern is Java-regex and RE2 (DuckDB) compatible with no
    * escaping subtleties.
    */
  private val UrlRe = "https?://[A-Za-z0-9./?=&_%+#:-]+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"

  /** PII patterns for text_scrub_pii — same explicit-class discipline as
    * [[UrlRe]] (Java-regex and RE2 read them identically). Phone = E.164
    * (+ and 7–15 digits) or US dashed triplets. No single span matches
    * BOTH patterns (an IPv4 has dots where the dashed form has dashes,
    * and no leading +), but the classes are not fully independent: on
    * adversarial digit runs ('999-999-9999.1.2.3') the phone match can
    * CONSUME digits an IPv4 match would have spanned, so `n_ips` counted
    * on the original text can exceed the `<IP>` markers in the scrubbed
    * output. Both engines evaluate the same rule in the same order, so
    * the oracle compare is unaffected; the counts are defined as
    * "matches in the ORIGINAL text per class", not "redactions made".
    */
  private val PhoneRe = "(?:[+][0-9]{7,15}|[0-9]{3}[-][0-9]{3}[-][0-9]{4})"
  private val Ipv4Re = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** quality_perplexity thresholds. A bigram is RARE when its corpus
    * conditional probability C(w1 w2)/C(w1·) < 1/[[RareDen]]; a doc is
    * kept when its rare fraction ≤ [[KeepNum]]/[[KeepDen]]. Both gates
    * are evaluated as cross-multiplied BIGINT comparisons (the repo's
    * log-free determinism rule — quality_classifier's logit-gate shape),
    * so no float ever decides membership.
    */
  private[queries] val RareDen = 32L
  private val KeepNum = 3L
  private val KeepDen = 8L

  /** The eight mandatory English function words of the Gopher quality
    * rules (Rae et al. 2021, arXiv:2112.11446, Table A1): a document must
    * contain at least two DISTINCT words of this list to pass the
    * stop-word gate — the cheap "is this prose at all" test.
    */
  private[queries] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The `gopher_repetition` battery as a shuffle-free per-document scan.
    *
    * Repetition is a PER-DOCUMENT statistic — every gram and line a doc
    * emits lives in that doc's own row — so the battery needs NO corpus
    * exchange. Three spellings were measured before this one: five
    * independent explode+groupBy pipelines (r11 — five corpus scans,
    * five exchanges; sf10 30.6 s), one exploded (doc, n, gram) frame
    * built by flatten(array(transform(struct))) per row (five
    * interpreted HOF lambdas materializing every width's struct array
    * in-row before the explode: sf0.1 1.7 → 5.1 s), and a union of five
    * explodes over a checkpointed token table (one exchange, but at
    * sf10 it concentrates ~1.5 B (doc, n, gram) rows into the reducers'
    * hash state at once: 140 s, 19 s of GC). The native kernels
    * ([[graft.expressions.GopherGramStats]] / [[GopherLineStats]]) count
    * each doc's duplicates in a local hash map bounded by the doc's own
    * size — the query is scan + project + sort, codegen-resident, and
    * scales with corpus bytes alone. `tokens(text)` has exactly ONE
    * consumer (the gram kernel), so no checkpoint is needed to stop
    * CollapseProject from re-tokenizing. The unscorable-doc drop (< 10
    * tokens ⇒ no 10-gram; no non-empty line ⇒ empty line battery —
    * the oracle's inner-join semantics) reads the kernel outputs:
    * all10 = 0 ⇔ no 10-gram (a real gram's length is > 0), n_lines = 0 ⇔
    * no non-empty line. The filter sits ABOVE the kernel projection;
    * predicate pushdown rewrites it to a second kernel call below, so
    * the plan evaluates each kernel at most twice per row — still
    * linear, no exchange, and measured 8× under the union spelling at
    * sf10.
    */
  /** The [[graft.expressions.GramMultisetStats]] kernel over
    * `tokens(text)` as a Column — the shared spelling of the three
    * per-document multiset queries (doc_repetition, doc_fingerprint,
    * token_diversity).
    */
  private def multisetCol(n: Int, withMd5: Boolean) =
    graft.bridge.SparkInternals.column(
      graft.expressions.GramMultisetStats(
        graft.bridge.SparkInternals.expression(tokens(col("text"))), n, withMd5))

  private[queries] def gopherRepetitionFrame(s: SparkSession, dir: String): DataFrame = {
    val g = graft.bridge.SparkInternals.column(
      graft.expressions.GopherGramStats(
        graft.bridge.SparkInternals.expression(tokens(col("text")))))
    val ls = graft.bridge.SparkInternals.column(
      graft.expressions.GopherLineStats(
        graft.bridge.SparkInternals.expression(col("text"))))
    Tables(s, dir, "documents").filter(col("doc_id").isNotNull)
      .select(col("doc_id"), ls.as("ls"), g.as("g"))
      .filter(col("ls.n_lines") > 0L && col("g.all10") > 0L)
      .select(col("doc_id"), col("ls.n_lines").as("n_lines"),
        (col("ls.dup_lines") / col("ls.n_lines")).as("dup_line_frac"),
        (col("ls.dup_line_chars") / col("ls.line_chars")).as("dup_line_char_frac"),
        (col("g.top2") / col("g.all2")).as("top2_frac"),
        (col("g.top3") / col("g.all3")).as("top3_frac"),
        (col("g.top4") / col("g.all4")).as("top4_frac"),
        (col("g.dup5") / col("g.all5")).as("dup5_frac"),
        (col("g.dup10") / col("g.all10")).as("dup10_frac"),
        (col("ls.dup_lines") * 10L <= col("ls.n_lines") * 3L &&
          col("ls.dup_line_chars") * 5L <= col("ls.line_chars") &&
          col("g.top2") * 5L <= col("g.all2") &&
          col("g.top3") * 50L <= col("g.all3") * 9L &&
          col("g.top4") * 25L <= col("g.all4") * 4L &&
          col("g.dup5") * 20L <= col("g.all5") * 3L &&
          col("g.dup10") * 10L <= col("g.all10")).as("keep"))
      .orderBy("doc_id")
  }

  /** The `line_filter` frame (doc_id, text_filtered, n_lines, n_kept,
    * doc_kept), unordered — also the fourth gate of [[CurationQueries]]'
    * `pipeline_curate_full` (`doc_kept` is the RefinedWeb §G rule: the
    * line corrections removed > 5% of the doc's lines ⇒ drop the doc).
    */
  private[queries] def lineFilterFrame(s: SparkSession, dir: String): DataFrame = {
    // Native one-pass kernel ([[graft.expressions.LineFilterStats]]):
    // the declarative spelling — `filter(split(text, "\n"), l -> …)`
    // with two regexp_replace char-class strips per line plus an
    // array_join — was the catalog's #2 sf10 query (37.9 s) on
    // interpreted-lambda + regex-allocation constant factor alone (an
    // earlier attempt to bind lv/kept once via nested transforms
    // REGRESSED it 22.7 → 30.4 s — the binding dragged split/array_join
    // into interpreted evaluation). The kernel walks the UTF-8 bytes
    // once; the three field reads below share one evaluation via
    // codegen subexpression elimination (same expression instance).
    val f = graft.bridge.SparkInternals.column(
      graft.expressions.LineFilterStats(
        graft.bridge.SparkInternals.expression(col("text"))))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        f.getField("text_filtered").as("text_filtered"),
        f.getField("n_lines").as("n_lines"),
        f.getField("n_kept").as("n_kept"),
        ((f.getField("n_lines") - f.getField("n_kept")).cast("long") * 20 <=
          f.getField("n_lines").cast("long")).as("doc_kept"))
  }

  /** line_filter's oracle — ONE string, shared by its own entry and (as
    * a nested subquery) pipeline_curate_full's line gate.
    */
  private[queries] val lineFilterSql: String =
    // rule mirrored literally: blank OR (>10 chars AND has letters
    // AND NOT uppercase-majority); doc gate n_removed*20 <= n_lines
    """WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS lv FROM documents),
      |k AS (SELECT doc_id, lv,
      |        list_filter(lv, x -> length(x) = 0 OR (length(x) > 10
      |          AND length(regexp_replace(x, '[^A-Za-z]', '', 'g')) > 0
      |          AND 2 * length(regexp_replace(x, '[^A-Z]', '', 'g'))
      |            <= length(regexp_replace(x, '[^A-Za-z]', '', 'g')))) AS kept
      |      FROM l)
      |SELECT doc_id, array_to_string(kept, chr(10)) AS text_filtered,
      |  CAST(len(lv) AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept,
      |  (CAST(len(lv) - len(kept) AS BIGINT) * 20 <= CAST(len(lv) AS BIGINT)) AS doc_kept
      |FROM k ORDER BY doc_id""".stripMargin

  /** Per-occurrence bigram rows (doc_id, bg, w1) of the cleaned token
    * stream — [[shinglesN]] at n = 2, multiplicity KEPT (LM counts are
    * occurrence counts, unlike dedup's distinct shingle sets). w1 is the
    * text before the shingle's single separator space (tokens are
    * whitespace-split, so they contain none themselves). Docs with < 2
    * tokens have no bigram and drop out — unscorable under any LM.
    */
  private def bigramRows(docs: DataFrame): DataFrame = {
    val t = tokens(cleanLine(col("text")))
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(shinglesN(t, 2)).as("bg"))
      .select(col("doc_id"), col("bg"),
        substring_index(col("bg"), " ", 1).as("w1"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- language ID: stopword-count argmax, fixed tie-break order ----
    "lang_id" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("toks", tokens(cleanLine(col("text"))))
      val scored = Stopwords.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"sc_$lang", stopCount(col("toks"), words))
      }
      val Seq(en, de, fr, es) = Stopwords.map { case (l, _) => col(s"sc_$l") }
      val pred = when(en > 0 && en >= de && en >= fr && en >= es, "en")
        .when(de > 0 && de >= fr && de >= es, "de")
        .when(fr > 0 && fr >= es, "fr")
        .when(es > 0, "es")
        .otherwise("unknown")
      scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"),
          en.as("sc_en"), de.as("sc_de"), fr.as("sc_fr"), es.as("sc_es"))
        .orderBy("doc_id")
    }),

    // ---- quality score: alpha/stopword ratios + length fit ----
    // The composite score is [[qualityExpr]] — the same expression
    // curation_topk ranks by, factored so the two can never drift.
    "text_quality" -> ((s, dir) => {
      val p = qualityParts(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), p.nTok.as("n_tokens"), p.nChars.as("n_chars"),
          (p.nAlpha / p.nChars).as("alpha_ratio"), (p.nStop / p.nTok).as("stopword_ratio"),
          qualityExpr(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- CCNet-style model-free LM quality: rare-bigram fraction ----
    // The other half of the public quality recipe (Wenzek et al. 2019,
    // arXiv:1911.00359 — CCNet buckets docs by n-gram LM perplexity;
    // quality_classifier covers the fasttext half): score each document
    // against a corpus-level bigram LM. Log-free spelling of "high
    // perplexity": perplexity is driven by low-probability transitions,
    // so the signal is the FRACTION of a doc's bigrams whose conditional
    // probability C(w1 w2)/C(w1·) falls below 1/RareDen — a rational
    // from exact BIGINT counts, decided by cross-multiplication
    // (32·C(bg) < C(w1)), never by ln. C(w1·) is the first-position
    // occurrence count (the sum of C(w1 w2) over continuations), so the
    // conditional distribution sums to exactly 1 per w1. Keyword-salad
    // spam transitions are unpredictable under the corpus LM (high rare
    // fraction); natural repeated collocations are predictable (low).
    // Scale: the LM tables are corpus-derived aggregations — C2 is a
    // partial-aggregable count on (bigram), C1 a second-stage SUM over
    // the much smaller DISTINCT-bigram table, and the score join runs
    // UNhinted on vocabulary keys (decontaminate's rule: never broadcast
    // a corpus-derived side; AQE splits hot-bigram skew). The one float
    // division per doc happens after all gating.
    "quality_perplexity" -> ((s, dir) => {
      // The bigram-instance generator (tokenize + 2-shingles per doc) is
      // consumed twice — the LM count and the score join — with no
      // plan-level reuse (HOF generators are outside codegen subexpression
      // elimination), so it is materialized once; corpus-proportional ⇒
      // serialized storage, retire-at-drain lifecycle.
      val b = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(
          bigramRows(Tables(s, dir, "documents"))))
      // Rarity is a property of the DISTINCT bigram alone (32·C(bg) <
      // C(w1·)), so it is decided entirely on the vocabulary-scale
      // tables: c2 ⋈ c1 joins on w1 at distinct-bigram size and the
      // corpus-scale instance table joins ONCE on bg carrying a single
      // boolean. The former shape joined every instance row to c1 on w1
      // — a full extra corpus-scale shuffle on a hot-keyed column. c2 is
      // checkpointed (vocab-scale, deserialized) because both c1 and the
      // flag derive from it.
      val c2 = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.fresh(
          b.groupBy("bg").agg(count(lit(1)).as("c2"))))
      val c1 = c2.select(substring_index(col("bg"), " ", 1).as("w1"), col("c2"))
        .groupBy("w1").agg(sum("c2").as("c1"))
      val flag = c2
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(c1, "w1")
        .select(col("bg"), (col("c2") * RareDen < col("c1")).as("is_rare"))
      b.join(flag, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("is_rare"), 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"),
          (col("n_rare") * KeepDen <= col("n_bigrams") * KeepNum).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- token counting: whitespace vs BPE-ish regex vs distinct ----
    "token_stats" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0))).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_distinct_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- deterministic train/val/test split: a doc's assignment is a
    // pure function of its id (md5 prefix compared against hex
    // thresholds: 'cd' = 205/256 ≈ 80%, 'e6' = 230/256 ≈ 90%), so splits
    // are stable across reprocessing, partitioning, and engine — the
    // property `rand()`-based splitting loses the moment a pipeline rerun
    // reshuffles rows. String comparison on the hex prefix keeps the
    // oracle byte-identical with no base conversion. ----
    "sample_split" -> ((s, dir) => {
      val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
      Tables(s, dir, "documents")
        .select(col("doc_id"), h2.as("bucket"),
          when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // ---- exact-k stratified sampling (eval-set construction) ----
    // sample_split's md5 rule gives a FRACTION per doc; eval sets need
    // exactly k docs PER STRATUM (here: language), ranked by the same
    // deterministic md5 order so the sample is stable across runs,
    // partitionings and engines. A single per-stratum rank window is the
    // obvious spelling but funnels each stratum's whole corpus into one
    // task (strata are FEW — the window_rank contrast). Two phases
    // instead: rank within (stratum, 2-hex md5 shard) — 256 shards per
    // stratum, bounded partitions — keep k per shard (the stratum's true
    // top-k must be among them: each survivor beat everything in its own
    // shard), then rank the ≤ 256·k survivors per stratum. The stage-2
    // window still partitions by stratum, but over a DESIGN-bounded
    // input. Total order (md5, doc_id) is engine-identical; the oracle
    // states the one-window semantics.
    "sample_stratified" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("sample_key"))
        .withColumn("shard", substring(col("sample_key"), 1, 2))
      val w1 = Window.partitionBy("lang", "shard")
        .orderBy(col("sample_key"), col("doc_id"))
      val w2 = Window.partitionBy("lang")
        .orderBy(col("sample_key"), col("doc_id"))
      d.withColumn("srn", row_number().over(w1)).filter(col("srn") <= SampleK)
        .withColumn("rank", row_number().over(w2).cast("int"))
        .filter(col("rank") <= SampleK)
        .select(col("lang"), col("rank"), col("doc_id"), col("sample_key"))
        .orderBy("lang", "rank")
    }),

    // ---- PII/URL scrubbing (C4-style corpus hygiene): redact URLs and
    // email addresses, count what was removed. Pure projection; the
    // counts make redaction auditable (and oracle-checkable even when a
    // synthetic corpus contains no matches). ----
    "text_scrub" -> ((s, dir) => {
      val scrubbed = regexp_replace(
        regexp_replace(col("text"), UrlRe, "<URL>"), EmailRe, "<EMAIL>")
      Tables(s, dir, "documents")
        .select(col("doc_id"), scrubbed.as("scrubbed"),
          size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("n_urls"),
          size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction: phone numbers + IPv4 addresses ----
    // text_scrub's sibling for the personally-identifying classes a
    // public-corpus release scrubs (the C4/RefinedWeb hygiene step
    // alongside URL/email). Same posture: pure per-row regex projection,
    // shuffle-free, counts taken on the ORIGINAL text; patterns are
    // explicit character classes so Java regex and RE2 agree, and the
    // two classes are constructed non-overlapping so replacement order
    // cannot change the output. Like text_scrub, the rule stays
    // oracle-comparable even where the synthetic corpus carries no PII
    // (counts 0, text passes through); the crafted spec makes it fire.
    "text_scrub_pii" -> ((s, dir) => {
      val scrubbed = regexp_replace(
        regexp_replace(col("text"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>")
      Tables(s, dir, "documents")
        .select(col("doc_id"), scrubbed.as("scrubbed"),
          size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"))
        .orderBy("doc_id")
    }),

    // ---- RefinedWeb/MassiveText line-wise correction ----
    // The line-level hygiene pass of the RefinedWeb recipe (arXiv:
    // 2306.01116 §G, following MassiveText): drop lines that are
    // mainly uppercase (2·n_upper > n_alpha — menus/nav bars), carry
    // no letters at all (counters, page numbers, separators), or are
    // short (1–10 chars); blank lines are paragraph structure and
    // always pass (the text_dedup_lines convention). Then the
    // DOC-level correction: if the corrections removed more than 5%
    // of the document's lines, drop the whole document. Everything is
    // integer arithmetic — the 5% gate is n_removed·20 > n_lines, the
    // uppercase ratio 2·n_upper > n_alpha — so there is no float to
    // disagree on. Posture: pure per-row array filter, shuffle-free,
    // each rule independent of the others (no ordering semantics).
    // The uppercase rule cannot fire on the lowercase synthetic
    // corpus (like text_scrub's URLs); the crafted spec fires all
    // three and both sides of the 5% boundary.
    "line_filter" -> ((s, dir) => lineFilterFrame(s, dir).orderBy("doc_id")),

    // ---- repetition ratio (Gopher-style boilerplate signal): fraction of
    // a doc's 3-gram shingles accounted for by its single most frequent
    // shingle. High ratio = templated/repeated text. Same explode +
    // two-stage partial-agg shape as doc_fingerprint. ----
    "doc_repetition" -> ((s, dir) => {
      // per-document statistic ⇒ native multiset kernel, NO corpus
      // exchange (the gopher_repetition argument — see
      // [[graft.expressions.GramMultisetStats]]); n_items = 0 ⇔ < 3
      // tokens ⇔ the explode form's dropped doc
      val ms = multisetCol(3, withMd5 = false)
      Tables(s, dir, "documents")
        .select(col("doc_id"), ms.as("m"))
        .filter(col("m.n_items") > 0L)
        .select(col("doc_id"), col("m.max_c").as("top_count"),
          col("m.n_items").as("n_shingles"),
          (col("m.max_c") / col("m.n_items")).as("repetition_ratio"))
        .orderBy("doc_id")
    }),

    // ---- token diversity: Simpson index as a LOG-FREE entropy surrogate ----
    // The spam/templated-text signal entropy would give, without entropy's
    // ln(): Simpson's index = Σ (c_i/n)² is the probability two random
    // tokens collide — 1/n_distinct for uniform text, → 1 for one-token
    // spam. Spelled as exact BIGINT sums (Σ c_i², n) with ONE double
    // division at the end: integer aggregation is order-independent and
    // IEEE division exactly rounded, so the score is bit-identical on
    // both engines — the determinism rule that rules out ln()-based
    // entropy (libm-dependent) and float summation (order-dependent).
    // Per-document statistic ⇒ native multiset kernel at n = 1 (token
    // multiset), NO corpus exchange; n_items = 0 ⇔ tokenless ⇔ the
    // explode form's dropped doc (mirrored by the oracle).
    "token_diversity" -> ((s, dir) => {
      val ms = multisetCol(1, withMd5 = false)
      Tables(s, dir, "documents")
        .select(col("doc_id"), ms.as("m"))
        .filter(col("m.n_items") > 0L)
        .select(col("doc_id"), col("m.n_items").as("n_tokens"),
          col("m.n_distinct").as("n_distinct"),
          (col("m.sum_c2") / (col("m.n_items") * col("m.n_items"))).as("simpson"))
        .orderBy("doc_id")
    }),

    // ---- within-document repeated-line scrub (Gopher/RefinedWeb rule) ----
    // doc_repetition DETECTS boilerplate; this REMOVES it: every line
    // after the first occurrence of an identical line in the same
    // document is dropped (empty lines are kept — they are paragraph
    // structure, not boilerplate, and deduping them would fuse
    // paragraphs). Pure per-row array arithmetic: the line array is bound
    // once via the single-element transform (the shingles3 binding rule —
    // the filter lambda reads the lambda-bound `lv`, never re-splitting
    // the text per element), and the first-occurrence test is
    // array_position — an O(lines²) scan per DOCUMENT, bounded by the
    // document's own line count, never cross-row. Like text_scrub, the
    // rule is oracle-checkable even when the synthetic corpus has no
    // multi-line docs (the counts and pass-through text still compare);
    // the crafted spec supplies documents where it fires.
    "text_dedup_lines" -> ((s, dir) => {
      val kept = element_at(transform(array(split(col("text"), "\n")), lv =>
        filter(lv, (l, i) =>
          length(l) === 0 || array_position(lv, l) === i + 1)), 1)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          array_join(kept, "\n").as("text_dedup"),
          size(split(col("text"), "\n")).as("n_lines"),
          size(kept).as("n_kept"))
        .orderBy("doc_id")
    }),

    // ---- CROSS-document repeated-span removal (C4/Lee-et-al rule) ----
    // text_dedup_lines scrubs repeats WITHIN one document; this is the
    // corpus-wide form — the single most-cited exact-dedup scrub in
    // public training-data recipes (C4 removes any span occurring more
    // than once in the corpus; Lee et al. 2021, arXiv:2107.06499, dedups
    // exact substrings corpus-wide): every occurrence of a line after
    // its FIRST occurrence anywhere in the corpus is dropped, first =
    // min (doc_id, line_id) — keep-first, dedup_chunk_exact's canon rule
    // at line granularity (the token-window sibling is scrub_chunks).
    // Blank lines are paragraph structure, not boilerplate: always kept.
    // Shape: the span unit's hash group is hot BY CONSTRUCTION (a
    // license block in millions of docs is one md5 group), so the canon
    // election is the partial-aggregable groupBy min + join-back
    // — never a Window funnel — and the join back on the line hash is a
    // plain shuffle join with AQE skew splitting available. Reassembly
    // groups by doc_id: collect_list is bounded by the document's own
    // line count (the same bound as the text row itself), sorted by
    // line_id so the output is partitioning-independent.
    "text_dedup_spans" -> ((s, dir) => {
      val l = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .select(col("doc_id"), col("pos").cast("int").as("line_id"),
          col("col").as("line"))
        .withColumn("lh", md5(col("line")))
      // Canon packed into one long (doc_id·2²⁴ + line_id) — min(struct)
      // has no mutable codegen buffer and plans a SortAggregate that
      // sorts the corpus-scale line table; the packed long min is a
      // codegen'd HashAggregate. Identical order while line_id < 2²⁴
      // (a 16M-line document breaks single-row handling first).
      val lineKey = shiftleft(col("doc_id"), 24) + col("line_id")
      val canon = l.filter(length(col("line")) > 0)
        .groupBy("lh")
        .agg(min(lineKey).as("ck"))
      val flagged = l.join(canon, Seq("lh"), "left")
        .withColumn("keep",
          length(col("line")) === 0 || (lineKey === col("ck")))
      flagged.groupBy("doc_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("line_id"), col("line"))))),
            x => x.getField("line")), "\n").as("text_dedup"),
          count(lit(1)).cast("int").as("n_lines"),
          sum(when(col("keep"), 1).otherwise(0)).cast("int").as("n_kept"))
        .orderBy("doc_id")
    }),

    // ---- CROSS-document repeated TOKEN-SPAN removal (Lee et al. 2021) ----
    // text_dedup_spans removes repeated LINES; this is the overlapping
    // token-window form of the same corpus-wide rule — the granularity
    // Lee et al. (arXiv:2107.06499) actually dedup at: every SpanW-token
    // window starting at each token position is hashed, a span occurring
    // more than once anywhere in the corpus keeps only its FIRST
    // occurrence (min (doc_id, pos) — the keep-first canon), and every
    // token covered by a NON-canonical occurrence of any duplicated span
    // is dropped; the document is reassembled from surviving tokens in
    // position order (token-level rewrite: original inter-token
    // whitespace is not preserved, which is the published rule's contract
    // — it operates on token sequences). A token under both a canonical
    // occurrence of one span and a non-canonical occurrence of another is
    // dropped — the rule is a deterministic union of masks, not an
    // interval-scheduling problem. One-pass by design: removal can
    // create new adjacencies, so the rule is defined on the ORIGINAL
    // token sequence (no idempotence claim — mirrors the reference
    // implementations, which cut byte ranges of the original corpus).
    // Scale posture: span rows = token rows (each position starts one
    // span) — linear; the duplicated-span group is hot BY CONSTRUCTION
    // (a license block in millions of docs is ONE hash group), so the
    // canon election is the partial-aggregable groupBy min —
    // never a Window — and the mask explode is a fixed ×SpanW, with the
    // per-doc reassembly bounded by the doc's own token count.
    "text_dedup_token_spans" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").filter(col("doc_id").isNotNull)
      // The BPE tokenization (a regexp_extract_all pass over every byte
      // of the corpus) feeds THREE consumers — the span generator, the
      // surviving-token reassembly, and the n_tokens output column — and
      // Catalyst gives separate invocations no subplan reuse, so without
      // a floor the corpus is tokenized three times. Materialize the
      // token arrays once (corpus-proportional ⇒ serialized storage,
      // retire-at-drain lifecycle).
      val toks = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(
          d.select(col("doc_id"), tokens(col("text")).as("t"))))
      // The span-hash table is consumed twice (the duplicate-group
      // aggregation and the canon-elimination join) — BOTH keyed on
      // `sh`, so the checkpoint is written PRE-PARTITIONED on `sh`:
      // LogicalRDD preserves outputPartitioning (the CC-loop edge-frame
      // trick), so the groupBy needs no exchange and the join's span
      // side arrives co-partitioned — one corpus-scale shuffle where
      // the un-partitioned spelling paid three (checkpoint scan →
      // agg exchange + join exchange). Corpus-proportional (one row per
      // token position) ⇒ serialized storage.
      val spans = graft.operators.Checkpoints.retire(
        graft.operators.Checkpoints.corpusScaled(toks
          .select(col("doc_id"), posexplode(shinglesN(col("t"), SpanW)))
          .select(col("doc_id"), col("pos").cast("int").as("pos"),
            md5(col("col")).as("sh"))
          .repartition(col("sh"))))
      // The canon is packed into ONE long — doc_id·2²⁴ + pos — instead of
      // min(struct(doc_id, pos)): struct min has no mutable codegen buffer
      // so Catalyst plans a SortAggregate, which SORTS the corpus-scale
      // span table per partition before the partial agg; the packed long
      // min is a plain HashAggregate (codegen'd, map-side partial, no
      // sort). Lexicographically identical while 0 ≤ pos < 2²⁴ — a 16M-
      // token document breaks single-row handling long before this bound.
      val spanKey = shiftleft(col("doc_id"), 24) + col("pos")
      val dup = spans.groupBy("sh")
        .agg(count(lit(1)).as("n"), min(spanKey).as("ck"))
        .filter(col("n") > 1)
        .select("sh", "ck")
      val bad = spans.join(dup, Seq("sh"))
        .filter(spanKey =!= col("ck"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + lit(SpanW - 1))).as("tpos"))
        .distinct()
      val kept = toks
        .select(col("doc_id"), posexplode(col("t")))
        .select(col("doc_id"), col("pos").cast("int").as("tpos"),
          col("col").as("tok"))
        .join(bad, Seq("doc_id", "tpos"), "left_anti")
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok")), " ").as("scrubbed"),
          count(lit(1)).cast("int").as("n_kept"))
      toks.select(col("doc_id"),
          size(col("t")).cast("int").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("scrubbed"), lit("")).as("text_dedup"),
          col("n_tokens"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"))
        .orderBy("doc_id")
    }),

    // ---- document fingerprint: min md5 over 3-token shingles ----
    // Per-document statistic ⇒ native multiset kernel with the md5
    // minimum computed at first occurrence of each distinct shingle
    // (min over distinct = min over all), NO corpus exchange; digest
    // bytes compare unsigned, which IS the hex-string order the oracle
    // sorts. n_items = 0 ⇔ < 3 tokens ⇔ the explode form's dropped doc.
    "doc_fingerprint" -> ((s, dir) => {
      val ms = multisetCol(3, withMd5 = true)
      Tables(s, dir, "documents")
        .select(col("doc_id"), ms.as("m"))
        .filter(col("m.n_items") > 0L)
        .select(col("doc_id"), col("m.min_md5").as("fingerprint"),
          col("m.n_items").as("n_shingles"),
          col("m.n_distinct").as("n_distinct_shingles"))
        .orderBy("doc_id")
    }),

    // ---- winnowing fingerprints (Schleimer et al. 2003, the MOSS rule) ----
    // doc_fingerprint keeps ONE hash per doc (the global min); winnowing
    // keeps the min of EVERY sliding window of [[WinnowW]] consecutive
    // shingle hashes — the local-min selection that guarantees any shared
    // run of ≥ W+k−1 tokens yields at least one shared fingerprint,
    // however the run is positioned (the guarantee threshold, §2 of the
    // paper). That positional robustness is what doc-level sketches lack
    // and chunk hashing only approximates. Per-row O(n·W) array work,
    // doc_chunks_cdc's accepted precedent — shuffle-free; distinct-ness
    // is per-doc (array_distinct before the explode), so the output
    // relation is the (doc, fingerprint) postings table dedup_winnowing
    // pairs on. Shorter-than-W docs keep their single all-hash min
    // (standard degenerate window); shingle-less docs drop out.
    "doc_winnowing" -> ((s, dir) =>
      winnowFps(s, dir).orderBy("doc_id", "fp")),

    // ---- Gopher document-quality gates (Rae et al. 2021, Table A1) ----
    // The doc-level heuristic battery the Gopher/MassiveText recipe runs
    // BEFORE any model-based scoring: word count in [50, 100k], mean word
    // length in [3, 10], symbol-to-word ratio ('#' / '...') <= 0.1, <= 90%
    // of lines bullet-led, <= 30% ellipsis-ended, >= 80% of words contain
    // a letter, and >= 2 distinct [[GopherStops]]. Every gate is a
    // cross-multiplied BIGINT comparison (the repo's float rule — no
    // ratio is ever materialized to decide), the whole battery is one
    // shuffle-free projection, and the per-gate counts are emitted so a
    // curation run can audit WHICH rule fired. The synthetic corpus's
    // lowercase prose exercises the word-count/word-length/stop-word
    // gates; the bullet/ellipsis/symbol rules need the crafted spec to
    // fire (text_scrub's URL precedent).
    "gopher_quality" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val lv = split(col("text"), "\n")
      val nTok = size(toks).cast("long")
      val tokChars = aggregate(toks, lit(0L), (a, t) => a + length(t))
      val nSym = size(regexp_extract_all(col("text"), lit("#|[.][.][.]"), lit(0))).cast("long")
      val nLines = size(lv).cast("long")
      val nBullet = size(filter(lv, l => l.rlike("^[-*]"))).cast("long")
      val nEll = size(filter(lv, l => l.rlike("[.][.][.]$"))).cast("long")
      val nAlphaW = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
      val nStopD = size(array_distinct(filter(toks, t =>
        t.isin(GopherStops.map(_.asInstanceOf[Any]): _*)))).cast("long")
      Tables(s, dir, "documents")
        .select(col("doc_id"), nTok.as("n_tokens"), tokChars.as("tok_chars"),
          nSym.as("n_sym"), nLines.as("n_lines"), nBullet.as("n_bullet"),
          nEll.as("n_ellipsis"), nAlphaW.as("n_alpha_words"),
          nStopD.as("n_stops"),
          (nTok >= 50L && nTok <= 100000L &&
            tokChars >= nTok * 3L && tokChars <= nTok * 10L &&
            nSym * 10L <= nTok &&
            nBullet * 10L <= nLines * 9L &&
            nEll * 10L <= nLines * 3L &&
            nAlphaW * 5L >= nTok * 4L &&
            nStopD >= 2L).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- Gopher repetition battery (Rae et al. 2021, Table A1) ----
    // doc_repetition emits ONE signal (top-3-gram count share); this is
    // the paper's full removal battery: duplicate-line fraction and
    // duplicate-line CHAR fraction (lines beyond their first occurrence,
    // empty lines excluded as paragraph structure), top-n-gram char
    // concentration for n = 2, 3, 4, and duplicate-n-gram char fraction
    // for n = 5 and 10 (the two ends of the paper's 5..10 range — the
    // interior ns are the same plan with a different constant). Char
    // fractions are OCCURRENCE-weighted (sum of c·len(gram) over the
    // doc's grams) rather than the paper's char-position marking —
    // overlapping occurrences count per occurrence, a documented
    // simplification that keeps every fraction a ratio of two exact
    // BIGINT sums (and both mirrors trivially identical). The keep gate
    // cross-multiplies the paper's thresholds (0.30/0.20/0.20/0.18/0.16/
    // 0.15/0.10) on the integer sums — no float decides. Scale: see
    // [[gopherRepetitionFrame]] — per-document native kernels, no
    // corpus exchange; docs with < 10 tokens or no non-empty line are
    // unscorable and drop, mirrored by the oracle's inner joins.
    "gopher_repetition" -> ((s, dir) => gopherRepetitionFrame(s, dir)),

    // ---- per-source corpus roll-up: the curation dashboard ----
    // One row per corpus source with the aggregates a mix/curation
    // decision reads: doc count, distinct languages, token/char volume,
    // and corpus-level alpha/stop-word ratios. The float-determinism
    // rule shapes the spelling: a naive avg(quality) SUMS DOUBLES
    // (order-dependent across partitions — not reproducible), so the
    // ratios are computed from exact BIGINT component sums with ONE
    // double division per ratio at the very end. Single
    // partial-aggregable groupBy on source; count(distinct lang) expands
    // over a statically tiny language space.
    "source_stats" -> ((s, dir) => {
      val p = qualityParts(col("text"))
      Tables(s, dir, "documents")
        .select(col("source"), col("lang"), p.nTok.as("ntok"), p.nChars.as("nch"),
          p.nAlpha.as("nal"), p.nStop.as("nst"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum("ntok").as("n_tokens"),
          sum("nch").as("n_chars"),
          sum("nal").as("n_alpha"),
          sum("nst").as("n_stop"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("n_tokens"), col("n_chars"), col("n_alpha"), col("n_stop"),
          (col("n_alpha") / col("n_chars")).as("alpha_ratio"),
          (col("n_stop") / col("n_tokens")).as("stop_ratio"),
          (col("n_tokens") / col("n_docs")).as("mean_tokens"))
        .orderBy("source")
    }),

    // ---- per-source token-distribution drift vs the rest of the corpus ----
    // The monitoring operator a mix decision and a crawl-health dashboard
    // read: hash every token into a fixed 256-bucket space (2 md5 hex
    // chars — cross-engine exact, quality_classifier's trick) and compare
    // each source's bucket histogram against the REST of the corpus with
    // the two-sample chi-square per-bucket contribution
    // (nₛ·T_r − n_r·Tₛ)² / (Tₛ·T_r·(nₛ+n_r)). Counts are exact BIGINTs;
    // the contribution is computed in DOUBLE per ROW (products overflow
    // BIGINT at corpus scale) — emitted per (source, bucket) precisely so
    // NO cross-row float sum exists anywhere (a total chi² would be
    // partition-order-dependent; the consumer can rank buckets or sum at
    // display time). Output is sources × ≤256 rows whatever the corpus
    // size: the grid crossJoin multiplies two AGGREGATED bounded frames,
    // the only corpus-scale stage is the one partial-aggregable
    // (source, bucket) count.
    "source_drift" -> ((s, dir) => {
      val cnt = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
        .select(col("source"), explode(tokens(cleanLine(col("text")))).as("term"))
        .select(col("source"),
          conv(substring(md5(col("term")), 1, 2), 16, 10).cast("int").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
      val bTot = cnt.groupBy("bucket").agg(sum(col("n")).as("nb"))
      val sTot = cnt.groupBy("source").agg(sum(col("n")).as("ts"))
      val grand = cnt.agg(sum(col("n")).as("tall"))
      // the grid's bucket axis is spark.range(256) — the SAME fixed space
      // the hash projects into, but STATICALLY bounded (maxRows visible
      // to the no-unconditioned-join audit; bTot alone is bounded only by
      // construction). The inner equi-join back to bTot keeps exactly the
      // buckets present in the corpus, so the output is unchanged.
      val buckets = s.range(256).select(col("id").cast("int").as("bucket"))
      val g = sTot.crossJoin(broadcast(buckets))
        .join(bTot, Seq("bucket"))
        .crossJoin(broadcast(grand))
        .join(cnt, Seq("source", "bucket"), "left")
        .withColumn("n_src", coalesce(col("n"), lit(0L)))
        .withColumn("n_rest", col("nb") - col("n_src"))
        .withColumn("t_rest", col("tall") - col("ts"))
      val (nD, nrD) = (col("n_src").cast("double"), col("n_rest").cast("double"))
      val (tsD, trD) = (col("ts").cast("double"), col("t_rest").cast("double"))
      val diff = (nD * trD) - (nrD * tsD)
      // single-source corpus degrade (r9 advisory): t_rest = 0 makes the
      // chi-square denominator 0 and the contribution 0/0 = NaN in BOTH
      // engines — emit 0.0 (a lone source has nothing to drift from)
      val contrib = when(col("t_rest") === 0, lit(0.0))
        .otherwise((diff * diff) / ((tsD * trD) * (nD + nrD)))
      g.select(col("source"), col("bucket"), col("n_src"), col("n_rest"),
          col("ts").as("t_src"), col("t_rest"), contrib.as("contrib"))
        .orderBy("source", "bucket")
    }),

    // ---- BPE merge statistics: top adjacent-symbol-pair frequencies ----
    // The inner loop of byte-pair-encoding tokenizer TRAINING at corpus
    // scale: count every adjacent pair of pre-tokens (the [[BpeRegex]]
    // alphabet token_stats already exposes) and rank the merge
    // candidates — the highest-count pair is the merge BPE would apply
    // next. One linear pass: the zip of a token list with its own tail
    // is a projection (rows ≈ tokens, no shuffle), pair counting is a
    // partial-aggregable groupBy (map-side combine eats the Zipf head
    // before the exchange), and the top-k is TakeOrderedAndProject —
    // never a global sort. The rank window runs AFTER the limit, over
    // [[BpeTopK]] rows — bounded by design. Ordering is total
    // (n DESC, lhs, rhs), so the boundary is deterministic on both
    // engines; production would loop this query, applying the winning
    // merge between rounds — each round is this same plan.
    "bpe_pair_counts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(regexp_extract_all(col("text"), lit(BpeRegex), lit(0)).as("tv"))
        .filter(size(col("tv")) >= 2)
        .select(explode(zip_with(
          slice(col("tv"), lit(1), size(col("tv")) - 1),
          slice(col("tv"), lit(2), size(col("tv")) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
        .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      val w = Window.orderBy(col("n").desc, col("lhs"), col("rhs"))
      pairs.groupBy("lhs", "rhs").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(BpeTopK)
        .withColumn("rank", row_number().over(w).cast("int"))
        .select(col("rank"), col("lhs"), col("rhs"), col("n"))
        .orderBy("rank")
    }),

    // ---- iterated BPE training: BpeRounds merges, each applied ----
    // bpe_pair_counts is ONE training round; the tokenizer loop applies
    // the winning merge and recounts (Sennrich et al., arXiv:1508.07909
    // alg. 1). The merge APPLICATION — greedy left-to-right, non-
    // overlapping, the reference BPE semantics — is expressed in the
    // STRING domain so it stays a linear projection: the token list is
    // framed as SEP·t1·SEP SEP·t2·SEP… (every token wrapped in \x1F
    // delimiters, [[BpeMergeRegex]] reserves the delimiter char from the
    // alphabet, so a match is token-aligned by construction), and one
    // literal `replace(s, ·L··R·, ·LR·)` per round IS the greedy pass:
    // both engines' replace scans left-to-right and resumes after each
    // match, which for the only self-overlapping pattern (L = R runs)
    // picks exactly BPE's alternate pairing. Per round: one corpus-string
    // materialization ([[graft.operators.Checkpoints]] — the frame feeds
    // both the pair count and the next round, and without it the lineage
    // re-derives round r from scratch 2^(N-r) times), one map-side-
    // combined pair count, one TakeOrderedAndProject(1) winner — no
    // corpus shuffle anywhere, so the N-round loop is N linear passes at
    // 100 TB. The winner crossJoin is a 1-row broadcast (the nTrue
    // precedent); an exhausted corpus (no pairs left) simply stops
    // emitting rounds on both engines.
    "bpe_merges" -> ((s, dir) =>
      bpeWinners(s, dir).orderBy("round")),

    // ---- the tokenizer artifact: every trained merge APPLIED ----
    // bpe_merges emits the merge TABLE; the consumer-facing output of a
    // BPE train is the post-merge symbol vocabulary with counts — what
    // a tokenizer ships and what the training loop's "corpus size in
    // symbols" progress number reads from. The apply-only pass is
    // strictly cheaper than training: the winners come from the
    // session-cached merge table ([[bpeWinners]] — BpeRounds 1-row
    // broadcasts, the bpe_merges winner-crossJoin shape), so applying
    // all N merges is N chained literal `replace` projections in ONE
    // whole-stage-codegen pass over the corpus — no pair counting, no
    // per-round checkpoint (each round's corpus feeds ONLY the next
    // round here, so there is no lineage fan-out to materialize
    // against), no shuffle until the final symbol count (map-side-
    // combined hash aggregate). The apply chain is [[bpeApply]] (shared
    // with bpe_encode) over the GUARDED merge table
    // ([[bpeWinnersChecked]] — an exhausted training run fails loudly
    // instead of silently emitting an empty vocabulary).
    "bpe_vocab" -> ((s, dir) => {
      val Sep = "\u001F"
      val framed = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(bpeFrame(col("text")).as("s"))
      bpeApply(framed, Seq.empty, bpeWinnersChecked(s, dir))
        .select(explode(split(expr("substring(s, 2, length(s) - 2)"), Sep + Sep))
          .as("symbol"))
        .filter(col("symbol") =!= "")
        .groupBy("symbol").agg(count(lit(1)).as("n"))
        .orderBy("symbol")
    }),

    // ---- the tokenizer's consumer-facing contract: encode UNSEEN text ----
    // bpe_vocab tokenizes the training corpus; what a tokenizer actually
    // ships is encode(new text) with the FROZEN merge table (Sennrich et
    // al., arXiv:1508.07909 §3: apply the learned operations, no new
    // learning at test time). Here the merges are trained on `documents`
    // (the session-cached [[bpeWinners]] table — the freeze) and applied
    // to `part.p_name` — text the training loop never saw — through the
    // SAME [[bpeApply]] chain bpe_vocab uses: one delimiter-framed
    // projection, N chained literal replaces in one codegen pass, no
    // shuffle at all (the output is per-row; the orderBy is the
    // determinism contract, not a compute stage). Emits the encoded
    // symbol stream as a space-joined STRING — symbols never contain
    // spaces ([[BpeMergeRegex]]'s classes exclude them) so the join is
    // lossless, and never an ARRAY column (the driver-gate rule) — plus
    // the symbol count. At 100 TB this is the tokenize stage of a
    // training-data pipeline: embarrassingly parallel, scan-bound, the
    // BpeRounds-row merge table broadcast once.
    "bpe_encode" -> ((s, dir) => {
      val Sep = "\u001F"
      val framed = Tables(s, dir, "part")
        .filter(col("p_partkey").isNotNull)
        .select(col("p_partkey"), bpeFrame(col("p_name")).as("s"))
      bpeApply(framed, Seq("p_partkey"), bpeWinnersChecked(s, dir))
        .select(col("p_partkey"),
          array_join(split(expr("substring(s, 2, length(s) - 2)"), Sep + Sep), " ")
            .as("enc"))
        .select(col("p_partkey"), col("enc"),
          when(col("enc") === "", lit(0))
            .otherwise(size(split(col("enc"), " "))).cast("int").as("n_symbols"))
        .orderBy("p_partkey")
    })
  )

  def oracles: Map[String, String] = {
    val toksClean = tokensSql(cleanLineSql("text"))
    val toksRaw = tokensSql("text")
    def stopSql(t: String, words: Seq[String]): String =
      s"len(list_filter($t, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"

    Map(
      "lang_id" -> {
        val scores = Stopwords.map { case (l, ws) => s"${stopSql("toks", ws)} AS sc_$l" }.mkString(", ")
        s"""WITH scored AS (
           |  SELECT doc_id, lang, $scores FROM (
           |    SELECT doc_id, lang, $toksClean AS toks FROM documents))
           |SELECT doc_id, lang,
           |  CASE WHEN sc_en > 0 AND sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
           |       WHEN sc_de > 0 AND sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
           |       WHEN sc_fr > 0 AND sc_fr >= sc_es THEN 'fr'
           |       WHEN sc_es > 0 THEN 'es'
           |       ELSE 'unknown' END AS pred_lang,
           |  CAST(sc_en AS INT) AS sc_en, CAST(sc_de AS INT) AS sc_de,
           |  CAST(sc_fr AS INT) AS sc_fr, CAST(sc_es AS INT) AS sc_es
           |FROM scored ORDER BY doc_id""".stripMargin
      },

      "text_quality" -> {
        val p = qualityPartsSql("text")
        s"""SELECT doc_id,
           |  ${p.nTok} AS n_tokens,
           |  ${p.nChars} AS n_chars,
           |  ${p.nAlpha} / ${p.nChars} AS alpha_ratio,
           |  ${p.nStop} / ${p.nTok} AS stopword_ratio,
           |  $qualitySqlExpr AS quality
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      },

      "quality_perplexity" ->
        // bigram rows via the bound-token shinglesNSql idiom (n = 2);
        // both SUMs cast back to BIGINT (DuckDB widens SUM(BIGINT) to
        // HUGEINT — the corpus_mix_tokens lesson); the keep gate is the
        // same cross-multiplied integer comparison as the Spark side
        s"""WITH b AS (SELECT doc_id, unnest(${shinglesNSql("t", 2)}) AS bg
           |           FROM (SELECT doc_id, $toksClean AS t FROM documents
           |                 WHERE doc_id IS NOT NULL)),
           |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1),
           |c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
           |         CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
           |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |         CAST(SUM(CASE WHEN c2.c2 * $RareDen < c1.c1
           |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
           |       FROM b JOIN c2 USING (bg)
           |              JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
           |       GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, n_rare,
           |  CAST(n_rare AS DOUBLE) / n_bigrams AS rare_frac,
           |  n_rare * $KeepDen <= n_bigrams * $KeepNum AS keep
           |FROM sc ORDER BY doc_id""".stripMargin,

      "token_stats" ->
        s"""SELECT doc_id,
           |  CAST(len($toksRaw) AS INT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '$BpeRegex')) AS INT) AS n_bpe_tokens,
           |  CAST(len(list_distinct($toksRaw)) AS INT) AS n_distinct_tokens,
           |  CAST(length(text) AS INT) AS n_chars
           |FROM documents ORDER BY doc_id""".stripMargin,

      "sample_split" ->
        """SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
          |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
          |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM documents ORDER BY doc_id""".stripMargin,

      "sample_stratified" ->
        s"""SELECT lang, CAST(rn AS INT) AS rank, doc_id, sample_key FROM (
           |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS sample_key,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL)
           |WHERE rn <= $SampleK ORDER BY lang, rank""".stripMargin,

      "text_scrub" ->
        s"""SELECT doc_id,
           |  regexp_replace(regexp_replace(text, '$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g') AS scrubbed,
           |  CAST(len(regexp_extract_all(text, '$UrlRe')) AS INT) AS n_urls,
           |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails
           |FROM documents ORDER BY doc_id""".stripMargin,

      "text_scrub_pii" ->
        s"""SELECT doc_id,
           |  regexp_replace(regexp_replace(text, '$PhoneRe', '<PHONE>', 'g'), '$Ipv4Re', '<IP>', 'g') AS scrubbed,
           |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
           |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS INT) AS n_ips
           |FROM documents ORDER BY doc_id""".stripMargin,

      "line_filter" -> lineFilterSql,

      "doc_repetition" ->
        s"""SELECT doc_id, CAST(max(c) AS BIGINT) AS top_count,
           |  CAST(sum(c) AS BIGINT) AS n_shingles,
           |  CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS repetition_ratio
           |FROM (
           |  SELECT doc_id, s, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT doc_id,
           |      unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           |    FROM (SELECT doc_id, $toksRaw AS t FROM documents))
           |  GROUP BY doc_id, s)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "token_diversity" ->
        s"""SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(sum(c*c) AS BIGINT)
           |    / (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS simpson
           |FROM (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
           |      FROM (SELECT doc_id, unnest($toksRaw) AS w FROM documents)
           |      GROUP BY doc_id, w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "text_dedup_lines" ->
        // DuckDB's list_filter index lambda is 1-based (Spark's is
        // 0-based, hence the i+1 there); list_position = array_position,
        // both 1-based first occurrence
        """WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS lv FROM documents),
          |k AS (SELECT doc_id, lv,
          |        list_filter(lv, (x, i) -> len(x) = 0 OR list_position(lv, x) = i) AS kept
          |      FROM l)
          |SELECT doc_id, array_to_string(kept, chr(10)) AS text_dedup,
          |  CAST(len(lv) AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept
          |FROM k ORDER BY doc_id""".stripMargin,

      "text_dedup_spans" ->
        // positions via the lateral unnest(range) idiom (chunksSqlRel's);
        // the keep-first election is the g/g2 two-step min spelling
        // (dedup_chunk_exact's oracle), reassembly is string_agg with an
        // in-aggregate ORDER BY (NULL inputs — dropped lines — skipped)
        """WITH l AS (SELECT doc_id, CAST(i AS INT) - 1 AS line_id,
          |             lv[i] AS line, md5(lv[i]) AS lh
          |           FROM (SELECT doc_id, lv, unnest(range(1, len(lv)+1)) AS i
          |                 FROM (SELECT doc_id, string_split(text, chr(10)) AS lv
          |                       FROM documents WHERE doc_id IS NOT NULL))),
          |g AS (SELECT lh, min(doc_id) AS cd FROM l
          |      WHERE len(line) > 0 GROUP BY 1),
          |g2 AS (SELECT g.lh, g.cd, min(l.line_id) AS cl
          |       FROM g JOIN l ON l.lh = g.lh AND l.doc_id = g.cd
          |       GROUP BY 1, 2),
          |k AS (SELECT l.doc_id, l.line_id, l.line,
          |        (len(l.line) = 0 OR (g2.cd = l.doc_id AND g2.cl = l.line_id)) AS keep
          |      FROM l LEFT JOIN g2 ON l.lh = g2.lh)
          |SELECT doc_id,
          |  COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY line_id), '') AS text_dedup,
          |  CAST(count(*) AS INT) AS n_lines,
          |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "text_dedup_token_spans" ->
        // same building blocks as text_dedup_spans' oracle at token
        // granularity: positions via the two-level unnest(range) idiom,
        // keep-first as the g/g2 two-step min, the token mask as a
        // second unnest(range) over each bad occurrence's window, and
        // string_agg reassembly with in-aggregate ORDER BY
        s"""WITH t0 AS (SELECT doc_id, $toksRaw AS t FROM documents
           |            WHERE doc_id IS NOT NULL),
           |s0 AS (SELECT doc_id, ${shinglesNSql("t", SpanW)} AS shl
           |       FROM (SELECT doc_id, t FROM t0)),
           |sp AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos, md5(shl[i]) AS sh
           |       FROM (SELECT doc_id, shl, unnest(range(1, len(shl)+1)) AS i
           |             FROM s0)),
           |g AS (SELECT sh, min(doc_id) AS cd FROM sp
           |      GROUP BY 1 HAVING count(*) > 1),
           |g2 AS (SELECT g.sh, g.cd, min(sp.pos) AS cp
           |       FROM g JOIN sp ON sp.sh = g.sh AND sp.doc_id = g.cd
           |       GROUP BY 1, 2),
           |bad AS (SELECT DISTINCT doc_id, CAST(tp AS INT) AS tpos FROM (
           |        SELECT sp.doc_id, unnest(range(sp.pos, sp.pos + $SpanW)) AS tp
           |        FROM sp JOIN g2 ON sp.sh = g2.sh
           |        WHERE NOT (g2.cd = sp.doc_id AND g2.cp = sp.pos))),
           |tok AS (SELECT doc_id, CAST(i AS INT) - 1 AS tpos, t[i] AS tok
           |        FROM (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i
           |              FROM t0)),
           |k AS (SELECT tok.doc_id,
           |        string_agg(tok.tok, ' ' ORDER BY tok.tpos) AS scrubbed,
           |        CAST(count(*) AS INT) AS n_kept
           |      FROM tok LEFT JOIN bad
           |        ON tok.doc_id = bad.doc_id AND tok.tpos = bad.tpos
           |      WHERE bad.tpos IS NULL GROUP BY 1)
           |SELECT t0.doc_id, COALESCE(k.scrubbed, '') AS text_dedup,
           |  CAST(len(t0.t) AS INT) AS n_tokens,
           |  COALESCE(k.n_kept, 0) AS n_kept
           |FROM t0 LEFT JOIN k ON t0.doc_id = k.doc_id
           |ORDER BY t0.doc_id""".stripMargin,

      "doc_fingerprint" ->
        s"""SELECT doc_id, min(md5(s)) AS fingerprint,
           |  CAST(count(*) AS BIGINT) AS n_shingles,
           |  CAST(count(DISTINCT s) AS BIGINT) AS n_distinct_shingles
           |FROM (
           |  SELECT doc_id,
           |    unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           |  FROM (SELECT doc_id, $toksRaw AS t FROM documents))
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "doc_winnowing" ->
        s"""$winnowFpsSql
           |ORDER BY doc_id, fp""".stripMargin,

      "gopher_quality" -> {
        val inList = GopherStops.map(w => s"'$w'").mkString(",")
        // counts in an inner SELECT, gates in the outer (no same-SELECT
        // alias references); COALESCE because list_sum([]) is NULL where
        // Spark's aggregate() returns its 0 seed
        s"""WITH cnt AS (SELECT doc_id,
           |  CAST(len(t) AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS tok_chars,
           |  CAST(len(regexp_extract_all(text, '#|[.][.][.]')) AS BIGINT) AS n_sym,
           |  CAST(len(lv) AS BIGINT) AS n_lines,
           |  CAST(len(list_filter(lv, x -> regexp_matches(x, '^[-*]'))) AS BIGINT) AS n_bullet,
           |  CAST(len(list_filter(lv, x -> regexp_matches(x, '[.][.][.]$$'))) AS BIGINT) AS n_ellipsis,
           |  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
           |  CAST(len(list_distinct(list_filter(t, x -> x IN ($inList)))) AS BIGINT) AS n_stops
           |FROM (SELECT doc_id, text, $toksRaw AS t,
           |        string_split(text, chr(10)) AS lv FROM documents))
           |SELECT doc_id, n_tokens, tok_chars, n_sym, n_lines, n_bullet,
           |  n_ellipsis, n_alpha_words, n_stops,
           |  (n_tokens >= 50 AND n_tokens <= 100000
           |   AND tok_chars >= n_tokens * 3 AND tok_chars <= n_tokens * 10
           |   AND n_sym * 10 <= n_tokens
           |   AND n_bullet * 10 <= n_lines * 9
           |   AND n_ellipsis * 10 <= n_lines * 3
           |   AND n_alpha_words * 5 >= n_tokens * 4
           |   AND n_stops >= 2) AS keep
           |FROM cnt ORDER BY doc_id""".stripMargin
      },

      "gopher_repetition" -> {
        // per-n CTE triple: counts -> (all_chars, top count) -> top-gram
        // chars via max-length-among-top-count (= Spark's max(struct));
        // SUMs cast back to BIGINT (DuckDB widens to HUGEINT)
        def topCtes(n: Int): String =
          s"""c$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(${shinglesNSql("t", n)}) AS g FROM d)
             |  GROUP BY 1, 2),
             |a$n AS (SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS all$n,
             |          CAST(MAX(c) AS BIGINT) AS tc FROM c$n GROUP BY 1),
             |t$n AS (SELECT c$n.doc_id, MAX(a$n.all$n) AS all$n,
             |          CAST(MAX(a$n.tc * length(c$n.g)) AS BIGINT) AS top${n}_chars
             |        FROM c$n JOIN a$n
             |          ON c$n.doc_id = a$n.doc_id AND c$n.c = a$n.tc
             |        GROUP BY 1)""".stripMargin
        def dupCtes(n: Int): String =
          s"""c$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(${shinglesNSql("t", n)}) AS g FROM d)
             |  GROUP BY 1, 2),
             |d$n AS (SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS alld$n,
             |          CAST(SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dup${n}_chars
             |        FROM c$n GROUP BY 1)""".stripMargin
        s"""WITH d AS (SELECT doc_id, text, $toksRaw AS t FROM documents
           |           WHERE doc_id IS NOT NULL),
           |lg AS (SELECT doc_id, l, CAST(count(*) AS BIGINT) AS c FROM (
           |         SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM d)
           |       WHERE length(l) > 0 GROUP BY 1, 2),
           |ls AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
           |         CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           |         CAST(SUM(c * length(l)) AS BIGINT) AS line_chars,
           |         CAST(SUM(CASE WHEN c >= 2 THEN (c - 1) * length(l) ELSE 0 END) AS BIGINT) AS dup_line_chars
           |       FROM lg GROUP BY 1),
           |${topCtes(2)},
           |${topCtes(3)},
           |${topCtes(4)},
           |${dupCtes(5)},
           |${dupCtes(10)}
           |SELECT doc_id, n_lines,
           |  n_dup_lines / n_lines AS dup_line_frac,
           |  dup_line_chars / line_chars AS dup_line_char_frac,
           |  top2_chars / all2 AS top2_frac,
           |  top3_chars / all3 AS top3_frac,
           |  top4_chars / all4 AS top4_frac,
           |  dup5_chars / alld5 AS dup5_frac,
           |  dup10_chars / alld10 AS dup10_frac,
           |  (n_dup_lines * 10 <= n_lines * 3
           |   AND dup_line_chars * 5 <= line_chars
           |   AND top2_chars * 5 <= all2
           |   AND top3_chars * 50 <= all3 * 9
           |   AND top4_chars * 25 <= all4 * 4
           |   AND dup5_chars * 20 <= alld5 * 3
           |   AND dup10_chars * 10 <= alld10) AS keep
           |FROM ls JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
           |        JOIN t4 USING (doc_id) JOIN d5 USING (doc_id)
           |        JOIN d10 USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      "source_stats" -> {
        val p = qualityPartsSql("text")
        s"""WITH pd AS (SELECT source, lang,
           |  ${p.nTok} AS ntok,
           |  ${p.nChars} AS nch,
           |  ${p.nAlpha} AS nal,
           |  ${p.nStop} AS nst
           |FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           |  CAST(SUM(nch) AS BIGINT) AS n_chars,
           |  CAST(SUM(nal) AS BIGINT) AS n_alpha,
           |  CAST(SUM(nst) AS BIGINT) AS n_stop,
           |  CAST(SUM(nal) AS BIGINT) / CAST(SUM(nch) AS BIGINT) AS alpha_ratio,
           |  CAST(SUM(nst) AS BIGINT) / CAST(SUM(ntok) AS BIGINT) AS stop_ratio,
           |  CAST(SUM(ntok) AS BIGINT) / CAST(count(*) AS BIGINT) AS mean_tokens
           |FROM pd GROUP BY source ORDER BY source""".stripMargin
      },

      "source_drift" ->
        // bucket = '0x'-cast of 2 md5 hex chars (quality_classifier's
        // digit-for-digit mirror); the per-row DOUBLE contribution copies
        // the Spark expression tree operator for operator
        s"""WITH cnt AS (SELECT source,
           |               CAST(('0x' || substring(md5(term), 1, 2))::INT AS INT) AS bucket,
           |               CAST(count(*) AS BIGINT) AS n
           |             FROM (SELECT source, unnest($toksClean) AS term FROM documents
           |                   WHERE doc_id IS NOT NULL AND source IS NOT NULL)
           |             GROUP BY 1, 2),
           |bt AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS nb FROM cnt GROUP BY 1),
           |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ts FROM cnt GROUP BY 1),
           |gr AS (SELECT CAST(sum(n) AS BIGINT) AS tall FROM cnt),
           |g AS (SELECT st.source, bt.bucket, st.ts, bt.nb, gr.tall,
           |        COALESCE(cnt.n, 0) AS n_src
           |      FROM st CROSS JOIN bt CROSS JOIN gr
           |      LEFT JOIN cnt ON cnt.source = st.source AND cnt.bucket = bt.bucket)
           |SELECT source, bucket, n_src, nb - n_src AS n_rest,
           |  ts AS t_src, tall - ts AS t_rest,
           |  CASE WHEN tall - ts = 0 THEN 0.0 ELSE
           |  ((CAST(n_src AS DOUBLE) * CAST(tall - ts AS DOUBLE)
           |     - CAST(nb - n_src AS DOUBLE) * CAST(ts AS DOUBLE))
           |   * (CAST(n_src AS DOUBLE) * CAST(tall - ts AS DOUBLE)
           |     - CAST(nb - n_src AS DOUBLE) * CAST(ts AS DOUBLE)))
           |  / ((CAST(ts AS DOUBLE) * CAST(tall - ts AS DOUBLE))
           |     * (CAST(n_src AS DOUBLE) + CAST(nb - n_src AS DOUBLE))) END AS contrib
           |FROM g ORDER BY source, bucket""".stripMargin,

      // zipped unnest of the list against its own tail = zip_with's pairs
      "bpe_pair_counts" ->
        s"""WITH tv AS (SELECT regexp_extract_all(text, '$BpeRegex') AS tv
           |            FROM documents WHERE doc_id IS NOT NULL),
           |p AS (SELECT unnest(tv[1:len(tv)-1]) AS lhs, unnest(tv[2:len(tv)]) AS rhs
           |      FROM tv WHERE len(tv) >= 2),
           |c AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
           |SELECT CAST(rn AS INT) AS rank, lhs, rhs, n FROM (
           |  SELECT lhs, rhs, n,
           |         ROW_NUMBER() OVER (ORDER BY n DESC, lhs, rhs) AS rn FROM c)
           |WHERE rn <= $BpeTopK ORDER BY rank""".stripMargin,

      // the iterated form unrolled: s{r} (delimiter-framed strings) →
      // p{r} (zipped-unnest pairs) → w{r} (1-row winner) → s{r+1}
      // (literal replace = the greedy merge pass). chr(31) = \x1F.
      // The CTE chain is [[bpeCtesSql]], shared with bpe_vocab's mirror.
      "bpe_merges" -> {
        "WITH " + bpeCtesSql(finalCorpus = false) + "\n" +
          (1 to BpeRounds)
            .map(r => s"SELECT CAST($r AS INT) AS round, lhs, rhs, n FROM w$r")
            .mkString("\nUNION ALL\n") +
          "\nORDER BY round"
      },

      // the apply-only pass's mirror: the SAME chain carried one replace
      // further (s{N+1}), then one symbol unnest + count
      "bpe_vocab" ->
        s"""WITH ${bpeCtesSql(finalCorpus = true)}
           |SELECT symbol, CAST(count(*) AS BIGINT) AS n FROM (
           |  SELECT unnest(string_split(s[2:len(s)-1], chr(31) || chr(31))) AS symbol
           |  FROM s${BpeRounds + 1})
           |WHERE symbol <> '' GROUP BY symbol ORDER BY symbol""".stripMargin,

      // encode's mirror: the training chain's w1..wN (bpeCtesSql — the
      // same unroll bpe_merges/bpe_vocab splice, so the frozen table
      // cannot drift) applied to the part-name frames e1..e{N+1}
      // (bpeApplyCtesSql — one unroll spelling shared with
      // pack_sequences_bpe's mirror)
      "bpe_encode" -> {
        val sep = "chr(31)"
        val sep2 = s"$sep || $sep"
        s"""WITH ${bpeCtesSql(finalCorpus = false)},
           |e1 AS (SELECT p_partkey, $sep || array_to_string(
           |              regexp_extract_all(p_name, '$BpeMergeRegex'), $sep2) || $sep AS s
           |            FROM part WHERE p_partkey IS NOT NULL),
           |${bpeApplyCtesSql("e", "p_partkey")}
           |SELECT p_partkey, enc,
           |  CAST(CASE WHEN enc = '' THEN 0
           |            ELSE len(string_split(enc, ' ')) END AS INT) AS n_symbols
           |FROM (SELECT p_partkey,
           |        array_to_string(string_split(s[2:len(s)-1], $sep2), ' ') AS enc
           |      FROM e${BpeRounds + 1})
           |ORDER BY p_partkey""".stripMargin
      }
    )
  }

  /** The unrolled BPE training CTE chain s1, p1, w1, s2, … — ONE builder
    * for the bpe_merges and bpe_vocab oracles (two unrolls could drift).
    * `finalCorpus` appends s{BpeRounds+1} — the LAST winner applied —
    * which only the vocab mirror reads.
    */
  private[queries] def bpeCtesSql(finalCorpus: Boolean): String = {
    val sep = "chr(31)"
    val sep2 = s"$sep || $sep"
    val sb = new StringBuilder
    sb.append(
      s"""s1 AS (SELECT $sep || array_to_string(
         |              regexp_extract_all(text, '$BpeMergeRegex'), $sep2) || $sep AS s
         |            FROM documents WHERE doc_id IS NOT NULL)""".stripMargin)
    for (r <- 1 to BpeRounds) {
      sb.append(",\n").append(
        s"""p$r AS (SELECT unnest(tv[1:len(tv)-1]) AS lhs, unnest(tv[2:len(tv)]) AS rhs
           |      FROM (SELECT string_split(s[2:len(s)-1], $sep2) AS tv FROM s$r)
           |      WHERE len(tv) >= 2),
           |w$r AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n FROM p$r
           |      GROUP BY 1, 2 ORDER BY n DESC, lhs, rhs LIMIT 1)""".stripMargin)
      if (r < BpeRounds || finalCorpus) sb.append(",\n").append(
        s"""s${r + 1} AS (SELECT replace(s, $sep || lhs || $sep2 || rhs || $sep,
           |                  $sep || lhs || rhs || $sep) AS s
           |      FROM s$r CROSS JOIN w$r)""".stripMargin)
    }
    sb.toString
  }

  /** The apply-only unroll over ANY framed relation — [[bpeApply]]'s SQL
    * twin, ONE spelling for every encode-shaped mirror (bpe_encode,
    * pack_sequences_bpe). The caller defines `${prefix}1` (columns:
    * `$keyCols`, `s`) and splices [[bpeCtesSql]]'s w1..wN upstream; this
    * emits `${prefix}2..${prefix}{BpeRounds+1}`, each one literal
    * replace against that round's winner.
    */
  private[queries] def bpeApplyCtesSql(prefix: String, keyCols: String): String = {
    val sep = "chr(31)"
    val sep2 = s"$sep || $sep"
    (1 to BpeRounds).map { r =>
      s"""$prefix${r + 1} AS (SELECT $keyCols, replace(s, $sep || lhs || $sep2 || rhs || $sep,
         |                  $sep || lhs || rhs || $sep) AS s
         |      FROM $prefix$r CROSS JOIN w$r)""".stripMargin
    }.mkString(",\n")
  }

  /** Name of the fully-applied relation [[bpeApplyCtesSql]] emits. */
  private[queries] def bpeApplyFinalRel(prefix: String): String =
    s"$prefix${BpeRounds + 1}"
}
