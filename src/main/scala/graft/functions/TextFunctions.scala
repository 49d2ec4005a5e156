package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text cleanup + tokenization as codegen-friendly column expressions.
  *
  * Reproduces the reference corpus cleanup semantics (reference
  * `master.py:44-61`): strip the 32 ASCII `string.punctuation` chars, trim,
  * lowercase, drop non-ASCII — in that exact order (so `don't` → `dont`,
  * `café` → `caf`, `re-use` → `reuse`). Tokenization matches Python
  * `str.split()` (reference `wordcount_map.py:11`): split on runs of
  * whitespace, no empty tokens.
  *
  * Everything here is built from `org.apache.spark.sql.functions` so it stays
  * inside whole-stage codegen — no UDFs.
  */
object TextFunctions {

  /** Python `string.punctuation` as a Java-regex character class. */
  val PunctClass: String = """[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""

  /** Matches any non-ASCII char (the reference's `encode("ascii","ignore")`). */
  val NonAscii: String = """[^\x00-\x7F]"""

  /** ASCII whitespace, written as an EXPLICIT class — never `\s`: Java's
    * `\s` includes vertical tab (0x0B) but RE2's (DuckDB's engine) does
    * not, so a `\s`-based pattern silently tokenizes differently in the
    * oracle. The explicit class means the same six chars in both engines,
    * and equals Python's ASCII `str.split()` whitespace set.
    */
  val WsClass: String = "[ \\t\\n\\x0B\\f\\r]"

  /** Trim pattern built from [[WsClass]] (Python `str.strip()` semantics). */
  val TrimRe: String = s"^$WsClass+|$WsClass+$$"

  def stripPunct(c: Column): Column = regexp_replace(c, PunctClass, "")

  def asciiOnly(c: Column): Column = regexp_replace(c, NonAscii, "")

  /** Python `str.strip()` trims ALL whitespace (tabs/newlines too), unlike
    * SQL `trim` which only strips spaces — use a regex trim for parity.
    */
  def trimWs(c: Column): Column = regexp_replace(c, TrimRe, "")

  /** Full reference cleanup chain, in reference order:
    * punctuation-strip → trim → lowercase → ASCII-fold — as ONE native
    * code-generated expression ([[graft.expressions.AsciiClean]]) instead
    * of three regex traversals. Built directly from the Expression (no
    * function-registry dependence), so it resolves in any session.
    */
  /** Driver-side single-token cleanup — the SAME kernel as [[cleanLine]]
    * ([[graft.expressions.AsciiCleanUtil]]), for normalizing a handful
    * of user-supplied query terms (the served BM25 path) so they match
    * the indexed tokens. Whitespace inside the input would have split at
    * tokenization, so it is collapsed out here too.
    */
  def cleanToken(s: String): String =
    if (s == null) ""
    else graft.expressions.AsciiCleanUtil
      .clean(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      .toString.split(s"$WsClass+").mkString("")

  def cleanLine(c: Column): Column =
    graft.bridge.SparkInternals.column(
      graft.expressions.AsciiClean(
        graft.bridge.SparkInternals.expression(c)))

  /** The same chain as composed built-ins — the reference implementation
    * [[cleanLine]] is property-tested against (and the shape SURVEY §2.2
    * P1–P5 documents).
    */
  def cleanLineRegex(c: Column): Column =
    asciiOnly(lower(trimWs(stripPunct(c))))

  /** INT mask of "hex digit >= '8'" over the first 32 chars (bit 31-i for
    * char i) — the native SimHash kernel ([[graft.expressions.HexMsbMask]]);
    * see its scaladoc for the parity argument vs the substring form.
    */
  def hexMsbMask(c: Column): Column =
    graft.bridge.SparkInternals.column(
      graft.expressions.HexMsbMask(
        graft.bridge.SparkInternals.expression(c)))

  /** Whitespace tokenize matching Python `str.split()`: runs of the six
    * [[WsClass]] bytes split, empty tokens dropped — as ONE native
    * code-generated byte scan ([[graft.expressions.WsTokens]]) instead of
    * a regex split per row and an interpreted `filter`. Built directly
    * from the Expression, like [[cleanLine]].
    */
  def tokens(c: Column): Column =
    graft.bridge.SparkInternals.column(
      graft.expressions.WsTokens(
        graft.bridge.SparkInternals.expression(c)))

  /** The same tokenization as composed built-ins — the reference
    * implementation [[tokens]] is property-tested against, and the form
    * [[tokensSql]] mirrors in the oracle.
    */
  def tokensRegex(c: Column): Column =
    filter(split(c, s"$WsClass+"), t => length(t) > 0)

  /** Faithful-mode predicate (reference quirk Q1, `reducer.py:28`): only
    * tokens whose first char is a–z survive the reference's shuffle.
    */
  def azLeading(c: Column): Column =
    substring(c, 1, 1).between("a", "z")

  /** 3-token shingles of a token-array expression (empty when < 3 tokens).
    *
    * The wrapping single-element `transform(array(t), tv => …)` exists to
    * BIND the token array once: higher-order functions run interpreted
    * (outside codegen subexpression elimination) and re-evaluate any
    * non-lambda subexpression embedded in their lambda once PER ELEMENT —
    * so writing `element_at(t, i+1)` with `t` = the raw tokenization
    * expression re-tokenizes the whole line 3n times per row (measured 9×
    * slower on the shingle scan at sf0.1). `tv` is a lambda variable, so
    * every `element_at(tv, …)` is an O(1) read of the materialized array.
    */
  def shingles3(t: Column): Column = shinglesN(t, 3)

  /** `n`-token shingles of a token-array expression (empty when < n
    * tokens) — same one-binding structure as [[shingles3]]; `n` is a
    * plan-time constant (decontamination uses 8, the published
    * benchmark-overlap width).
    */
  def shinglesN(t: Column, n: Int): Column =
    element_at(transform(array(t), tv =>
      when(size(tv) >= n,
        transform(sequence(lit(0), size(tv) - n), i =>
          concat_ws(" ", (1 to n).map(k => element_at(tv, i + k)): _*)))
        .otherwise(array().cast("array<string>"))), 1)

  // ===== DuckDB-oracle SQL fragments (mirror the exact same semantics) =====
  // Single-quotes are doubled for SQL embedding; DuckDB regexp_replace needs
  // the 'g' flag (Spark's is global by default).

  /** DuckDB expression applying [[cleanLine]] to SQL expression `e`.
    * The trim uses [[TrimRe]]'s explicit whitespace class, not `\s` —
    * RE2's `\s` excludes vertical tab while Java's includes it.
    */
  def cleanLineSql(e: String): String =
    s"regexp_replace(lower(regexp_replace(regexp_replace($e, " +
      """'[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g'), """ +
      s"'$TrimRe', '', 'g')), '[^\\x00-\\x7F]', '', 'g')"

  /** DuckDB expression producing the token list of [[tokens]] over `e`. */
  def tokensSql(e: String): String =
    s"""list_filter(string_split_regex($e, '$WsClass+'), t -> len(t) > 0)"""

  /** DuckDB expression: the `n`-token shingle list of a BOUND token-list
    * column `colName` (callers bind the tokenization in a subquery first —
    * the SQL mirror of [[shinglesN]]'s one-binding rule). Empty when the
    * list holds < n tokens (`range` is empty).
    */
  def shinglesNSql(colName: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$colName[i+$k]").mkString(" || ' ' || ")
    // the bound is parenthesized: for n = 1 an unparenthesized -${n - 2}
    // would render "--1", which DuckDB parses as a line comment
    s"list_transform(range(1, len($colName)-(${n - 2})), i -> $parts)"
  }
}
