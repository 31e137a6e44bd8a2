package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting, word n-grams.
  *
  * All are built from Spark's native higher-order functions
  * (`split`/`filter`/`transform`/`aggregate`) — per-row, no shuffle, no
  * UDFs — so they run inside the scan stage at any scale. Arithmetic is
  * integer or IEEE double with a fixed evaluation order, keeping results
  * bit-identical to the DuckDB oracle SQL in SparkEntry.
  */
object Text {

  /** Whitespace tokenizer; drops the empty fragments regex split leaves at
    * string edges.
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** Token count (whitespace tokenization). Backed by the codegen'd
    * token_count kernel — one compiled pass, no token-array materialization;
    * semantically `size(tokens(c))` (the HOF form is CodegenFallback).
    */
  def tokenCount(c: Column): Column = graft.plans.TextExpressions.tokenCount(c)

  /** Gini-impurity lexical diversity over the whitespace tokens: 1 −
    * Σc²/n², the log-free diversity signal (entropy needs libm). Backed
    * by the codegen'd token_gini kernel — one compiled pass, scan-stage.
    */
  def tokenGini(c: Column): Column = graft.plans.TextExpressions.tokenGini(c)

  /** BPE-ish regex tokenizer: runs of letters, runs of digits, or single
    * other non-space characters — the common pre-tokenization shape.
    * Whitespace is the EXPLICIT class (Java \s includes vertical tab,
    * RE2's does not — oracle-checked expressions spell it out; see
    * punctRatio).
    */
  def regexTokens(c: Column): Column =
    filter(regexp_extract_all(c,
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"), lit(0)),
      t => length(t) > 0)

  /** Word n-grams over a token array: space-joined windows of `n` tokens.
    * Empty when the doc has fewer than `n` tokens. `sequence` is guarded
    * because Spark generates a *descending* sequence when end < start.
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1") // same contract as hashed_shingles
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array())
  }

  /** Fixed-width line segmentation of a token array: space-joined windows
    * of `lineLen` tokens (the last line keeps the remainder). The corpus
    * has no natural newlines, so line-structured operators (Gopher
    * repetition signals, CCNet line dedup) run over this deterministic
    * segmentation — same idiom as q_pii_redact's synthesized dirty column.
    * Empty array for an empty/NULL-token doc. Scan-stage, no shuffle.
    */
  def tokenLines(toks: Column, lineLen: Int): Column = {
    require(lineLen >= 1, s"lineLen must be >= 1, got $lineLen")
    // last line index = floor((n-1)/lineLen); doubles are exact here (doc
    // token counts are far below 2^53)
    val lastIdx = floor((size(toks) - 1).cast("double") / lit(lineLen.toDouble))
      .cast("int")
    when(size(toks) > 0,
      transform(sequence(lit(0), lastIdx),
        i => concat_ws(" ", slice(toks, i * lineLen + 1, lit(lineLen)))))
      .otherwise(array())
  }

  /** Number of tokens (with multiplicity) of `text` that appear in `words`
    * (marker/stopword hits). Backed by the codegen'd marker_hits kernel — one
    * compiled scan with a hash-set probe per token; semantically
    * `size(filter(tokens(text), t => array_contains(words, t)))`, whose HOF
    * form is CodegenFallback and rescans the word list per token.
    */
  def markerHits(text: Column, words: Seq[String]): Column =
    graft.plans.TextExpressions.markerHits(text, words)

  /** Stopword ratio: marker hits / token count, as double (0 for empty). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    when(tokenCount(text) > 0,
      markerHits(text, stopwords).cast("double") / tokenCount(text).cast("double"))
      .otherwise(lit(0.0))

  /** Rolling polynomial fingerprint over the document's characters:
    * h = fold(h * 31 + ascii(char)) mod 1e9+7. Deterministic, order-
    * sensitive (a true rolling hash), and expressible in the oracle via
    * list_reduce. Spaces are included (the character stream is the doc).
    * Backed by the codegen'd poly_hash kernel (the equivalent higher-order
    * `aggregate(transform(split(...)))` form is CodegenFallback and ~10x
    * slower on corpus-scale inputs).
    */
  def charFingerprint(c: Column): Column =
    graft.plans.TextExpressions.polyHash(c)

  /** Mean token length in characters (code points), as double (0 for empty
    * docs). Backed by the codegen'd token_chars/token_count kernels —
    * total token characters equal the HOF `aggregate(toks, 0L, acc +
    * length(t))` because tokens partition the non-whitespace characters.
    */
  def avgTokenLen(text: Column): Column =
    when(tokenCount(text) > 0,
      graft.plans.TextExpressions.tokenChars(text).cast("double") /
        tokenCount(text).cast("double"))
      .otherwise(lit(0.0))

  /** Punctuation ratio: non-alphanumeric, non-WHITESPACE chars / total
    * chars (whitespace spelled as the EXPLICIT class [ \t\n\x0B\f\r]:
    * Java's \s includes vertical tab while RE2's does not, and this ratio
    * is oracle-checked — the explicit class means both engines agree on
    * every input, not just VT-free ones). ASCII-letter policy is
    * deliberate and documented — non-ASCII letters count as
    * "punctuation-like" here; language-aware scoring belongs in langId,
    * not this byte-level heuristic.
    */
  def punctRatio(c: Column): Column =
    when(length(c) > 0,
      (length(c) - length(regexp_replace(c, "[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]", "")))
        .cast("double") / length(c).cast("double"))
      .otherwise(lit(0.0))

  /** Heuristic quality score in [0,1]: rewards docs near a target length
    * with a moderate stopword ratio. Pure rational arithmetic (no
    * transcendentals — libm results differ across engines).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lengthTerm = least(lit(1.0), tokenCount(text).cast("double") / lit(50.0))
    val stopTerm = lit(1.0) - abs(stopwordRatio(text, stopwords) - lit(0.2))
    lengthTerm * stopTerm
  }

  /** URL structure regex — Java∩RE2 common subset (RFC-3986-ish shape):
    * scheme://host path ?query. Groups: 1 = scheme, 2 = host (authority up
    * to the first /?#), 3 = path, 4 = query (without the '?').
    */
  private val UrlRe = "^([a-z][a-z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)"

  /** URL component extraction; empty string when the component is absent
    * or the input is not a URL (regexp_extract's no-match contract in both
    * Spark and DuckDB). Per-row scan-stage regex — the distributed
    * equivalent of a parse_url projection, restricted to the RE2 subset so
    * the oracle reproduces it.
    */
  def urlScheme(c: Column): Column = regexp_extract(c, UrlRe, 1)
  def urlHost(c: Column): Column = regexp_extract(c, UrlRe, 2)
  def urlPath(c: Column): Column = regexp_extract(c, UrlRe, 3)
  def urlQuery(c: Column): Column = regexp_extract(c, UrlRe, 4)

  /** Registrable domain, last two host labels — a heuristic (no public-
    * suffix list; "co.uk" counts as the registrable tail), but the
    * standard per-row approximation for grouping by site.
    */
  def urlDomain(c: Column): Column = {
    val host = urlHost(c)
    val parts = split(host, "\\.")
    when(size(parts) >= 2,
      concat_ws(".", element_at(parts, -2), element_at(parts, -1)))
      .otherwise(host)
  }

  /** Language ID by marker-word voting: the language whose marker list hits
    * the most tokens wins; ties break lexicographically by language code
    * (markers are sorted internally, so caller order cannot change the
    * result); zero hits everywhere → "und".
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    if (markers.isEmpty) return lit("und") // reduceLeft would throw
    val scored = markers.sortBy(_._1).map { case (lang, words) =>
      struct(markerHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max on struct<hits,lang> orders by hits, then lang — but we
    // want lexicographically FIRST lang on tied hits, so compare on
    // (hits, reversed-rank) via sort: take max of (hits desc, lang asc) ==
    // max of struct(hits, negated lang ordinal). Simplest deterministic
    // form: fold left keeping the strictly-greater winner.
    val winner = scored.reduceLeft { (best, cand) =>
      when(cand.getField("hits") > best.getField("hits"), cand).otherwise(best)
    }
    when(winner.getField("hits") > 0, winner.getField("lang")).otherwise(lit("und"))
  }
}
