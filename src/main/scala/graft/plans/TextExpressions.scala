package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow

/** Kernels for the text-hashing hot paths (entries of [[Kernels]]).
  *
  * Spark's higher-order functions (transform/aggregate/filter) are
  * CodegenFallback — evaluated interpretively per row with intermediate
  * array allocation. For corpus-scale hashing (every shingle of every
  * document) that interpretation dominates the runtime, so these
  * kernels run the whole tokenize→shingle→hash pipeline as tight JVM
  * loops while keeping semantics bit-identical to the SQL-expressible
  * formulas the DuckDB oracle runs.
  */
object PolyHash {
  val Mod = 1000000007L

  /** h = fold(h * 31 + codepoint) mod 1e9+7 over the string's code points —
    * identical to Text.charFingerprint's HOF formula (ascii() yields the
    * code point in both Spark and DuckDB).
    */
  def eval(s: String): Long = {
    var acc = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }
}

/** The gram-stream row kernels (each a generator entry of [[Kernels]]) and
  * the ONE tokenize + joined-gram-hash step they share: whitespace
  * tokenization bit-identical to Text.tokens, and PolyHash over the
  * space-joined token window — so the documented bit-parity between the
  * compiled generators and the declarative tokens→ngram→hash
  * construction lives in exactly one place.
  */
object GramHash {
  /** Maximal runs of non-whitespace (Java `\s`), empty fragments
    * dropped — Text.tokens verbatim. */
  private def tokens(v: String): Array[String] =
    v.split("\\s+").filter(_.nonEmpty)

  /** PolyHash of the space-joined token window [from, until). */
  private def windowHash(tokens: Array[String], from: Int, until: Int,
      sb: java.lang.StringBuilder): Long =
    PolyHash.eval(TokenScan.window(tokens, from, until, sb))

  /** PolyHash of the n-gram starting at token `i`. */
  private def gramHash(tokens: Array[String], i: Int, n: Int,
      sb: java.lang.StringBuilder): Long =
    windowHash(tokens, i, i + n, sb)

  /** One row per word n-gram of the text, carrying the n-gram's
    * polynomial hash (`tid`): the hashed string is the space-joined
    * n-gram, identical to Text.wordNgrams + PolyHash. With n = 1 this is
    * a hashed tokenizer. Fuses tokenize → shingle → hash into one pass
    * with no intermediate Spark arrays.
    */
  def shingles(s: String, n: Int): IterableOnce[InternalRow] = {
    val toks = tokens(s)
    val sb = new java.lang.StringBuilder
    (0 to toks.length - n).iterator.map(i => InternalRow(gramHash(toks, i, n, sb)))
  }

  /** [[shingles]] carrying each n-gram's 0-based starting TOKEN POSITION
    * alongside its hash (`pos, tid`) — the input to span-level
    * (substring) dedup, where a gram hit must map back to the token
    * interval [pos, pos + n) it covers: exactly the tids of [[shingles]],
    * in position order.
    */
  def shinglesPos(s: String, n: Int): IterableOnce[InternalRow] = {
    val toks = tokens(s)
    val sb = new java.lang.StringBuilder
    (0 to toks.length - n).iterator.map(i =>
      InternalRow(i.toLong, gramHash(toks, i, n, sb)))
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003) in ONE scan
    * pass (`sel_pos, tid`) — the minimum of every `w`-hash window over
    * the word-n-gram hash stream, rightmost occurrence on ties, distinct
    * selections emitted.
    *
    * Bit-identical to the declarative construction (shinglesPos →
    * doc-partitioned sliding window min over the composite key
    * `tid * 2^31 + (2^31 - 1 - pos)` → distinct), WITHOUT the doc-keyed
    * shuffle: selection is sequential within a document, so a monotonic
    * deque computes every window minimum in O(grams), and the classic
    * winnowing property (as the window slides, the selection either stays
    * or moves to the entering gram; a selection never recurs after being
    * displaced — displaced means a smaller key is in every later window
    * that still contains it) makes consecutive-dedup produce exactly the
    * distinct selection set. Documents with fewer than `w` grams
    * contribute the minimum of their whole stream (the clipped-window
    * rule); documents with no grams contribute nothing. Keys are unique
    * (the position is packed into the key), so the minimum is unambiguous.
    */
  def winnow(s: String, n: Int, w: Int): IterableOnce[InternalRow] = {
    val toks = tokens(s)
    val m = toks.length - n + 1
    if (m <= 0) return Nil
    val cap = 2147483648L // 2^31
    // Gram keys: (tid asc, pos desc) as one long — same packing as
    // the declarative window construction.
    val keys = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      keys(i) = gramHash(toks, i, n, sb) * cap + (cap - 1 - i)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    if (m <= w) {
      // Sub-w stream: one clipped window = global minimum.
      var best = keys(0)
      i = 1
      while (i < m) { if (keys(i) < best) best = keys(i); i += 1 }
      out += InternalRow(cap - 1 - (best % cap), best / cap)
    } else {
      // Monotonic deque of positions with increasing keys; window
      // starts 0 .. m - w, each full (the declarative filter keeps
      // only full-window starts when m > w).
      val dq = new Array[Int](m)
      var lo = 0
      var hi = 0 // deque is dq[lo, hi)
      var prev = -1L
      i = 0
      while (i < m) {
        while (hi > lo && keys(dq(hi - 1)) > keys(i)) hi -= 1
        dq(hi) = i; hi += 1
        val start = i - w + 1
        if (start >= 0) {
          if (dq(lo) < start) lo += 1
          val sel = keys(dq(lo))
          if (sel != prev) {
            out += InternalRow(cap - 1 - (sel % cap), sel / cap)
            prev = sel
          }
        }
        i += 1
      }
    }
    out
  }

  /** One row per fixed-width token LINE of the text (`line_no, lh`) —
    * non-overlapping `lineLen`-token windows INCLUDING the remainder
    * tail, each hashed as its space-joined string. Bit-identical to
    * `posexplode(Text.tokenLines(Text.tokens(text), lineLen))` +
    * `Text.charFingerprint(line)` (the corpus-wide line-dedup key
    * stream), with no intermediate token/line arrays and no line-string
    * Spark rows — at corpus scale the interpreted transform/slice/
    * concat_ws HOF chain those build is the dominant cost of the hash
    * side of line dedup.
    */
  def lines(s: String, lineLen: Int): IterableOnce[InternalRow] = {
    val toks = tokens(s)
    val sb = new java.lang.StringBuilder
    (0 until (toks.length + lineLen - 1) / lineLen).iterator.map { line =>
      val i = line * lineLen
      InternalRow(line.toLong,
        windowHash(toks, i, math.min(i + lineLen, toks.length), sb))
    }
  }
}

/** Static kernels for single-pass whitespace token scans.
  *
  * Tokenization is bit-identical to `Text.tokens` =
  * `filter(split(c, "\\s+"), length > 0)`: a token is a maximal run of
  * non-whitespace characters, where whitespace is Java regex `\s` in its
  * default ASCII mode — exactly `[ \t\n\x0B\f\r]`. Character counts are
  * code points (what Spark's `length` returns), not UTF-16 units. Every
  * token scan here runs the one tokenizer loop ([[scanTokens]]) and
  * joins grams and lines with the one joiner ([[window]]).
  */
object TokenScan {
  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Number of whitespace tokens (maximal non-\s runs). */
  def tokenCount(s: String): Int = {
    var n = 0
    var i = 0
    var inTok = false
    val len = s.length
    while (i < len) {
      val ws = isWs(s.charAt(i))
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }

  /** Calls `f` on every whitespace token of `s`, in order, while it
    * returns true: the one tokenizer loop of this object. */
  @inline private[plans] def scanTokens(s: String)(f: String => Boolean): Unit = {
    var i = 0
    var start = -1
    val len = s.length
    var more = true
    while (more && i <= len) {
      val ws = i == len || isWs(s.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) { more = f(s.substring(start, i)); start = -1 }
      i += 1
    }
  }

  /** The first min(cap, count) whitespace tokens as an array — the
    * bounded-prefix discipline for O(cap²) pairwise work (Lcs).
    */
  def tokensCapped(s: String, cap: Int): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    if (cap > 0) scanTokens(s) { t => out += t; out.length < cap }
    out.toArray
  }

  /** Every whitespace token of `s`, in order. */
  def tokens(s: String): Array[String] = tokensCapped(s, Int.MaxValue)

  /** The space-joined token window [from, until) — a word n-gram or a
    * fixed-width line, exactly `concat_ws(' ', slice(tokens, …))` —
    * built in `sb`, which one document's windows reuse. A one-token
    * window is the token itself. */
  def window(tokens: Array[String], from: Int, until: Int,
      sb: java.lang.StringBuilder): String =
    if (until == from + 1) tokens(from)
    else {
      sb.setLength(0)
      sb.append(tokens(from))
      var k = from + 1
      while (k < until) { sb.append(' ').append(tokens(k)); k += 1 }
      sb.toString
    }

  /** Total code points across all tokens — equals the sum of `length(t)`
    * over the token array, since tokens partition the non-\s characters.
    */
  def tokenChars(s: String): Long = {
    var n = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      if (isWs(s.charAt(i))) i += 1
      else { n += 1; i += Character.charCount(s.codePointAt(i)) }
    }
    n
  }

  /** Occurrence count of every `n`-token window of `toks`. */
  private def gramCounts(toks: Array[String], n: Int)
      : java.util.HashMap[String, Long] = {
    val counts = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g + n <= toks.length) {
      val gram = window(toks, g, g + n, sb)
      counts.put(gram, counts.getOrDefault(gram, 0L) + 1L)
      g += 1
    }
    counts
  }

  /** Gini-impurity lexical diversity: 1 − Σc²/n² over the doc's token
    * counts — 0 for empty or single-token-type docs, →1 as the
    * vocabulary use evens out. The log-free diversity signal (entropy
    * needs libm; Gini is exact integers + ONE correctly-rounded double
    * division, so it sits under the hash oracle). Both Σc² and n² stay
    * below 2^53 for any document under ~67M tokens — exact as doubles.
    */
  def tokenGini(s: String): Double = {
    val counts = new java.util.HashMap[String, Long]()
    var n = 0L
    scanTokens(s) { t =>
      counts.put(t, counts.getOrDefault(t, 0L) + 1L); n += 1; true }
    if (n == 0L) return 0.0
    var sumSq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); sumSq += c * c }
    1.0 - sumSq.toDouble / (n.toDouble * n.toDouble)
  }

  /** Gopher line signals in one compiled pass: fixed-width `lineLen`
    * token lines (Text.tokenLines semantics), returning
    * [n_lines, dup_lines, total_chars, dup_chars] where dup counts are
    * occurrences beyond each line's first. `appendFirst` > 0 re-appends
    * that many leading lines when the doc has >= 2 lines — the
    * q_pii_redact synthesized-dirty idiom, folded into the scan so the
    * dirty variant costs nothing extra.
    */
  def lineSignals(s: String, lineLen: Int, appendFirst: Int): Array[Long] = {
    val toks = tokens(s)
    val m = toks.length
    val nBase = if (m == 0) 0 else (m - 1) / lineLen + 1
    val lines = new java.util.ArrayList[String](nBase + appendFirst)
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < nBase) {
      lines.add(
        window(toks, w * lineLen, math.min(m, w * lineLen + lineLen), sb))
      w += 1
    }
    if (appendFirst > 0 && nBase >= 2) {
      var j = 0
      val take = math.min(appendFirst, nBase)
      while (j < take) { lines.add(lines.get(j)); j += 1 }
    }
    val seen = new java.util.HashSet[String]()
    var nLines = 0L; var dupLines = 0L; var totalChars = 0L; var dupChars = 0L
    val it = lines.iterator()
    while (it.hasNext) {
      val l = it.next()
      nLines += 1L
      totalChars += l.length.toLong
      if (!seen.add(l)) { dupLines += 1L; dupChars += l.length.toLong }
    }
    Array(nLines, dupLines, totalChars, dupChars)
  }

  /** Gopher n-gram repetition masses in one compiled pass:
    * [top-mass of `nTop`-grams, duplicate-mass of `nDup`-grams] where a
    * gram's mass is count × joined-string length, top takes the max over
    * grams with count >= 2 (0 if none repeats) and dup sums them — the
    * per-(doc, gram) shuffle chain folded into per-row hash counting.
    */
  def ngramRepMass(s: String, nTop: Int, nDup: Int): Array[Long] = {
    val toks = tokens(s)
    def massOf(n: Int, top: Boolean): Long = {
      var acc = 0L
      val it = gramCounts(toks, n).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue >= 2L) {
          val mass = e.getValue * e.getKey.length.toLong
          if (top) { if (mass > acc) acc = mass } else acc += mass
        }
      }
      acc
    }
    Array(massOf(nTop, top = true), massOf(nDup, top = false))
  }

  /** Catalyst-format entries for the array-returning scanners (codegen
    * assigns straight into an ArrayData slot).
    */
  def lineSignalsData(s: String, lineLen: Int, appendFirst: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(lineSignals(s, lineLen, appendFirst))

  def ngramRepMassData(s: String, nTop: Int, nDup: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(ngramRepMass(s, nTop, nDup))

  /** Fraction of word n-grams that repeat an earlier gram: 1 -
    * distinct/total, 0.0 for docs with fewer than n tokens. Gram identity
    * is the space-joined token string compared by string equality —
    * exactly `array_distinct` over `wordNgrams` (no hashing, no collision
    * skew), in one pass with one token array and one hash map.
    */
  def repetitionRatio(s: String, n: Int): Double = {
    val toks = tokens(s)
    if (toks.length < n) return 0.0
    val total = toks.length - n + 1
    1.0 - gramCounts(toks, n).size.toDouble / total.toDouble
  }

  /** SimHash fingerprint of a document in one pass: per token OCCURRENCE,
    * tid = polynomial char hash, h = (tid*a + b) mod m, and each of the
    * low `bits` bits of h votes +1/-1 into its lane; the fingerprint sets
    * bit k where lane k's sum is positive. Bit-identical to
    * Dedup.simhash's distributed groupBy form (same integer arithmetic,
    * associative lane sums) with zero shuffle — the fingerprint leaves
    * the parquet scan ready for chunk blocking.
    */
  def simhashFp(s: String, bits: Int, a: Long, b: Long, m: Long): Long = {
    val lanes = new Array[Long](bits)
    scanTokens(s) { t =>
      val h = (PolyHash.eval(t) * a + b) % m
      var k = 0
      while (k < bits) {
        if (((h >> k) & 1L) == 1L) lanes(k) += 1 else lanes(k) -= 1
        k += 1
      }
      true
    }
    var fp = 0L
    var k = 0
    while (k < bits) {
      if (lanes(k) > 0) fp |= 1L << k
      k += 1
    }
    fp
  }

  /** Number of tokens (with multiplicity) contained in `set`. */
  def markerHits(s: String, set: java.util.HashSet[String]): Int = {
    var hits = 0
    scanTokens(s) { t => if (set.contains(t)) hits += 1; true }
    hits
  }
}

object TextExpressions {
  /** Column API: polynomial hash of a string column (codegen'd). */
  def polyHash(c: Column): Column = Kernels.polyHash(Seq(c))

  /** Column API: generate hashed word n-grams (`tid`) — use in a select
    * like explode: df.select(col("id"), hashedShingles(col("text"), 3)).
    */
  def hashedShingles(c: Column, n: Int): Column =
    Kernels.hashedShingles(Seq(c), n)

  /** Column API: positioned hashed word n-grams (pos, tid rows). */
  def hashedShinglesPos(c: Column, n: Int): Column =
    Kernels.hashedShinglesPos(Seq(c), n)

  /** Column API: winnowing fingerprint selection (sel_pos, tid rows). */
  def winnowSelect(c: Column, n: Int, w: Int): Column =
    Kernels.winnowSelect(Seq(c), n, w)

  /** Column API: hashed fixed-width token lines (line_no, lh rows). */
  def hashedTokenLines(c: Column, lineLen: Int): Column =
    Kernels.hashedTokenLines(Seq(c), lineLen)

  /** Column API: whitespace token count (codegen'd single pass). */
  def tokenCount(c: Column): Column = Kernels.tokenCount(Seq(c))

  /** Column API: total token characters (codegen'd single pass). */
  def tokenChars(c: Column): Column = Kernels.tokenChars(Seq(c))

  /** Column API: tokens-in-word-set count (codegen'd single pass). */
  def markerHits(c: Column, words: Seq[String]): Column =
    Kernels.markerHits(Seq(c), words)

  /** Column API: word-n-gram repetition ratio (codegen'd single pass). */
  def repetitionRatio(c: Column, n: Int): Column =
    Kernels.repetitionRatio(Seq(c), n)

  /** Column API: Gini-impurity lexical diversity (codegen'd single pass). */
  def tokenGini(c: Column): Column = Kernels.tokenGini(Seq(c))

  /** Column API: Gopher line signals [n_lines, dup_lines, total_chars,
    * dup_chars] (codegen'd single pass).
    */
  def lineSignals(c: Column, lineLen: Int, appendFirst: Int = 0): Column =
    Kernels.lineSignals(Seq(c), lineLen, appendFirst)

  /** Column API: Gopher n-gram repetition masses [top mass, dup mass]
    * (codegen'd single pass).
    */
  def ngramRepMass(c: Column, nTop: Int, nDup: Int): Column =
    Kernels.ngramRepMass(Seq(c), nTop, nDup)

  /** Column API: scan-stage SimHash fingerprint (codegen'd single pass). */
  def simhashFp(c: Column, bits: Int, a: Long, b: Long, m: Long): Column =
    Kernels.simhash(Seq(c), bits, a, b, m)
}
