package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Token-level LONGEST COMMON SUBSEQUENCE — the sequence-alignment
  * primitive behind ROUGE-L (Lin 2004): unlike the n-gram overlaps
  * (ROUGE-N, Jaccard, containment), LCS credits in-order but
  * non-contiguous agreement, so a paraphrase that interleaves novel
  * words through a copied sentence still scores its shared spine.
  *
  * The DP is inherently sequential (O(m·n) with a data dependence on
  * the previous row), so it lives as a compiled scalar expression over
  * BOUNDED token prefixes (`cap`, the editdist-verify discipline:
  * candidates × cap² cost, never corpus × full-text²) — not as a
  * relational plan, and NOT under the DuckDB hash oracle (no SQL
  * engine exposes an LCS; the spec pins it against a brute-force
  * reference instead — the writers/streaming verification split).
  */
object Lcs {

  /** LCS length between the two strings' whitespace-token sequences,
    * each truncated to its first `cap` tokens. Two-row DP, O(cap²)
    * worst case, zero allocations beyond the two int rows.
    */
  def tokenLcs(a: String, b: String, cap: Int): Int = {
    val ta = TokenScan.tokensCapped(a, cap)
    val tb = TokenScan.tokensCapped(b, cap)
    val m = ta.length
    val n = tb.length
    if (m == 0 || n == 0) return 0
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      var j = 1
      while (j <= n) {
        cur(j) =
          if (ta(i - 1) == tb(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    prev(n)
  }

  /** Column form: token-LCS of two string columns at `cap`. */
  def tokenLcsCol(a: Column, b: Column, cap: Int): Column =
    Kernels.tokenLcs(Seq(a, b), cap)
}

/** Scan-stage builder of ROUGE-N's occurrence-indexed hashed gram set:
  * the k-th occurrence of word n-gram g becomes the long
  * polyHash(g)·2^20 + k (h < 2^30, occurrences bounded far below 2^20
  * — the element fits a long exactly), sorted ascending. One compiled
  * pass per document — the relational form (explode → groupBy →
  * re-explode → collect_list) paid two corpus shuffles for the same
  * array.
  */
object RougeGrams {
  def gramSet(s: String, n: Int): ArrayData = {
    val toks = TokenScan.tokens(s)
    val sb = new java.lang.StringBuilder
    occurrenceSet(Array.tabulate(math.max(toks.length - n + 1, 0))(i =>
      PolyHash.eval(TokenScan.window(toks, i, i + n, sb))))
  }

  /** The packing both gram-set builders share: the k-th occurrence of
    * hash h becomes h·2^20 + k, sorted ascending. */
  def occurrenceSet(hashes: Array[Long]): ArrayData = {
    val counts = new java.util.HashMap[Long, Integer]()
    val out = hashes.map(h =>
      h * 1048576L + counts.merge(h, 1, (a, b) => a + b).toLong)
    java.util.Arrays.sort(out)
    new GenericArrayData(out.map(Long.box): Array[Any])
  }

  /** Column form: the occurrence-indexed word n-gram set of a text
    * column (sorted array<bigint>). */
  def gramSetCol(c: Column, n: Int): Column = Kernels.rougeGramSet(Seq(c), n)
}
