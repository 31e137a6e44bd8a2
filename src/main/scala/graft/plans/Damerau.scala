package graft.plans

import org.apache.spark.sql.Column

/** TRUE Damerau–Levenshtein distance (Lowrance & Wagner 1975) — the
  * record-linkage edit metric that counts an adjacent TRANSPOSITION as
  * one operation instead of two ("recieve"/"receive" is distance 1,
  * not 2): the minimum number of insertions, deletions, substitutions
  * and transpositions turning one string into the other, with edits
  * allowed BETWEEN transposed pairs (the unrestricted form — e.g.
  * "ca" -> "abc" is 2, where the restricted OSA variant says 3).
  * Typos are overwhelmingly single transpositions (Damerau 1964), so
  * the linkage/verify tier under-merges without this metric; plain
  * Levenshtein double-charges exactly the most common error class.
  *
  * The full da-array dynamic program, O(|a|·|b|) time and space —
  * intended for bounded verify-stage inputs (candidate pairs over
  * length-capped prefixes), like the Levenshtein verify it sits
  * beside. BMP contract: walks UTF-16 units while the oracle's
  * damerau_levenshtein walks code points — identical on BMP text
  * (the corpus contract shared with char_entropy).
  */
object Damerau {

  /** Per-thread scratch: the da last-row table is a full char-indexed
    * array with GENERATION STAMPS (entry = gen·2^20 + row), so a new
    * call invalidates every stale entry by bumping one counter instead
    * of clearing 64k slots — and the DP matrix is a grown-on-demand
    * buffer. Verify stages run the kernel millions of times per task;
    * per-call HashMap/matrix allocation was the dominant cost.
    */
  private final class Scratch {
    val da = new Array[Long](65536)
    var gen = 0L
    var h: Array[Int] = new Array[Int](84 * 84)
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  def distance(a: String, b: String): Int = {
    val m = a.length
    val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    // The da-table stamp packs the row index into the low 20 bits
    // (gen << 20 | i); a row index >= 2^20 would overflow into the
    // generation bits and return a WRONG distance instead of failing.
    // Enforce the bounded-prefix contract loudly.
    require(m < (1 << 20) && n < (1 << 20),
      s"Damerau.distance: input lengths ($m, $n) exceed the 2^20-1 " +
        "stamp-packing bound; truncate inputs before comparing")
    val st = scratch.get()
    st.gen += 1
    val gen = st.gen << 20
    val da = st.da
    val inf = m + n
    // H is (m+2) x (n+2) with the standard -1 row/column of INF
    val w = n + 2
    if (st.h.length < (m + 2) * w) st.h = new Array[Int]((m + 2) * w)
    val h = st.h
    h(0) = inf
    var i = 0
    while (i <= m) { h((i + 1) * w) = inf; h((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= n) { h(j + 1) = inf; h(w + j + 1) = j; j += 1 }
    i = 1
    while (i <= m) {
      var db = 0
      j = 1
      while (j <= n) {
        val v = da(b.charAt(j - 1))
        val i1 = if ((v & ~1048575L) == gen) (v & 1048575L).toInt else 0
        val j1 = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 }
          else 1
        val sub = h(i * w + j) + cost
        val ins = h((i + 1) * w + j) + 1
        val del = h(i * w + j + 1) + 1
        val swap = h(i1 * w + j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (swap < best) best = swap
        h((i + 1) * w + j + 1) = best
        j += 1
      }
      da(a.charAt(i - 1)) = gen | i.toLong
      i += 1
    }
    h((m + 1) * w + n + 1)
  }

  /** Column API: Damerau–Levenshtein distance (codegen'd kernel). */
  def damerau(a: Column, b: Column): Column =
    Kernels.damerau(Seq(a, b))
}
