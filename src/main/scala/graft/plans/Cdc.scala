package graft.plans

import org.apache.spark.sql.catalyst.InternalRow

/** CONTENT-DEFINED CHUNKING scan — the landmark/fingerprint chunker of
  * LBFS (Muthitacharoen, Chen & Mazières, SOSP 2001) and every modern
  * dedup store: a rolling hash over a `w`-char window marks a chunk
  * boundary wherever its low `maskBits` bits are all ones, so boundaries
  * depend only on LOCAL content — an insertion re-chunks one
  * neighborhood instead of shifting every fixed-size block downstream
  * (the failure mode that makes fixed-width blocks useless for
  * near-duplicate corpora). Chunk identity is the house polynomial hash
  * of the chunk text, so duplicated SPANS between revisions/mirrors
  * collapse cross-corpus even when the surrounding documents differ.
  *
  * Arithmetic contract (what the DuckDB oracle replays): the window
  * hash ending at 1-based char position i (i ≥ w) is the base-31
  * mod-1e9+7 fold of chars [i−w+1, i] — exactly `PolyHash` of that
  * substring, maintained here in O(1) per step by rolling removal
  * (H ← (H + p − c_out·31^{w−1} mod p)·31 + c_in mod p). A boundary
  * closes the chunk at i when H ≡ 2^maskBits − 1 (mod 2^maskBits);
  * end-of-text always closes the final chunk. Expected chunk length is
  * 2^maskBits chars. BMP-only contract (the charEntropy convention):
  * the scan walks UTF-16 units while the oracle's substr walks code
  * points — identical on BMP text, and the synthetic corpus is ASCII.
  *
  * One compiled pass per document, O(len) time, O(1) state — scan-stage
  * at any corpus size.
  */
object CdcScan {
  private val P = PolyHash.Mod // 1e9+7

  /** (chunk_no, start (1-based), clen, chash) per chunk of `s`. */
  def chunks(s: String, w: Int, maskBits: Int): IndexedSeq[InternalRow] = {
    val len = s.length
    if (len == 0) return IndexedSeq.empty
    val mask = (1L << maskBits) - 1L
    // 31^(w-1) mod p for rolling removal
    var pw = 1L
    var k = 1
    while (k < w) { pw = pw * 31 % P; k += 1 }
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var i = 0
    while (i < len) {
      h = (h * 31 + s.charAt(i)) % P
      if (i >= w - 1) {
        if ((h & mask) == mask) bounds += (i + 1) // 1-based boundary
        h = (h + P - s.charAt(i - w + 1) * pw % P) % P
      }
      i += 1
    }
    if (bounds.isEmpty || bounds.last != len) bounds += len
    val out = new Array[InternalRow](bounds.length)
    var prev = 0
    var no = 0
    while (no < bounds.length) {
      val e = bounds(no)
      out(no) = InternalRow(no.toLong, (prev + 1).toLong, (e - prev).toLong,
        PolyHash.eval(s.substring(prev, e)))
      prev = e
      no += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

/** Scan-stage builder of chrF's occurrence-indexed hashed CHARACTER
  * n-gram set — [[RougeGrams.gramSet]]'s char-level sibling (same
  * h·2^20 + occurrence packing, same sorted-array multiset contract,
  * [[PolyHash]] over the n-char substring instead of the joined token
  * window). The caller strips whitespace first when the chrF
  * convention (Popović 2015: word boundaries carry no char-gram mass)
  * is wanted — the expression itself hashes the string it is given.
  */
object CharGrams {
  def gramSet(s: String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    RougeGrams.occurrenceSet(Array.tabulate(math.max(s.length - n + 1, 0))(i =>
      PolyHash.eval(s.substring(i, i + n))))
}

/** Column API for the CDC / char-gram scans. */
object CdcColumns {
  import org.apache.spark.sql.Column

  /** Generator column: (chunk_no, start, clen, chash) rows per text. */
  def cdcChunks(c: Column, w: Int, maskBits: Int): Column =
    Kernels.cdcChunks(Seq(c), w, maskBits)

  /** Occurrence-indexed hashed char n-gram set (sorted long array). */
  def charGramSet(c: Column, n: Int): Column =
    Kernels.charGramSet(Seq(c), n)
}
