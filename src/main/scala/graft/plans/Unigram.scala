package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style, Kudo 2018 "Subword Regularization")
  * Viterbi segmentation: each word is split into the vocabulary piece
  * sequence of MINIMUM total cost, cost(piece) = the quantized negative
  * log-probability in integer milli-nats. With integer costs and a total
  * deterministic tie-break the segmentation is exact cross-engine
  * arithmetic — DuckDB replays the identical DP as an unrolled
  * stage-per-position chain, so full segmentations sit under the hash
  * oracle (the same construction the engine uses for WordPiece's greedy
  * longest-match and BPE's merge replay; this completes the third of the
  * three standard subword families: merge-based, greedy-match, and
  * likelihood-Viterbi).
  *
  * DP state per prefix position: (cost, n_pieces, path) minimized
  * LEXICOGRAPHICALLY. The triple is concatenation-compatible — two
  * states at the same position with equal cost and equal n_pieces have
  * equal-length path strings (j chars + n_pieces−1 separators), so the
  * bytewise path comparison can never flip when a common suffix is
  * appended — which makes the lexicographic DP exact, not heuristic.
  * Ties on (cost, n_pieces) are therefore broken toward the
  * alphabetically smallest piece sequence, in both engines.
  *
  * Unknown characters: a single character absent from the vocabulary is
  * consumed as itself at `unkCost`. Oracle-gated queries pin closure
  * instead (vocab covers [a-z], tokens filtered to ^[a-z]+$ on both
  * sides), so the fallback never fires under the gate. Path comparison
  * is Java UTF-16 code-unit order, which equals DuckDB's UTF-8 byte
  * order on ASCII vocabularies (asserted by UgVocab).
  */
final class UgVocab(val costs: Map[String, Long], val unkCost: Long)
    extends Serializable {
  require(costs.nonEmpty, "empty vocabulary")
  require(costs.keysIterator.forall(_.nonEmpty), "empty piece")
  require(costs.valuesIterator.forall(_ >= 0L), "negative piece cost")
  // a negative unkCost fails the DP's c >= 0 reachability check and
  // leaves positions unreachable (null paths); a space inside a piece
  // would corrupt the space-joined path invariant the tie-break and
  // wordPieces' split both rely on
  require(unkCost >= 0L, s"negative unkCost: $unkCost")
  require(costs.keysIterator.forall(!_.contains(' ')),
    "space character inside a vocabulary piece")
  // ASCII-only pieces keep Java string order == UTF-8 byte order for the
  // path tie-break; lift this only together with a UTF8String comparator.
  require(costs.keysIterator.forall(_.forall(_ < 128)),
    "non-ASCII piece in vocabulary")
  // java.lang.Long values: a primitive-Long map would auto-unbox get()'s
  // miss sentinel null to 0 — a zero-cost phantom piece.
  private val map = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    costs.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }
  val maxLen: Int = costs.keysIterator.map(_.length).max

  /** Viterbi-segment one word. Returns (totalCost, pieces) — pieces as
    * the space-joined path (words never contain whitespace).
    */
  def segWord(word: String): (Long, String) = {
    val len = word.length
    val cost = new Array[Long](len + 1)
    val np = new Array[Int](len + 1)
    val path = new Array[String](len + 1)
    path(0) = ""
    var j = 1
    while (j <= len) {
      var bestCost = Long.MaxValue
      var bestNp = Int.MaxValue
      var bestPath: String = null
      var l = math.min(j, maxLen)
      while (l >= 1) {
        val prev = path(j - l)
        if (prev != null) {
          val piece = word.substring(j - l, j)
          val c = map.get(piece) match {
            case null => if (l == 1) unkCost else -1L
            case v => v.longValue()
          }
          if (c >= 0L) {
            val nc = cost(j - l) + c
            val nn = np(j - l) + 1
            val npth = if (prev.isEmpty) piece else prev + " " + piece
            val less = nc < bestCost || (nc == bestCost &&
              (nn < bestNp || (nn == bestNp &&
                (bestPath == null || npth.compareTo(bestPath) < 0))))
            if (less) { bestCost = nc; bestNp = nn; bestPath = npth }
          }
        }
        l -= 1
      }
      cost(j) = bestCost
      np(j) = bestNp
      path(j) = bestPath // null iff position unreachable (never with unk)
      j += 1
    }
    (cost(len), path(len))
  }

  /** [n_pieces, total_cost] for one word. */
  def wordStats(word: String): ArrayData = {
    val (c, p) = segWord(word)
    val n = if (p.isEmpty) 0L else (p.count(_ == ' ') + 1).toLong
    new GenericArrayData(Array[Any](n, c))
  }

  /** Pieces of one word as array<string>. */
  def wordPieces(word: String): ArrayData = {
    val (_, p) = segWord(word)
    val out =
      if (p.isEmpty) Array.empty[AnyRef]
      else p.split(' ').map(s => UTF8String.fromString(s): AnyRef)
    new GenericArrayData(out)
  }
}

object Unigram {
  /** Column: [n_pieces, cost_milli] of one word under the cost table. */
  def wordStats(c: Column, costs: Map[String, Long],
      unkCost: Long = 16000L): Column =
    Kernels.unigramStats(Seq(c), costs, unkCost)

  /** Column: Viterbi pieces of one word under the cost table. */
  def wordPieces(c: Column, costs: Map[String, Long],
      unkCost: Long = 16000L): Column =
    Kernels.unigramPieces(Seq(c), costs, unkCost)
}
