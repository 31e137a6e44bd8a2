package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece-style greedy segmentation (Wu et al. 2016, "Google's Neural
  * Machine Translation System" §4.1 — the BERT tokenizer's algorithm):
  * each whitespace word is segmented left to right by the LONGEST vocab
  * piece matching at the cursor; where nothing matches, one character is
  * consumed as the unknown token. Deterministic by construction (the
  * longest matching prefix of a fixed string is unique), which is what
  * lets the whole segmentation sit under the hash oracle — DuckDB
  * reproduces it with a recursive CTE whose step picks the same longest
  * prefix.
  *
  * Deviation from BERT noted: no `##` continuation marking — pieces
  * match anywhere in the word, not just at starts (the continuation
  * alphabet doubles the vocab and adds nothing to the engine shape).
  * The companion trained-merges path is [[graft.functions.Bpe]]; this
  * expression is the INFERENCE side for a given vocabulary, map-only at
  * parquet-scan speed with the vocab as a shared reference object.
  */
final class WpVocab(val pieces: Seq[String], val unk: String)
    extends Serializable {
  require(pieces.nonEmpty, "empty vocabulary")
  require(pieces.forall(_.nonEmpty), "empty piece")
  require(pieces.distinct.size == pieces.size, "duplicate pieces")
  private val set = {
    val s = new java.util.HashSet[String]()
    pieces.foreach(s.add)
    s
  }
  private val maxLen = pieces.iterator.map(_.length).max

  /** Append the greedy segmentation of one word to `out`. */
  def segment(word: String, out: java.util.ArrayList[UTF8String]): Unit = {
    var i = 0
    val len = word.length
    while (i < len) {
      var l = math.min(maxLen, len - i)
      var found: String = null
      while (l >= 1 && found == null) {
        val cand = word.substring(i, i + l)
        if (set.contains(cand)) found = cand
        l -= 1
      }
      if (found == null) { out.add(UTF8String.fromString(unk)); i += 1 }
      else { out.add(UTF8String.fromString(found)); i += found.length }
    }
  }

  /** All pieces of all whitespace words of `s`, flattened in order. */
  def tokenize(s: String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    TokenScan.scanTokens(s) { w => segment(w, out); true }
    new GenericArrayData(out.toArray)
  }
}

object WordPiece {
  /** Column form: greedy WordPiece pieces of a text column. */
  def wordpiece(c: Column, pieces: Seq[String],
      unk: String = "[UNK]"): Column =
    Kernels.wordpiece(Seq(c), pieces, unk)
}
