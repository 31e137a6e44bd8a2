package graft.plans

import org.apache.spark.sql.Column

/** Multi-phrase blocklist screening — the "banned words/phrases" gate
  * every crawl-curation pipeline runs (C4 drops any page containing a
  * phrase from a public bad-words list; RefinedWeb and FineWeb keep
  * URL/content blocklists) — as ONE compiled scan pass per document,
  * whatever the phrase count.
  *
  * The scanner is the Aho–Corasick automaton (Aho & Corasick 1975,
  * "Efficient String Matching: An Aid to Bibliographic Search", CACM
  * 18(6)): a trie over the phrases with failure links, so the text is
  * walked once — O(chars) amortized — instead of the O(chars × phrases)
  * of a contains() per phrase. Semantics are PRESENCE (which phrases
  * occur as substrings), so overlap conventions never enter and the
  * automaton must agree bit-for-bit with the naive OR-of-contains form —
  * exactly what the DuckDB oracle checks.
  *
  * Phrases are capped at 64 so the result is a LongType BITMASK (bit i =
  * phrase i present): one column carries the full screening verdict, and
  * bit_count/!=0 derive the usual count and boolean gates at zero cost.
  * Real blocklists run to thousands of entries — the automaton is
  * unchanged (its tables only grow); the mask RESULT type imposes the
  * cap, and a bigger deployment shards phrases across mask columns or
  * drops to a hit-count variant.
  */
final class AhoCorasick(phrases: Seq[String]) extends Serializable {
  require(phrases.nonEmpty && phrases.size <= 64,
    s"1..64 phrases required for the mask form, got ${phrases.size}")
  require(phrases.forall(_.nonEmpty), "empty phrase")

  /** All-phrases-present mask: early-exit target for the scan. */
  val fullMask: Long =
    if (phrases.size == 64) -1L else (1L << phrases.size) - 1L

  // Standard construction: trie (goto as per-node char maps), BFS failure
  // links, output masks OR-folded through the fail chain at build time so
  // the scan never walks fail links to collect outputs.
  private val (gotos, fail, out):
      (Array[java.util.HashMap[Character, Integer]], Array[Int], Array[Long]) = {
    val g = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val o = scala.collection.mutable.ArrayBuffer(0L)
    val f = scala.collection.mutable.ArrayBuffer(0)
    phrases.zipWithIndex.foreach { case (p, i) =>
      var s = 0
      p.foreach { ch =>
        val nxt = g(s).get(ch)
        s = if (nxt != null) nxt.intValue()
        else {
          g += new java.util.HashMap[Character, Integer]()
          o += 0L
          f += 0
          val id = g.size - 1
          g(s).put(ch, id)
          id
        }
      }
      o(s) |= 1L << i
    }
    val queue = new java.util.ArrayDeque[Integer]()
    g(0).forEach { (_, v) => queue.add(v) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      g(u).forEach { (ch, v) =>
        queue.add(v)
        var fs = f(u)
        while (fs != 0 && !g(fs).containsKey(ch)) fs = f(fs)
        val nxt = g(fs).get(ch)
        val link =
          if (nxt != null && nxt.intValue() != v.intValue()) nxt.intValue()
          else 0
        f(v) = link
        o(v) |= o(link)
      }
    }
    (g.toArray, f.toArray, o.toArray)
  }

  /** Bitmask of phrases occurring as substrings of `s`; one pass, early
    * exit once every phrase has been seen.
    */
  def presenceMask(s: String): Long = {
    var mask = 0L
    var state = 0
    var i = 0
    val len = s.length
    while (i < len && mask != fullMask) {
      val ch = Character.valueOf(s.charAt(i))
      var st = state
      var nxt = gotos(st).get(ch)
      while (st != 0 && nxt == null) {
        st = fail(st)
        nxt = gotos(st).get(ch)
      }
      state = if (nxt != null) nxt.intValue() else 0
      mask |= out(state)
      i += 1
    }
    mask
  }
}

object Blocklist {
  /** Column form: the phrase-presence bitmask — one compiled
    * Aho–Corasick pass per row, the OR-of-contains bitmask
    * `sum_i (contains(text, p_i) ? 1L << i : 0)` the oracle runs. */
  def blocklistMask(c: Column, phrases: Seq[String]): Column =
    Kernels.blocklistMask(Seq(c), phrases)
}
