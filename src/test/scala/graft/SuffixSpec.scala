package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Memos, Suffix}

/** Prefix-doubling suffix ranking: brute-force equivalence of the rank
  * order and adjacent LCPs, planted repeated-phrase recovery, and the
  * 2^R - 1 LCP cap.
  */
class SuffixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val L = 32 // 5 rounds

  /** Driver reference: per-doc suffix windows and their dense rank. */
  private def bruteRanks(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val sufs = docs.flatMap { case (id, text) =>
      val tk = text.split("\\s+").filter(_.nonEmpty)
      tk.indices.map(p => (id, p.toLong, tk.slice(p, p + L).toSeq))
    }
    implicit val ord: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering
    val ranks = sufs.map(_._3).distinct.sorted.zipWithIndex
      .map { case (w, i) => w -> (i + 1L) }.toMap
    sufs.map(s => (s._1, s._2) -> ranks(s._3)).toMap
  }

  private def randomDocs(n: Int, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("a", "b", "c", "d", "e")
    (0 until n).map(i => (i.toLong,
      (1 to (3 + rnd.nextInt(50))).map(_ => words(rnd.nextInt(5)))
        .mkString(" ")))
  }

  test("doubling ranks equal the brute-force window sort") {
    val docs = randomDocs(40, 13)
    val got = Suffix.suffixRanks(docs.toDF("doc_id", "text"),
        "doc_id", "text", rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == bruteRanks(docs))
  }

  test("composite-round alternation: brute parity across rounds 1..5 and seeds") {
    // rounds parity drives which rounds take the composite order-code
    // shortcut (odd, non-final) vs a dense rank — every ladder shape
    // must land on identical final dense ranks
    for (rounds <- 1 to 5; seed <- Seq(7, 101)) {
      val cap = 1 << rounds
      val docs = randomDocs(12, seed)
      val sufs = docs.flatMap { case (id, text) =>
        val tk = text.split("\\s+").filter(_.nonEmpty)
        tk.indices.map(p => (id, p.toLong, tk.slice(p, p + cap).toSeq))
      }
      implicit val ord: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering
      val rk = sufs.map(_._3).distinct.sorted.zipWithIndex
        .map { case (w, i) => w -> (i + 1L) }.toMap
      val expect = sufs.map(s => (s._1, s._2) -> rk(s._3)).toMap
      val got = Suffix.suffixRanks(docs.toDF("doc_id", "text"),
          "doc_id", "text", rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expect, s"rounds=$rounds seed=$seed")
      Memos.releaseAll()
    }
  }

  test("adjacent LCPs equal brute force") {
    val docs = randomDocs(25, 29)
    val tkOf = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty) }.toMap
    def lcpOf(a: (Long, Long), b: (Long, Long)): Long = {
      val wa = tkOf(a._1).slice(a._2.toInt, a._2.toInt + L)
      val wb = tkOf(b._1).slice(b._2.toInt, b._2.toInt + L)
      math.min(wa.zip(wb).takeWhile { case (x, y) => x == y }.size, L - 1)
    }
    val ranks = bruteRanks(docs)
    val orderKey = ranks.toSeq
      .sortBy { case ((id, p), r) => (r, id, p) }.map(_._1)
    val expect = orderKey.zip(orderKey.tail)
      .map { case (a, b) => (a._1, a._2, b._1, b._2) ->
        lcpOf(a, b) }.toMap
    val got = Suffix.lcpAdjacent(docs.toDF("doc_id", "text"),
        "doc_id", "text", rounds = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getLong(4)).toMap
    assert(got == expect)
  }

  test("early exit: all-distinct tokens converge at round 0; padded " +
      "slots alias the converged table; results unchanged") {
    val docs = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val tables = Suffix.rankTables(df, "doc_id", "text", rounds = 5)
    assert(tables.size == 6, "contract: rounds + 1 tables")
    assert(tables.tail.forall(_ eq tables.head),
      "all-distinct tokens are fully ranked at round 0 — later slots " +
        "must alias, not rebuild")
    val got = Suffix.suffixRanks(df, "doc_id", "text", rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == bruteRanks(docs))
    // no repeated substrings → every adjacent LCP is 0
    val lcps = Suffix.lcpAdjacent(df, "doc_id", "text", rounds = 5)
      .agg(max(col("lcp"))).head.getLong(0)
    assert(lcps == 0L)
  }

  test("early exit mid-ladder: planted repeat still measured exactly") {
    val docs = Seq((1L, "a b c a b d e f g h"))
    val df = docs.toDF("doc_id", "text")
    val tables = Suffix.rankTables(df, "doc_id", "text", rounds = 5)
    assert(tables.size == 6)
    assert(tables(5) eq tables(4),
      "10 distinct-by-4-tokens suffixes converge before round 5")
    val got = Suffix.lcpAdjacent(df, "doc_id", "text", rounds = 5)
      .filter(col("lcp") > 0).collect()
    assert(got.length == 2, "'a b' and 'b' adjacent repeats")
    assert(got.map(_.getLong(4)).sorted.toSeq == Seq(1L, 2L))
  }

  test("longestRepeats recovers a planted cross-doc phrase, capped at 31") {
    val filler1 = (1 to 40).map(i => s"x$i").mkString(" ")
    val filler2 = (1 to 40).map(i => s"y$i").mkString(" ")
    val phrase = (1 to 40).map(i => s"p$i").mkString(" ") // 40 > cap
    val docs = Seq(
      (1L, s"$filler1 $phrase"),
      (2L, s"$phrase $filler2")).toDF("doc_id", "text")
    val top = Suffix.longestRepeats(docs, "doc_id", "text", rounds = 5, k = 3)
      .collect()
    assert(top.head.getLong(0) == 31L, "40-token repeat must cap at 31")
    assert(top.head.getString(5).startsWith("p1 p2 p3 "))
    // the reported positions actually carry the phrase in both docs
    val (ia, pa) = (top.head.getLong(1), top.head.getLong(2))
    val (ib, pb) = (top.head.getLong(3), top.head.getLong(4))
    assert(ia != ib || pa != pb)
  }
}
