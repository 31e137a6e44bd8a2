package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Eval, NaiveBayes}

/** Classifier evaluation: hand-computed confusion/metrics fixtures,
  * the never-predicted-class row, reliability bucketing, and the
  * margin contract of classifyWithMargin.
  */
class EvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val conf = Eval.confusion(
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "b"))
      .toDF("id", "p"),
    "id", "p",
    Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "c"), (5L, "b"))
      .toDF("id", "t"),
    "t")

  test("confusion counts the joined (true, pred) cells") {
    val m = conf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("a", "a") -> 1L, ("b", "a") -> 1L, ("b", "b") -> 2L,
      ("c", "a") -> 1L))
  }

  test("classMetrics: exact tp/fp/fn and ppm; unpredicted class rows") {
    val m = Eval.classMetrics(conf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    // a: tp=1 fp=2 fn=0 -> p=1/3, r=1, f1=2/4
    assert(m("a") == ((1L, 2L, 0L, Some(333333L), Some(1000000L),
      Some(500000L))))
    // b: tp=2 fp=0 fn=1 -> p=1, r=2/3, f1=4/5
    assert(m("b") == ((2L, 0L, 1L, Some(1000000L), Some(666667L),
      Some(800000L))))
    // c: never predicted: tp=0 fp=0 fn=1 -> precision NULL, recall 0
    assert(m("c") == ((0L, 0L, 1L, None, Some(0L), Some(0L))))
  }

  test("rougeN: clipped bigram counts, zero-overlap pairs score zero, " +
      "gram-less docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"), // bigrams: "a b"x3, "b a"x2 -> 5
      (2L, "a b c"),       // "a b", "b c" -> 2
      (3L, "x y z"),
      (4L, "solo")         // no bigrams: pairs with it drop
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 2L), (4L, 2L)).toDF("id_a", "id_b")
    val got = Eval.rougeN(pairs, docs, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    // clipping: "a b" appears 3x in cand but once in ref -> overlap 1
    assert(got((1L, 2L)) ==
      ((1L, 5L, 2L, 200000L, 500000L, 285714L)), got.toString)
    assert(got((3L, 2L)) == ((0L, 2L, 2L, 0L, 0L, 0L)))
    assert(!got.contains((4L, 2L)), "gram-less side must drop the pair")
    // the compiled gram-set builder actually compiles (no fallback)
    org.apache.spark.GraftTestBridge.compileExpression(
      graft.plans.RougeGramSetExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("a b a b"), 2))
    // occurrence indexing: "a b" twice -> two DISTINCT elements
    val gs = graft.plans.RougeGrams.gramSet("a b a b", 2)
    assert(gs.numElements() == 3)
    assert((0 until 3).map(gs.getLong).distinct.size == 3)
  }

  test("mrrAtK: exact lcm-scaled reciprocal ranks, misses score zero, " +
      "rank beyond k ignored") {
    import spark.implicits._
    val approx = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L),             // q1: hit at rank 2
      (2L, 20L, 1L),                            // q2: hit at rank 1
      (3L, 30L, 1L), (3L, 31L, 2L),             // q3: no hit in top k
      (4L, 40L, 6L)                             // q4: hit only past k
    ).toDF("query_id", "neighbor_id", "rank")
    val exact = Seq((1L, 11L), (1L, 12L), (2L, 20L), (3L, 99L), (4L, 40L))
      .toDF("query_id", "neighbor_id")
    val got = Eval.mrrAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // lcm(1..5) = 60
    assert(got(1L) == ((2L, 30L, 500000L)))
    assert(got(2L) == ((1L, 60L, 1000000L)))
    assert(got(3L) == ((0L, 0L, 0L)), "no relevant hit -> rr 0")
    assert(got(4L) == ((0L, 0L, 0L)), "hit past k must not count")
    assert(got.size == 4, "every exact-side query emits a row")
  }

  test("mapAtK: hand-computed lcm-scaled precision terms; miss queries " +
      "score zero") {
    import spark.implicits._
    val approx = Seq(
      // q1: rel at ranks 1 and 3 -> AP = (1/1 + 2/3)/2 over k_true=2
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      // q2: no relevant hit
      (2L, 20L, 1L)
    ).toDF("query_id", "neighbor_id", "rank")
    val exact = Seq((1L, 10L), (1L, 12L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val got = Eval.mapAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // lcm(1..5)=60: ap_num = 1*(60/1) + 2*(60/3) = 100; den = 60*2
    // ap = 100/120 = 5/6 -> 833333 ppm
    assert(got(1L) == ((2L, 2L, 100L, 833333L)), got.toString)
    assert(got(2L) == ((1L, 0L, 0L, 0L)))
  }

  test("rougeL: LCS matches a brute-force reference, cap truncates, " +
      "codegen compiles") {
    import spark.implicits._
    // brute-force LCS over token seqs
    def ref(a: String, b: String, cap: Int): Int = {
      val ta = a.split("\\s+").filter(_.nonEmpty).take(cap)
      val tb = b.split("\\s+").filter(_.nonEmpty).take(cap)
      val dp = Array.ofDim[Int](ta.length + 1, tb.length + 1)
      for (i <- 1 to ta.length; j <- 1 to tb.length)
        dp(i)(j) = if (ta(i - 1) == tb(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(ta.length)(tb.length)
    }
    val rnd = new scala.util.Random(11)
    val words = Seq("a", "b", "c", "d")
    val texts = (0 until 12).map(i => i.toLong ->
      (1 to 2 + rnd.nextInt(20)).map(_ => words(rnd.nextInt(4)))
        .mkString(" ")).toMap
    val docs = texts.toSeq.toDF("doc_id", "text")
    val pairs = (0L until 6L).map(i => (i, i + 6L)).toDF("id_a", "id_b")
    val got = Eval.rougeL(pairs, docs, "doc_id", "text", cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    got.foreach { case ((a, b), (lcs, nc, nr)) =>
      assert(lcs == ref(texts(a), texts(b), 8).toLong, s"pair ($a,$b)")
      assert(nc == math.min(texts(a).split(" ").length, 8).toLong)
      assert(nr == math.min(texts(b).split(" ").length, 8).toLong)
      assert(lcs <= math.min(nc, nr))
    }
    assert(got.size == 6)
    // in-order non-contiguous credit: "a x b y c" vs "a b c" -> 3
    assert(graft.plans.Lcs.tokenLcs("a x b y c", "a b c", 100) == 3)
    // order matters: reversed shares only 1
    assert(graft.plans.Lcs.tokenLcs("a b c", "c b a", 100) == 1)
    // codegen path actually compiles (no interpreted fallback)
    org.apache.spark.GraftTestBridge.compileExpression(
      graft.plans.TokenLcsExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("a b"),
        org.apache.spark.sql.catalyst.expressions.Literal("a c"), 16))
  }

  test("macroMetrics: hand-computed accuracy, macro and weighted means; " +
      "undefined per-class metrics count as zero") {
    import spark.implicits._
    val cm = Seq(("a", "a", 3L), ("a", "b", 1L), ("b", "a", 2L),
        ("b", "b", 2L), ("c", "a", 1L))
      .toDF("true_class", "pred_class", "n")
    val r = Eval.macroMetrics(cm).collect().head
    assert(r.getLong(0) == 3L) // classes a, b, c
    assert(r.getLong(1) == 555556L, "accuracy 5/9") // half-up
    // per-class: a p=3/6 r=3/4 f1=6/10; b p=2/3 r=2/4 f1=4/7;
    // c p=NULL(->0) r=0 f1=0
    assert(r.getLong(2) == 388889L, "macro precision (500000+666667+0)/3")
    assert(r.getLong(3) == 416667L, "macro recall (750000+500000+0)/3")
    assert(r.getLong(4) == 390476L, "macro f1 (600000+571429+0)/3")
    // supports 4/4/1: (4*600000 + 4*571429 + 1*0) / 9
    assert(r.getLong(5) == 520635L, "weighted f1")
  }

  test("reliability buckets by truncating division and drops null conf") {
    val pred = Seq((1L, 10L, true), (2L, 19L, false), (3L, 25L, true),
      (4L, 25L, true)).toDF("id", "conf", "ok")
      .union(Seq((5L, Option.empty[Long], true)).toDF("id", "conf", "ok"))
    val r = Eval.reliability(pred, "conf", col("ok"), binWidth = 10L)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(1L -> ((2L, 1L, 500000L)), 2L -> ((2L, 2L, 1000000L))))
  }

  test("averagePrecision equals the per-positive precision sum, " +
      "deterministic under ties") {
    val rows = Seq((10L, 1L, true), (9L, 2L, false), (8L, 3L, true),
      (8L, 4L, true), (1L, 5L, false))
    val df = rows.toDF("score", "id", "pos")
    val r = Eval.averagePrecision(df, "score", "id", col("pos"))
      .collect()(0)
    // rank order (score desc, id asc): ids 1,2,3,4,5; positives at
    // ranks 1 (prec 1/1), 3 (2/3), 4 (3/4)
    def ppm(a: Long, b: Long) = (2L * 1000000L * a + b) / (2L * b)
    val expSum = ppm(1, 1) + ppm(2, 3) + ppm(3, 4)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 5L, expSum, expSum / 3L)))
    // all-negative input: EMPTY result, not a null row
    val neg = Seq((5L, 1L, false)).toDF("score", "id", "pos")
    assert(Eval.averagePrecision(neg, "score", "id", col("pos"))
      .collect().isEmpty)
    // partitioning determinism
    val again = Eval.averagePrecision(df.repartition(7), "score", "id",
      col("pos")).collect()(0)
    assert(again.getLong(2) == expSum)
  }

  test("ndcg: perfect ranking scores 1e6, inversions discount, " +
      "unjudged-only rankings are NULL") {
    val judged = Seq((1L, 10L, 3L), (1L, 11L, 2L), (1L, 12L, 1L),
      (2L, 20L, 1L)).toDF("q", "item", "rel")
    def ranked(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("q", "item", "rank")
    // query 1 ranked exactly by relevance -> DCG == IDCG -> 1e6
    val perfect = Eval.ndcg(
        ranked(Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))),
        judged, "q", "item", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(perfect(1L) == Some(1000000L))
    // inverted ranking scores strictly less
    val inverted = Eval.ndcg(
        ranked(Seq((1L, 12L, 1L), (1L, 11L, 2L), (1L, 10L, 3L))),
        judged, "q", "item", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) ->
        r.get(3).asInstanceOf[Long]).toMap
    assert(inverted(1L) < 1000000L && inverted(1L) > 0L)
    // a ranking of only unjudged items: dcg 0 over idcg > 0 -> 0;
    // a query with NO positive judgments -> NULL
    val unjudged = Eval.ndcg(ranked(Seq((1L, 99L, 1L))), judged,
        "q", "item", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(3))))).toMap
    assert(unjudged(1L) == ((0L, Some(0L))))
    val noPos = Eval.ndcg(ranked(Seq((3L, 1L, 1L))),
        Seq((3L, 1L, 0L)).toDF("q", "item", "rel"),
        "q", "item", "rank", "rel", k = 3)
      .collect()
    assert(noPos.length == 1 && noPos(0).isNullAt(3))
  }

  test("topkRecall: per-query overlap, dropped queries score zero") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)) // query 2 dropped
      .toDF("query_id", "neighbor_id")
    val r = Eval.topkRecall(approx, exact, "query_id", "neighbor_id")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((3L, 2L, 666667L)))
    assert(r(2L) == ((2L, 0L, 0L)))
  }

  test("aucExact equals the brute-force pairwise U on random data") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextBoolean()))
    val df = rows.toDF("score", "pos")
    val r = Eval.aucExact(df, "score", col("pos")).collect()(0)
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val u2 = (for (p <- pos; n <- neg) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((pos.size.toLong, neg.size.toLong, u2)))
    val expPpm = (2L * 1000000L * u2 +
      2L * pos.size * neg.size) / (4L * pos.size * neg.size)
    assert(r.getLong(3) == expPpm)
    // perfect separation -> 1e6; random labels on one score -> 5e5
    val perfect = Seq((10L, true), (9L, true), (1L, false), (0L, false))
      .toDF("score", "pos")
    assert(Eval.aucExact(perfect, "score", col("pos"))
      .collect()(0).getLong(3) == 1000000L)
    val allTied = Seq((5L, true), (5L, false)).toDF("score", "pos")
    assert(Eval.aucExact(allTied, "score", col("pos"))
      .collect()(0).getLong(3) == 500000L)
    // single-class input -> NULL auc
    val onePos = Seq((5L, true)).toDF("score", "pos")
    assert(Eval.aucExact(onePos, "score", col("pos"))
      .collect()(0).isNullAt(3))
  }

  test("isotonicCalibrate equals reference PAV on random weighted bins") {
    // reference pool-adjacent-violators over (w, s) blocks
    def pav(bins: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val blocks = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int)] // (w, s, nBins)
      for ((w, s) <- bins) {
        blocks += ((w, s, 1))
        // pool while the last block's mean < the previous block's mean
        // (exact cross-multiplied comparison)
        var go = true
        while (go && blocks.length >= 2) {
          val (w2, s2, c2) = blocks(blocks.length - 1)
          val (w1, s1, c1) = blocks(blocks.length - 2)
          if (s2 * w1 < s1 * w2) {
            blocks.remove(blocks.length - 1)
            blocks.remove(blocks.length - 1)
            blocks += ((w1 + w2, s1 + s2, c1 + c2))
          } else go = false
        }
      }
      blocks.toSeq.flatMap { case (w, s, c) => Seq.fill(c)((s, w)) }
    }
    val rnd = new scala.util.Random(7)
    val bins = (0 until 12).map(i =>
      (i.toLong, 1L + rnd.nextInt(9).toLong)).map { case (b, n) =>
      (b, n, rnd.nextInt(n.toInt + 1).toLong)
    }
    val rel = bins.toDF("bin", "n", "n_correct")
    val got = Eval.isotonicCalibrate(rel).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val ref = pav(bins.map(t => (t._2, t._3)))
    for (((b, n, _), (s, w)) <- bins.zip(ref)) {
      // expected cal_ppm: exact half-away ppm of the pooled fraction
      val expect = ((2L * 1000000L * s + w) / (2L * w))
      assert(got(b) == expect, s"bin $b: got ${got(b)} want $expect " +
        s"(pooled $s/$w) in $bins")
    }
    // monotone nondecreasing by construction
    val ordered = bins.map(t => got(t._1))
    assert(ordered == ordered.sorted)
  }

  test("isotonicCalibrate: already-monotone bins keep their accuracy") {
    val rel = Seq((0L, 4L, 1L), (1L, 4L, 2L), (2L, 4L, 4L))
      .toDF("bin", "n", "n_correct")
    val got = Eval.isotonicCalibrate(rel).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got.values.forall { case (acc, cal) => acc == cal }, got)
  }

  test("isotonicCalibrate: a bin table above IsotonicMaxBins fails " +
      "with a message") {
    val rel = spark.range(Eval.IsotonicMaxBins + 1L)
      .select(col("id").as("bin"), lit(1L).as("n"), lit(0L).as("n_correct"))
    val e = intercept[IllegalArgumentException](Eval.isotonicCalibrate(rel))
    assert(e.getMessage.contains("exceeds IsotonicMaxBins"), e.getMessage)
  }

  test("classifyWithMargin: margin = best minus runner-up, prediction " +
      "matches classify") {
    val docs = Seq((1L, "aa aa bb", "x"), (2L, "cc cc dd", "y"),
      (3L, "aa cc", "x")).toDF("doc_id", "text", "lang")
    val base = NaiveBayes.classify(docs, docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = NaiveBayes.classifyWithMargin(docs, docs, "doc_id", "text",
        "lang")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(m.keySet == base.keySet)
    for ((id, (p, margin)) <- m) {
      assert(p == base(id), s"doc $id prediction drifted")
      assert(margin >= 0L, s"doc $id negative margin $margin")
    }
  }

  test("selectiveRisk: cumulative-from-top coverage and risk") {
    import spark.implicits._
    // bins (width 10): bin 2 = {correct, correct}, bin 1 = {correct,
    // wrong}, bin 0 = {wrong}
    val pred = Seq((25L, true), (22L, true), (15L, true), (12L, false),
      (5L, false)).toDF("conf", "ok")
    val got = Eval.selectiveRisk(pred, "conf", col("ok"), binWidth = 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // accept >= bin2: 2 rows, 0 errors; >= bin1: 4 rows, 1 error;
    // >= bin0: all 5, 2 errors
    assert(got(2L) == ((2L, 2L, 2L, 400000L, 0L)))
    assert(got(1L) == ((2L, 4L, 3L, 800000L, 250000L)))
    assert(got(0L) == ((1L, 5L, 3L, 1000000L, 400000L)))
  }

  test("knnClassify: majority vote, deterministic tie, correctness flag") {
    import spark.implicits._
    // q1: neighbors 10,11,12 labeled 7,7,8 -> majority 7 (true 7: hit)
    // q2: neighbors 10,12 labeled 7,8 -> 1-1 tie, smaller label 7 wins
    //     (true 8: miss)
    val nn = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "neighbor_id")
    val labels = Seq((1L, 7), (2L, 8), (10L, 7), (11L, 7), (12L, 8))
      .toDF("vec_id", "label")
    val got = Eval.knnClassify(nn, labels, "query_id", "neighbor_id",
        "vec_id", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((7L, 7L, true)))
    assert(got(2L) == ((7L, 8L, false)))
  }

  test("errAtK: cascade fold matches the hand-computed dyadic terms") {
    import spark.implicits._
    // q1 grades by rank: (5, 0, 2) at gmax=5 (D=32):
    //  r1: R=31/32        -> term = 31e6/32 = 968750 exactly
    //  r2: R=0            -> term 0, stop mass unchanged (1/32)
    //  r3: R=3/32, mass 1/32 -> (1/3)(3/32)(1/32) = 976.5625 -> 977
    val ranked = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 10L, 1L)).toDF("query_id", "item", "rank")
    val judged = Seq((1L, 10L, 5L), (1L, 12L, 2L))
      .toDF("query_id", "item", "rel")
    val got = Eval.errAtK(ranked, judged, "query_id", "item", "rank",
        "rel", k = 5, gmax = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 968750L + 977L, got)
    // a ranking with no judged items scores exactly 0 (never NULL)
    assert(got(2L) == 0L)
  }

  test("cohenKappa: perfect, chance-level, and hand-computed agreement") {
    import spark.implicits._
    // perfect diagonal -> kappa exactly 1
    val perfect = Seq(("a", "a", 2L), ("b", "b", 3L))
      .toDF("true_class", "pred_class", "n")
    val p = Eval.cohenKappa(perfect).collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))
      == ((5L, 5L, 13L, 1000000L)))
    // hand case: cm (a,a)=1,(a,b)=1,(b,b)=2: N=4 agree=3
    // rows a=2,b=2; cols a=1,b=3; pe = 2*1+2*3 = 8
    // kappa = (12-8)/(16-8) = 1/2
    val mixed = Seq(("a", "a", 1L), ("a", "b", 1L), ("b", "b", 2L))
      .toDF("true_class", "pred_class", "n")
    assert(Eval.cohenKappa(mixed).collect()(0).getLong(3) == 500000L)
    // degenerate: both sides constant -> p_e = 1 -> NULL, not an error
    val const = Seq(("a", "a", 4L)).toDF("true_class", "pred_class", "n")
    assert(Eval.cohenKappa(const).collect()(0).isNullAt(3))
    // chance-level: predictions independent of truth -> kappa 0
    // cm = (a,a)=1,(a,b)=1,(b,a)=1,(b,b)=1: N=4 agree=2 pe=8
    // kappa = (8-8)/(16-8) = 0
    val chance = Seq(("a", "a", 1L), ("a", "b", 1L), ("b", "a", 1L),
      ("b", "b", 1L)).toDF("true_class", "pred_class", "n")
    assert(Eval.cohenKappa(chance).collect()(0).getLong(3) == 0L)
  }

  test("sliceAccuracy: exact per-slice ppm, empty-correct slice is 0") {
    import spark.implicits._
    val pred = Seq((1L, "en", "en"), (2L, "en", "fr"), (3L, "en", "en"),
      (4L, "fr", "en"), (5L, "fr", "en"))
      .toDF("doc_id", "lang", "pred_class")
    val got = Eval.sliceAccuracy(pred, "lang",
        col("pred_class") === col("lang"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("en") == ((3L, 2L, 666667L)))
    assert(got("fr") == ((2L, 0L, 0L))) // the slice the aggregate hides
  }

  test("conformalSplit: hand-built posteriors, tau rank, coverage, sets") {
    import spark.implicits._
    val po = Seq(
      (0L, "a", 10L, 1), (0L, "b", 8L, 2),   // cal, truth a -> a = 0
      (2L, "a", 10L, 1), (2L, "b", 4L, 2),   // cal, truth b -> a = 6
      (1L, "a", 9L, 1), (1L, "b", 7L, 2),    // eval, truth b -> a = 2
      (3L, "a", 5L, 1), (3L, "b", 3L, 2))    // eval, truth a -> a = 0
      .toDF("doc_id", "class", "score_q", "rank")
    val truth = Seq((0L, "a"), (1L, "b"), (2L, "b"), (3L, "a"))
      .toDF("doc_id", "lang")
    // alpha 10%: rank ceil(2*0.9) = 2 of {0,6} -> tau 6; both eval
    // docs covered, both sets = {a, b}
    val r = Eval.conformalSplit(po, truth, "doc_id", "lang",
      col("doc_id") % 2 === 0, alphaBps = 1000).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 2L, 6L, 2L, 2L)))
    assert(r.getLong(5) == 1000000L && r.getLong(6) == 2000000L)
    // alpha 50%: rank 1 -> tau 0; only doc3 covered; singleton sets
    val h = Eval.conformalSplit(po, truth, "doc_id", "lang",
      col("doc_id") % 2 === 0, alphaBps = 5000).collect()(0)
    assert(h.getLong(2) == 0L && h.getLong(4) == 1L)
    assert(h.getLong(5) == 500000L && h.getLong(6) == 1000000L)
    // a calibration doc whose true class never scored counts in the
    // quantile denominator with infinite nonconformity: at alpha 10%
    // the target rank (3 of 3) lands in the infinite tail -> tau NULL
    // (tau = infinity: degenerate calibration, coverage not gated);
    // at alpha 50% the rank (2) stays finite -> tau = 6
    val po2 = po.unionByName(Seq((4L, "a", 7L, 1))
      .toDF("doc_id", "class", "score_q", "rank"))
    val truth2 = truth.unionByName(Seq((4L, "c")).toDF("doc_id", "lang"))
    val inf = Eval.conformalSplit(po2, truth2, "doc_id", "lang",
      col("doc_id") % 2 === 0, alphaBps = 1000).collect()(0)
    assert((inf.getLong(0), inf.getLong(1)) == ((3L, 2L)))
    assert(inf.isNullAt(2) && inf.isNullAt(5))
    val m = Eval.conformalSplit(po2, truth2, "doc_id", "lang",
      col("doc_id") % 2 === 0, alphaBps = 5000).collect()(0)
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == ((3L, 2L, 6L)))
  }

  test("prAuc: perfect ranking, hand-computed interleaved AP") {
    import spark.implicits._
    // perfect: positives above every negative -> AP exactly 1
    val perfect = Seq((3L, "p"), (2L, "p"), (1L, "n")).toDF("s", "c")
    val p = Eval.prAuc(perfect, "s", col("c") === "p").collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2))
      == ((2L, 1L, 1000000L)))
    // interleaved pos(3), neg(2), pos(1):
    // terms 1e6 + 0 + (2e6 // 3) -> AP = round(1666666/2) = 833333
    val mixed = Seq((3L, "p"), (2L, "n"), (1L, "p")).toDF("s", "c")
    assert(Eval.prAuc(mixed, "s", col("c") === "p").collect()(0)
      .getLong(2) == 833333L)
    // no positives -> NULL, not 0/0
    val none = Seq((1L, "n")).toDF("s", "c")
    assert(Eval.prAuc(none, "s", col("c") === "p").collect()(0)
      .isNullAt(2))
  }

  test("mcnemar: discordant-pair chi-square, NULL-as-wrong, no-signal") {
    import spark.implicits._
    // b = 3 (A right, B wrong), c = 1: chi2 = 4/4 = 1
    val paired = Seq(
      (1L, true, false), (2L, true, false), (3L, true, false),
      (4L, false, true), (5L, true, true), (6L, false, false))
      .toDF("id", "ra", "rb")
    val r = Eval.mcnemar(paired, col("ra"), col("rb")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((6L, 3L, 1L, 1000000L)))
    // a NULL correctness (model couldn't answer) counts as wrong
    val withNull = Seq((1L, Some(true), None: Option[Boolean]),
      (2L, Some(true), Some(true))).toDF("id", "ra", "rb")
    val n = Eval.mcnemar(withNull, col("ra"), col("rb")).collect()(0)
    assert(n.getLong(1) == 1L && n.getLong(2) == 0L)
    // fully concordant models are indistinguishable -> NULL
    val same = Seq((1L, true, true), (2L, false, false))
      .toDF("id", "ra", "rb")
    assert(Eval.mcnemar(same, col("ra"), col("rb")).collect()(0)
      .isNullAt(3))
  }

  test("mcc: perfect, chance, hand-computed 1/3, empty-margin NULL") {
    import spark.implicits._
    // perfect: tp=2 tn=2 -> mcc_num = 4, MCC^2 = 1
    val perfect = Seq(("a", "a", 2L), ("b", "b", 2L))
      .toDF("true_class", "pred_class", "n")
    val p = Eval.mcc(perfect, "a").collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))
      == ((2L, 0L, 0L, 2L)))
    assert(p.getLong(4) == 4L && p.getLong(5) == 1000000L)
    // chance: uniform cells -> num = 0
    val chance = Seq(("a", "a", 1L), ("a", "b", 1L), ("b", "a", 1L),
      ("b", "b", 1L)).toDF("true_class", "pred_class", "n")
    val c = Eval.mcc(chance, "a").collect()(0)
    assert(c.getLong(4) == 0L && c.getLong(5) == 0L)
    // hand case: tp=2 fp=1 fn=1 tn=2 -> MCC = 3/9 = 1/3,
    // MCC^2 = 9/81 -> 111111 ppm
    val mixed = Seq(("a", "a", 2L), ("b", "a", 1L), ("a", "b", 1L),
      ("b", "b", 2L)).toDF("true_class", "pred_class", "n")
    val m = Eval.mcc(mixed, "a").collect()(0)
    assert(m.getLong(4) == 3L && m.getLong(5) == 111111L)
    // degenerate: everything labeled/predicted positive -> a zero
    // margin -> NULL (the textbook 0/0), not a crash
    val allPos = Seq(("a", "a", 4L)).toDF("true_class", "pred_class", "n")
    assert(Eval.mcc(allPos, "a").collect()(0).isNullAt(5))
  }

  test("brierDecomposition: REL/RES/UNC in exact ppm^2, BS identity") {
    val cal = Seq(
      (0L, 2L, 1L, 500000L, 400000L),
      (1L, 2L, 1L, 500000L, 600000L)
    ).toDF("bin", "n", "n_correct", "acc_ppm", "cal_ppm")
    val r = Eval.brierDecomposition(cal).collect()(0)
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("base_ppm") == 500000L)
    // rel = (2*1e10 + 2*1e10)/4; res = 0; unc = 5e5*5e5/1e6
    assert(r.getAs[Long]("rel_ppm2") == 10000000000L)
    assert(r.getAs[Long]("res_ppm2") == 0L)
    assert(r.getAs[Long]("unc_ppm2") == 250000L)
    assert(r.getAs[Long]("brier_ppm2") == 10000250000L)
  }

  test("brierDecomposition: perfectly calibrated bins put all mass in RES") {
    val cal = Seq(
      (0L, 3L, 0L, 0L, 0L),
      (1L, 1L, 1L, 1000000L, 1000000L)
    ).toDF("bin", "n", "n_correct", "acc_ppm", "cal_ppm")
    val r = Eval.brierDecomposition(cal).collect()(0)
    assert(r.getAs[Long]("rel_ppm2") == 0L)
    // obar = 250000; res = (3*250000^2 + 1*750000^2)/4 = 187500000000/4*?
    val res = (3L * 250000L * 250000L + 750000L * 750000L) / 4L
    assert(r.getAs[Long]("res_ppm2") == res)
    assert(r.getAs[Long]("unc_ppm2") == 187500L)
  }

  test("bleu4: clipped precisions, smoothing, BP and drop rules") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on a mat"),
      (3L, "cat sat"),             // c < 4: drops as hypothesis
      (4L, "x y z w")              // no unigram overlap with 1: drops
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 2L), (4L, 1L), (1L, 4L))
      .toDF("id_a", "id_b")
    val rows = Eval.bleu4(pairs, docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(rows.keySet == Set((1L, 2L))) // short hyp + zero-m1 drop
    def L(x: Long): Long = graft.plans.FixLog.log2q(x)
    // m: 5/6, (3+1)/(5+1), (2+1)/(4+1), (1+1)/(3+1); c = r so BP = 0
    val q = (L(5) - L(6)) + (L(4) - L(6)) + (L(3) - L(5)) + (L(2) - L(4))
    assert(rows((1L, 2L)) == ((6L, 6L, 5L, 3L, 2L, 1L, q)))
  }

  test("bleu4: brevity penalty fires only when hyp is shorter") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val both = Seq((1L, 2L), (2L, 1L)).toDF("id_a", "id_b")
    val m = Eval.bleu4(both, docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(8)).toMap
    def L(x: Long): Long = graft.plans.FixLog.log2q(x)
    // hyp=1 (c=4, r=8): m = 4,3,2,1 over t = 4,3,2,1 -> perfect
    // precisions, all mass is BP: -round((8-4)*378192/4) = -378192
    assert(m((1L, 2L)) == -378192L)
    // hyp=2 (c=8, r=4): no BP; matches clipped at the short ref
    val q = (L(4) - L(8)) + (L(4) - L(8)) + (L(3) - L(7)) +
      (L(2) - L(6))
    assert(m((2L, 1L)) == q)
  }

  test("ece: exact weighted L1 over the calibrated bins") {
    val cal = Seq(
      (0L, 2L, 1L, 500000L, 400000L),
      (1L, 2L, 1L, 500000L, 600000L)
    ).toDF("bin", "n", "n_correct", "acc_ppm", "cal_ppm")
    val r = Eval.ece(cal).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 100000L) // (2*1e5 + 2*1e5)/4
  }
}
