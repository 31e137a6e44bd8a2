package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Stats

/** Exact statistical tests/fits: hand-computed KS and chi-square
  * fixtures, exact line recovery for OLS, degenerate-input contracts.
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ksTest: hand-computed distance and the identical-sample zero") {
    // a = {1,2,3}, b = {2,4}: D peaks at v=3 with |3*2 - 1*3| = 3 over 6
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (2L, "b"), (4L, "b"))
      .toDF("v", "side")
    val r = Stats.ksTest(df, "v", col("side") === "a", col("side") === "b")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 3L)))
    assert(r.getLong(3) == 500000L) // exact ppm of 3/6
    assert(r.getDouble(4) == 0.5)
    // identical multisets -> zero distance
    val same = Seq((5L, "a"), (7L, "a"), (5L, "b"), (7L, "b")).toDF("v", "side")
    val z = Stats.ksTest(same, "v", col("side") === "a", col("side") === "b")
      .collect()(0)
    assert(z.getLong(2) == 0L && z.getLong(3) == 0L && z.getDouble(4) == 0.0)
  }

  test("chi2Independence: perfect association vs exact independence") {
    // perfect: token a only in class x, token b only in class y (2x2)
    // n_tc*N - nt*nc: diagonal 2*4-2*2=4, off-diag 0*4-2*2=-4; each cell
    // 16*1e6/4 = 4e6; sum 16e6; /N=4 -> chi2 = 4.0 exactly (= N, the
    // textbook value for a perfect 2x2 association)
    val perfect = Seq(("a a", "x"), ("b b", "y")).toDF("text", "lang")
    val p = Stats.chi2Independence(perfect, "text", "lang").collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2)) == ((2L, 2L, 1L)))
    assert(p.getLong(3) == 4000000L && p.getDouble(4) == 4.0)
    // exact independence: identical token mix in both classes -> 0
    val indep = Seq(("a b", "x"), ("a b", "y")).toDF("text", "lang")
    val i = Stats.chi2Independence(indep, "text", "lang").collect()(0)
    assert(i.getLong(3) == 0L && i.getDouble(4) == 0.0)
  }

  test("psi: identical distributions score 0, known shift matches the " +
      "hand-computed fixed-point terms, absent category clamps at 1 ppm") {
    // same source mix in both halves -> every term 0
    val same = Seq((0L, "w"), (1L, "w"), (2L, "b"), (3L, "b"))
      .toDF("doc_id", "source")
    val s = Stats.psi(same, "source", col("doc_id") % 2 === 0,
      col("doc_id") % 2 === 1).collect()(0)
    assert(s.getLong(0) == 2L && s.getLong(1) == 0L && s.getDouble(2) == 0.0)
    // a: 3/4 vs 1/4; b: 1/4 vs 3/4 — hand-computed with log2q
    val shift = Seq((0L, "a"), (2L, "a"), (4L, "a"), (6L, "b"),
      (1L, "a"), (3L, "b"), (5L, "b"), (7L, "b")).toDF("doc_id", "source")
    val p = Stats.psi(shift, "source", col("doc_id") % 2 === 0,
      col("doc_id") % 2 === 1).collect()(0)
    val l = (v: Long) => graft.plans.FixLog.log2q(v)
    val expected = (750000L - 250000L) * (l(750000L) - l(250000L)) +
      (250000L - 750000L) * (l(250000L) - l(750000L))
    assert(p.getLong(1) == expected, p.toString)
    assert(p.getLong(1) > 0L)
    // category absent from one side: share clamps to 1 ppm, PSI finite
    val absent = Seq((0L, "only_even"), (1L, "only_odd"))
      .toDF("doc_id", "source")
    val a = Stats.psi(absent, "source", col("doc_id") % 2 === 0,
      col("doc_id") % 2 === 1).collect()(0)
    assert(a.getLong(0) == 2L && a.getLong(1) > 0L)
  }

  test("heapsFit: all-distinct stream fits beta = 1 exactly, constant " +
      "stream fits beta = 0") {
    // 200 distinct [a-z]+ tokens over 4 docs: V(n) = n at every
    // checkpoint -> y = x in log space -> slope exactly 1e6 ppm
    val wordsOf = (r: Range) => r.map(i => "w" + ("abcdefghij" * 2)
      .substring(0, 3) + ("a" + i.toString.map(c => ('a' + (c - '0')).toChar)))
    val distinctDocs = (0 until 4).map(d => (d.toLong,
      wordsOf(d * 50 until (d + 1) * 50).mkString(" ")))
      .toDF("doc_id", "text")
    val one = Stats.heapsFit(distinctDocs, "doc_id", "text").collect()(0)
    assert(one.getLong(1) == 1000000L, one.toString)
    // constant stream: vocabulary saturates at 1 -> slope 0
    val const = Seq((0L, ("tok " * 100).trim), (1L, ("tok " * 60).trim))
      .toDF("doc_id", "text")
    val zero = Stats.heapsFit(const, "doc_id", "text").collect()(0)
    assert(zero.getLong(1) == 0L, zero.toString)
    assert(zero.getLong(2) == 0L) // intercept log2q(1) = 0
  }

  test("gini: known values — {1,3} = 0.25, uniform = 0, extreme -> (n-1)/n") {
    def g(sizes: Seq[Long]): (Long, Long, Double) = {
      val df = sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "sz")
      val r = Stats.gini(df, "sz", "id").collect()(0)
      (r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    assert(g(Seq(1L, 3L)) == ((2L, 8L, 0.25)))
    assert(g(Seq(5L, 5L, 5L, 5L))._3 == 0.0)
    // one holder of everything among n=4: G = (n-1)/n = 0.75
    assert(g(Seq(0L, 0L, 0L, 12L))._3 == 0.75)
  }

  test("groupOls: exact line recovery and the constant-x null") {
    val line = (0L to 10L).map(x => ("g", x, 3L * x + 7L))
    val const = Seq(("c", 5L, 1L), ("c", 5L, 9L))
    val df = (line ++ const).toDF("grp", "x", "y")
    val got = Stats.groupOls(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(4)), Option(r.get(5)),
          Option(r.get(6)), Option(r.get(7)))).toMap
    // exact integer ppm next to the rendered doubles
    assert(got("g") ==
      ((11L, Some(3000000L), Some(7000000L), Some(3.0), Some(7.0))))
    assert(got("c") == ((2L, None, None, None, None)))
  }

  test("ksTestBinned: exact when bins separate the values, coarser " +
      "bins only shrink D, degenerate domain safe") {
    // integer values 0..9: 20 bins give every value its own bin, so the
    // binned statistic equals the exact one
    val a = (0 to 9).map(v => (v.toDouble, "a"))
    val b = Seq(0, 1, 1, 2, 9).map(v => (v.toDouble, "b"))
    val df = (a ++ b).toDF("v", "side")
    val exact = Stats.ksTest(df, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    val fine = Stats.ksTestBinned(df, "v", col("side") === "a",
      col("side") === "b", nBins = 20).collect()(0)
    assert((fine.getLong(0), fine.getLong(1)) ==
      ((exact.getLong(0), exact.getLong(1))))
    assert(fine.getLong(2) == 20L)
    // same rational: binned d_num/(n_a*n_b) == exact (d_num scale is
    // identical because the cumulative counts at bin edges coincide)
    assert(fine.getLong(3) == exact.getLong(2))
    assert(fine.getLong(4) == exact.getLong(3))
    // coarsening evaluates the ECDF gap at fewer points: D shrinks
    for (bins <- Seq(2, 4, 8)) {
      val c = Stats.ksTestBinned(df, "v", col("side") === "a",
        col("side") === "b", bins).collect()(0)
      assert(c.getLong(4) <= exact.getLong(3),
        s"binned($bins) d_ppm ${c.getLong(4)} > exact ${exact.getLong(3)}")
    }
    // degenerate single-value domain: everything in bin 0, D = 0
    val one = Seq((5.0, "a"), (5.0, "b"), (5.0, "b")).toDF("v", "side")
    val z = Stats.ksTestBinned(one, "v", col("side") === "a",
      col("side") === "b", nBins = 8).collect()(0)
    assert(z.getLong(3) == 0L && z.getLong(4) == 0L)
  }

  test("fixedPointExact: half-away rounding and sign symmetry via ksTest") {
    // num/den = 1/3 -> 333333 ppm (truncated by half-away: .333... no
    // tie); 1/2 -> exactly 500000; the ppm column is BIGINT
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (1L, "b"), (2L, "b"),
      (3L, "b"), (9L, "b")).toDF("v", "side")
    // a={1,2,3} n_a=3, b={1,2,3,9} n_b=4: at v=3 |3*4-3*3|=3, den=12
    val r = Stats.ksTest(df, "v", col("side") === "a", col("side") === "b")
      .collect()(0)
    assert(r.getLong(2) == 3L && r.getLong(3) == 250000L)
  }

  test("spearman: exact rho on permutation ranks") {
    // x = (1,2,3), y = (3,1,2): rx = (1,2,3), ry = (3,1,2),
    // d^2 = 4+1+1 = 6, rho = 1 - 36/24 = -1/2
    val df = Seq((1L, 1L, 3L), (2L, 2L, 1L), (3L, 3L, 2L))
      .toDF("id", "x", "y")
    val r = Stats.spearman(df, "x", "y", "id").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 6L, -500000L)))
    // perfect monotone -> exactly 1e6; perfect reverse -> exactly -1e6
    val up = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L),
      (4L, 40L, 400L)).toDF("id", "x", "y")
    assert(Stats.spearman(up, "x", "y", "id").collect()(0).getLong(2)
      == 1000000L)
    val dn = Seq((1L, 10L, 400L), (2L, 20L, 300L), (3L, 30L, 200L),
      (4L, 40L, 100L)).toDF("id", "x", "y")
    assert(Stats.spearman(dn, "x", "y", "id").collect()(0).getLong(2)
      == -1000000L)
    // n = 1: rho undefined -> NULL
    val one = Seq((1L, 5L, 7L)).toDF("id", "x", "y")
    assert(Stats.spearman(one, "x", "y", "id").collect()(0).isNullAt(2))
  }

  test("lagSlope: exact AR(1) slope and the constant-series NULL") {
    // series 1,2,3,4: pairs (1,2),(2,3),(3,4) -> slope exactly 1
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("t", "y")
    val r = Stats.lagSlope(df, "t", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 6L, 9L, 20L, 14L)))
    assert(r.getLong(5) == 1000000L)
    // constant series: den = 0 -> NULL, not a division error
    val const = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("t", "y")
    assert(Stats.lagSlope(const, "t", "y").collect()(0).isNullAt(5))
    // anti-persistent alternation 4,0,4,0: pairs (4,0),(0,4),(4,0):
    // n=3 sx=8 sy=4 sxy=0 sxx=32; slope = (0-32)/(96-64) = -1
    val alt = Seq((1L, 4L), (2L, 0L), (3L, 4L), (4L, 0L)).toDF("t", "y")
    assert(Stats.lagSlope(alt, "t", "y").collect()(0).getLong(5)
      == -1000000L)
  }

  test("wasserstein1: transport cost prices shifts KS flattens") {
    // a = {0, 10}, b = {1, 11}: F differs by 1/2 on [0,1) and [10,11)
    // -> W1 = 1; KS would report the same 1/2 as for a tiny shift
    val df = Seq((0L, "a"), (10L, "a"), (1L, "b"), (11L, "b"))
      .toDF("v", "side")
    val r = Stats.wasserstein1(df, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    // num = sum dv*|Ca*nb - Cb*na| = 1*2 + 9*0 + 1*2 = 4; den = 4
    assert(r.getLong(2) == 4L && r.getLong(3) == 1000000L)
    // identical samples: exactly zero transport
    val same = Seq((3L, "a"), (7L, "a"), (3L, "b"), (7L, "b"))
      .toDF("v", "side")
    assert(Stats.wasserstein1(same, "v", col("side") === "a",
      col("side") === "b").collect()(0).getLong(3) == 0L)
    // single-value domain: the zero-transport row still comes back
    val one = Seq((5L, "a"), (5L, "b")).toDF("v", "side")
    val o = Stats.wasserstein1(one, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    assert(o.getLong(2) == 0L && o.getLong(3) == 0L)
  }

  test("mannWhitneyU: separation, midrank ties, zero-variance NULL") {
    // complete separation a = {1,2} below b = {3,4}: U_a = 0;
    // z^2 = 3*4*3*(0-4)^2 / (4*(64-4)) = 576/240 = 2.4
    val sep = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("v", "side")
    val r = Stats.mannWhitneyU(sep, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 0L)))
    assert(r.getLong(3) == 2400000L)
    // ties take midranks: a = {1,1}, b = {1,2} -> midrank(1) = 2,
    // R_a = 4, U_a = 1; T = 24, z^2 = 144/144 = 1
    val tied = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"))
      .toDF("v", "side")
    val t = Stats.mannWhitneyU(tied, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    assert(t.getLong(2) == 2L && t.getLong(3) == 1000000L)
    // every value tied -> zero variance -> NULL, not a crash
    val const = Seq((5L, "a"), (5L, "b")).toDF("v", "side")
    assert(Stats.mannWhitneyU(const, "v", col("side") === "a",
      col("side") === "b").collect()(0).isNullAt(3))
  }

  test("value-domain statistics: an empty B side, all-NULL values and " +
      "one distinct value each give one row, NULL where undefined") {
    val a = col("side") === "a"
    val b = col("side") === "b"
    // (name, statistic, its column, its value on one distinct value)
    val stats = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, String, Option[Long])](
      ("wasserstein1", Stats.wasserstein1(_, "v", a, b), "w1_ppm", Some(0L)),
      // every value tied: zero variance, z undefined
      ("mannWhitneyU", Stats.mannWhitneyU(_, "v", a, b), "z2_ppm", None),
      ("energyDistance", Stats.energyDistance(_, "v", a, b), "e_milli",
        Some(0L)),
      ("cliffsDelta", Stats.cliffsDelta(_, "v", a, b), "cliffs_ppm",
        Some(0L)))
    def frame(rows: (Option[Long], String)*) = rows.toDF("v", "side")
    val emptyB = frame((Some(1L), "a"), (Some(2L), "a"), (Some(3L), "a"))
    val allNull = frame((None, "a"), (None, "b"), (None, "a"))
    val single = frame((Some(5L), "a"), (Some(5L), "b"), (Some(5L), "a"))
    for ((name, stat, statCol, onSingle) <- stats) {
      for ((input, df) <- Seq("empty B" -> emptyB, "all NULL" -> allNull)) {
        val rows = stat(df).collect()
        assert(rows.length == 1, s"$name, $input: ${rows.toSeq}")
        assert(rows(0).isNullAt(rows(0).fieldIndex(statCol)),
          s"$name, $input: ${rows(0)}")
      }
      val e = stat(emptyB).collect()(0)
      assert(e.getAs[Long]("n_a") == 3L && e.getAs[Long]("n_b") == 0L,
        s"$name, empty B: $e")
      val rows = stat(single).collect()
      assert(rows.length == 1, s"$name, one value: ${rows.toSeq}")
      val r = rows(0)
      assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 1L,
        s"$name, one value: $r")
      onSingle match {
        case Some(v) => assert(r.getAs[Long](statCol) == v, s"$name: $r")
        case None => assert(r.isNullAt(r.fieldIndex(statCol)), s"$name: $r")
      }
    }
  }

  test("categoricalMi: exactly 1 bit on the diagonal, 0 at independence") {
    // x = y (2x2 diagonal): each cell term 2*(log2q(8)-log2q(4)) =
    // 2*65536 -> mi2_q = 262144 -> exactly 1.0 bit
    val perfect = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val p = Stats.categoricalMi(perfect, "x", "y").collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))
      == ((4L, 2L, 2L, 262144L)))
    assert(p.getDouble(4) == 1.0)
    // uniform 2x2: every cell log-ratio is exactly 0
    val indep = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("x", "y")
    assert(Stats.categoricalMi(indep, "x", "y").collect()(0)
      .getLong(3) == 0L)
  }

  test("cramersV: perfect association, independence, 1-level NULL") {
    // x = y always (2x2): chi2 = N -> V^2 exactly 1 (1e12 pptr)
    val perfect = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val p = Stats.cramersV(perfect, "x", "y").collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2)) == ((4L, 2L, 2L)))
    assert(p.getLong(3) == 4000000L && p.getLong(4) == 1000000000000L)
    // uniform 2x2 -> chi2 = 0 -> V^2 = 0
    val indep = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("x", "y")
    assert(Stats.cramersV(indep, "x", "y").collect()(0).getLong(4) == 0L)
    // a single-level axis has no association to measure -> NULL
    val flat = Seq(("a", "a"), ("a", "b")).toDF("x", "y")
    assert(Stats.cramersV(flat, "x", "y").collect()(0).isNullAt(4))
  }

  test("brownForsythe: hand-computed F and the zero-spread NULL") {
    // g1 = {0,10} (med 0, z = {0,10}), g2 = {5,5} (z = {0,0})
    // SSB = 2.5e7, SSW = 5e7 -> F = 2 * 0.5 = 1
    val df = Seq(("g1", 0L), ("g1", 10L), ("g2", 5L), ("g2", 5L))
      .toDF("g", "v")
    val r = Stats.brownForsythe(df, "g", "v").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 1000000L)))
    // all deviations zero -> SSW = 0 -> NULL, not a crash
    val flat = Seq(("g1", 1L), ("g1", 1L), ("g2", 2L), ("g2", 2L))
      .toDF("g", "v")
    assert(Stats.brownForsythe(flat, "g", "v").collect()(0).isNullAt(2))
  }

  test("corrMatrix: perfect +/- correlation, zero-variance NULL") {
    // y = 2x exactly -> r_sign +1, r2 = 1e12; z = -x -> sign -1, 1e12;
    // w constant -> NULL against everything
    val df = Seq((1L, 2L, -1L, 5L), (2L, 4L, -2L, 5L), (3L, 6L, -3L, 5L))
      .toDF("x", "y", "z", "w")
    val got = Stats.corrMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(("x", "y")) == ((1L, 1000000000000L)))
    assert(got(("x", "z")) == ((-1L, 1000000000000L)))
    assert(got(("y", "z")) == ((-1L, 1000000000000L)))
    assert(got(("x", "w"))._2 == -1L && got(("y", "w"))._2 == -1L)
    assert(got.size == 6)
  }

  test("turingCounts: hand-computed r*, empty-successor class = 0") {
    // counts a=3 b=2 c=1 -> f1=f2=f3=1
    // r*(1) = 2*f2/f1 = 2; r*(2) = 3*f3/f2 = 3; r*(3) = 4*0/1 = 0
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = Stats.turingCounts(docs, "text", maxR = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((1L, 2000000L)), 2L -> ((1L, 3000000L)),
      3L -> ((1L, 0L))))
  }

  test("dowSeasonality: uniform week = 0, one-day spike = 6N exactly") {
    import java.sql.Timestamp
    // 2024-01-01 is a Monday; one event per weekday -> chi2 exactly 0
    val uniform = (1 to 7).map(d =>
      Tuple1(Timestamp.valueOf(f"2024-01-0$d 10:00:00"))).toDF("ts")
    val u = Stats.dowSeasonality(uniform, "ts").collect()(0)
    assert(u.getLong(0) == 7L && u.getLong(1) == 0L)
    // all 7 events on one Monday: chi2 = 6N = 42
    val spike = (1 to 7).map(_ =>
      Tuple1(Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("ts")
    val s = Stats.dowSeasonality(spike, "ts").collect()(0)
    assert(s.getLong(1) == 42000000L)
  }

  test("runsTest: alternating vs clustered, hand-computed z², guards") {
    // perfectly alternating T F T F T F: a=b=3, n=6, R=6
    // num = (36 - 6 - 18)^2 * 5 = 720; den = 18 * 12 = 216
    // z² = 10/3 -> 3333333 ppm (too MANY runs)
    def seq2df(s: Seq[Boolean]) = s.zipWithIndex
      .map { case (f, i) => (f"d$i%02d", f) }.toDF("day", "f")
    val alt = Stats.runsTest(seq2df(Seq(true, false, true, false, true,
      false)), "day", col("f")).collect()(0)
    assert((alt.getLong(0), alt.getLong(1), alt.getLong(2)) ==
      ((6L, 3L, 6L)))
    assert(alt.getLong(3) == 3333333L)
    // fully clustered T T T F F F: R = 2 -> same |deviation| -> same z²
    val clus = Stats.runsTest(seq2df(Seq(true, true, true, false, false,
      false)), "day", col("f")).collect()(0)
    assert(clus.getLong(2) == 2L && clus.getLong(3) == 3333333L)
    // a constant series has no variance to test against
    val const = Stats.runsTest(seq2df(Seq(true, true, true)), "day",
      col("f")).collect()(0)
    assert(const.isNullAt(3))
  }

  test("chao1Richness: hand-computed estimate, saturated corpus adds 0") {
    // types: a x1, b x1, c x2, d x3 -> D=4 f1=2 f2=1
    // add = 2*1 // (2*2) = 0 -> floor keeps the estimate conservative;
    // with 3 singletons: add = 3*2 // 2 = 3
    val docs = Seq((1L, "a b c c d"), (2L, "d d")).toDF("doc_id", "text")
    val r = Stats.chao1Richness(docs, "text").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((4L, 2L, 1L, 4L)))
    val rich = Seq((1L, "a b c d d")).toDF("doc_id", "text")
    val k = Stats.chao1Richness(rich, "text").collect()(0)
    // D=4 f1=3 f2=1 -> add = 6 // 4 = 1 -> chao1 = 5
    assert((k.getLong(1), k.getLong(2), k.getLong(3)) == ((3L, 1L, 5L)))
    // no singletons: nothing unseen predicted
    val sat = Seq((1L, "a a b b")).toDF("doc_id", "text")
    assert(Stats.chao1Richness(sat, "text").collect()(0).getLong(3) == 2L)
  }

  test("hillTail: exact power-of-two tail, flat-tail NULL") {
    // top-2 = {8, 4}, threshold x_(3) = 2:
    //   hill2_q = (log2q(8) + log2q(4)) - 2*log2q(2)
    //           = (3 + 2 - 2) * 65536 = 196608
    //   alpha = 2*65536/196608 = 2/3 -> 666667 ppm
    val df = Seq(8L, 4L, 2L, 1L, 1L).toDF("v")
    val r = Stats.hillTail(df, "v", k = 2).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 2L, 196608L, 666667L)))
    // a flat tail (top k+1 all equal) carries zero information -> NULL
    val flat = Seq(5L, 5L, 5L, 1L).toDF("v")
    val f = Stats.hillTail(flat, "v", k = 2).collect()(0)
    assert(f.getLong(2) == 0L && f.isNullAt(3))
  }

  test("fanoFactor: Poisson-like 1, regular 0, bursty > 1, NULL guards") {
    // {1,3}: var = 2, mean = 2 -> F = 1; {2,2}: var 0 -> F = 0;
    // {0,8}: var = 32, mean = 4 -> F = 8
    val df = Seq(("p", 1L), ("p", 3L), ("r", 2L), ("r", 2L),
      ("b", 0L), ("b", 8L)).toDF("g", "x")
    val got = Stats.fanoFactor(df, "g", "x").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) -1L
        else r.getLong(2))).toMap
    assert(got == Map("p" -> 1000000L, "r" -> 0L, "b" -> 8000000L))
    // n = 1 and all-zero series have no dispersion reading
    val deg = Seq(("one", 5L), ("z", 0L), ("z", 0L)).toDF("g", "x")
    val d = Stats.fanoFactor(deg, "g", "x").collect()
      .map(r => r.getString(0) -> r.isNullAt(2)).toMap
    assert(d == Map("one" -> true, "z" -> true))
  }

  test("changePoint: hand-computed split, means, constant-series tie") {
    // 1,1,5,5: split after t=2 maximizes G
    // d = st*n - s*t: -8, -16, -8; den = t(n-t)*s^2
    // g_q at t=2: 256e6 // 576 = 444444
    val df = Seq(("d1", 1L), ("d2", 1L), ("d3", 5L), ("d4", 5L))
      .toDF("day", "y")
    val r = Stats.changePoint(df, "day", "y").collect()(0)
    assert((r.getLong(0), r.getString(1), r.getLong(2)) ==
      ((4L, "d2", 444444L)))
    assert(r.getLong(3) == 1000000L && r.getLong(4) == 5000000L)
    // constant series: every split scores 0 -> earliest split wins
    val const = Seq(("d1", 3L), ("d2", 3L), ("d3", 3L)).toDF("day", "y")
    val c = Stats.changePoint(const, "day", "y").collect()(0)
    assert(c.getString(1) == "d1" && c.getLong(2) == 0L)
    // a single point has no split
    assert(Stats.changePoint(Seq(("d1", 3L)).toDF("day", "y"),
      "day", "y").collect().isEmpty)
  }

  test("theilSen: outlier-immune median slope, degenerate single point") {
    // (0,0),(1,2),(2,4) on slope 2 plus the outlier (3,100):
    // sorted pair slopes [2,2,2,33.3,49,96] -> median 2 exactly
    val df = Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 100L)).toDF("x", "y")
    val r = Stats.theilSen(df, "x", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2))
      == ((4L, 6L, 2000000L)))
    // one point: no pairs, NULL slope
    val one = Seq((5L, 7L)).toDF("x", "y")
    val o = Stats.theilSen(one, "x", "y").collect()(0)
    assert(o.getLong(0) == 1L && o.getLong(1) == 0L && o.isNullAt(2))
  }

  test("abTest: hand-computed 2x2 chi-square and degenerate NULLs") {
    // a: 10 users 5 conv; b: 10 users 2 conv
    // chi2 = 20*(5*8 - 2*5)^2 / (10*10*7*13) = 18000/9100 = 1.978022
    val df = ((1 to 10).map(i => ("a", i <= 5)) ++
      (1 to 10).map(i => ("b", i <= 2)))
      .toDF("variant", "conv")
    val r = Stats.abTest(df, col("variant") === "a",
      col("variant") === "b", col("conv")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((10L, 10L, 5L, 2L)))
    assert(r.getLong(4) == 500000L && r.getLong(5) == 200000L)
    assert(r.getLong(6) == 1978022L)
    // identical rates -> chi2 exactly 0
    val same = ((1 to 4).map(i => ("a", i <= 2)) ++
      (1 to 4).map(i => ("b", i <= 2))).toDF("variant", "conv")
    assert(Stats.abTest(same, col("variant") === "a",
      col("variant") === "b", col("conv")).collect()(0).getLong(6) == 0L)
    // nobody converts: degenerate margin -> NULL, not a division error
    val none = Seq(("a", false), ("b", false)).toDF("variant", "conv")
    assert(Stats.abTest(none, col("variant") === "a",
      col("variant") === "b", col("conv")).collect()(0).isNullAt(6))
  }

  test("poissonBootstrapCi: ladder sums to ~1, interval brackets the " +
      "point estimate, deterministic across partitionings") {
    // the cumulative ladder is a proper quantized CDF
    assert(Stats.PoissonCumPpm == Stats.PoissonCumPpm.sorted)
    assert(Stats.PoissonCumPpm.last == 999999L)
    val df = (1L to 200L).map(i => (i, (i % 7) + 10L)).toDF("id", "x")
    val r = Stats.poissonBootstrapCi(df, "x", "id", reps = 64,
      loRank = 2, hiRank = 63).collect()(0)
    val (point, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(r.getLong(0) == 64L)
    assert(lo <= point && point <= hi, s"($lo, $point, $hi)")
    assert(lo < hi)
    // resampling noise of a mean near 13 stays well inside +-2
    assert(hi - lo < 2000000L, s"interval too wide: $lo..$hi")
    // partitioning-invariant: the hash weights don't depend on layout
    val r2 = Stats.poissonBootstrapCi(df.repartition(13), "x", "id",
      reps = 64, loRank = 2, hiRank = 63).collect()(0)
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3))
      == ((point, lo, hi)))
  }

  test("welchT2: hand-computed cleared-denominator rational") {
    // a = {1,3} (mean 2, var 2), b = {5,7} (mean 6, var 2):
    // t = (2-6)/sqrt(2/2 + 2/2) = -4/sqrt(2) -> t^2 = 8
    val df = Seq((1L, "a"), (3L, "a"), (5L, "b"), (7L, "b"))
      .toDF("v", "side")
    val r = Stats.welchT2(df, "v", col("side") === "a",
      col("side") === "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getLong(2) == 2000000L && r.getLong(3) == 6000000L)
    assert(r.getLong(4) == 8000000L)
    // identical groups: t^2 exactly 0
    val same = Seq((1L, "a"), (3L, "a"), (1L, "b"), (3L, "b"))
      .toDF("v", "side")
    assert(Stats.welchT2(same, "v", col("side") === "a",
      col("side") === "b").collect()(0).getLong(4) == 0L)
    // zero pooled variance (all constants): NULL, not a division error
    val const = Seq((4L, "a"), (4L, "a"), (4L, "b"), (4L, "b"))
      .toDF("v", "side")
    assert(Stats.welchT2(const, "v", col("side") === "a",
      col("side") === "b").collect()(0).isNullAt(4))
    // a side with one sample: NULL (no variance estimate)
    val tiny = Seq((1L, "a"), (5L, "b"), (7L, "b")).toDF("v", "side")
    assert(Stats.welchT2(tiny, "v", col("side") === "a",
      col("side") === "b").collect()(0).isNullAt(4))
  }

  test("cusum: closed form equals the textbook recurrence") {
    // series 4,4,10,4,2 (k = 24 div 5 = 4): recurrence
    // S = max(0, S + x - 4): 0, 0, 6, 6, 4; alarm at S > 2k = 8: none
    val df = Seq((1L, 4L), (2L, 4L), (3L, 10L), (4L, 4L), (5L, 2L))
      .toDF("t", "x")
    val got = Stats.cusum(df, "t", "x", hMult = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(1L -> ((0L, false)), 2L -> ((0L, false)),
      3L -> ((6L, false)), 4L -> ((6L, false)), 5L -> ((4L, false))))
    // a sustained surge alarms: 1,1,1,9,9 (k = 21 div 5 = 4, h = 8):
    // S: 0,0,0,5,10 -> alarm on the last day only
    val surge = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 9L), (5L, 9L))
      .toDF("t", "x")
    val g2 = Stats.cusum(surge, "t", "x", hMult = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(g2(4L) == ((5L, false)) && g2(5L) == ((10L, true)), g2)
    // the dip before a spike resets the chart (max(0, ...) floor)
    assert(g2(3L) == ((0L, false)))
  }

  test("kendallTau: concordance counting with ties and sign symmetry") {
    // keys a<b<c: x = (1,2,3), y = (1,3,2): pairs (a,b)+ (a,c)+ (b,c)-
    // tau = (2-1)/3 = 1/3
    val df = Seq(("a", 1L, 1L), ("b", 2L, 3L), ("c", 3L, 2L))
      .toDF("k", "x", "y")
    val r = Stats.kendallTau(df, "k", "x", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)))
    assert(r.getLong(3) == 333333L)
    // a tie in either metric is neither concordant nor discordant
    val tied = Seq(("a", 1L, 1L), ("b", 1L, 2L)).toDF("k", "x", "y")
    val t = Stats.kendallTau(tied, "k", "x", "y").collect()(0)
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
      == ((1L, 0L, 0L, 0L)))
    // single key: no pairs -> NULL tau
    val one = Seq(("a", 1L, 1L)).toDF("k", "x", "y")
    val o = Stats.kendallTau(one, "k", "x", "y").collect()(0)
    assert(o.getLong(0) == 0L && o.isNullAt(3))
    // perfect reversal -> exactly -1e6
    val rev = Seq(("a", 1L, 3L), ("b", 2L, 2L), ("c", 3L, 1L))
      .toDF("k", "x", "y")
    assert(Stats.kendallTau(rev, "k", "x", "y").collect()(0).getLong(3)
      == -1000000L)
  }

  test("benford: constants sum to 1e6; digits, counts, and excess exact") {
    assert(Stats.BenfordPpm.values.sum == 1000000L)
    // values 1..9, 10, 100, 0, -5: zeros/negatives excluded; digit 1
    // appears for 1, 10, 100 -> 3 of 11
    val df = ((1L to 10L) ++ Seq(100L, 0L, -5L)).toSeq.toDF("v")
    val got = Stats.benford(df, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L)._1 == 3L && got(9L)._1 == 1L && !got.contains(0L))
    assert(got(1L)._2 == 272727L)           // round(3/11 * 1e6)
    assert(got(1L)._3 == 301030L)           // Benford expectation
    assert(got(1L)._4 == 272727L - 301030L) // signed excess
    assert(got(2L) == ((1L, 90909L, 176091L, 90909L - 176091L)))
  }

  test("cuped: hand-computed theta and deltas, theta-ppm composition") {
    // arm a: (x,y) = (10,20),(20,35); arm b: (0,5),(10,18),(20,40)
    val units = Seq((10L, 20L, "a"), (20L, 35L, "a"),
      (0L, 5L, "b"), (10L, 18L, "b"), (20L, 40L, "b"))
      .toDF("x", "y", "arm")
    val r = Stats.cuped(units, col("arm") === "a", col("arm") === "b",
      "x", "y").collect()(0)
    // pooled: n=5 sx=60 sy=118 sxx=1000 sxy=1880
    // theta = (5*1880-60*118)/(5*1000-60^2) = 2320/1400
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("theta_ppm") == 1657143L)
    // raw delta = 55/2 - 63/3 = 6.5
    assert(r.getAs[Long]("delta_raw_ppm") == 6500000L)
    // cuped delta = 6.5 - theta_ppm/1e6 * (30/2 - 30/3)
    //             = (1e6*39 - 1657143*30) / 6e6
    assert(r.getAs[Long]("delta_cuped_ppm") == -1785715L)
  }

  test("cuped: constant covariate renders NULL theta and adjusted delta") {
    val units = Seq((5L, 20L, "a"), (5L, 35L, "b"), (5L, 10L, "b"))
      .toDF("x", "y", "arm")
    val r = Stats.cuped(units, col("arm") === "a", col("arm") === "b",
      "x", "y").collect()(0)
    assert(r.isNullAt(r.fieldIndex("theta_ppm")))
    assert(r.isNullAt(r.fieldIndex("delta_cuped_ppm")))
    assert(r.getAs[Long]("delta_raw_ppm") == -2500000L) // 20 - 22.5
  }

  test("diffInDiff: hand-computed 2x2 trends; empty cell renders NULL") {
    val rows = Seq(
      (true, false, 10L), (true, false, 20L), (true, true, 30L),
      (false, false, 5L), (false, true, 10L), (false, true, 12L))
      .toDF("treated", "post", "y")
    val r = Stats.diffInDiff(rows, col("treated"), col("post"), "y")
      .collect()(0)
    assert(r.getAs[Long]("n_t_pre") == 2L && r.getAs[Long]("n_t_post") == 1L)
    assert(r.getAs[Long]("mean_t_pre_ppm") == 15000000L)
    assert(r.getAs[Long]("trend_t_ppm") == 15000000L) // 30 - 15
    assert(r.getAs[Long]("trend_c_ppm") == 6000000L)  // 11 - 5
    assert(r.getAs[Long]("did_ppm") == 9000000L)
    val empty = Stats.diffInDiff(
      rows.filter(!(col("treated") && col("post"))),
      col("treated"), col("post"), "y").collect()(0)
    assert(empty.isNullAt(empty.fieldIndex("trend_t_ppm")))
    assert(empty.isNullAt(empty.fieldIndex("did_ppm")))
    assert(empty.getAs[Long]("trend_c_ppm") == 6000000L)
  }

  test("mannKendall: hand-computed S, tie correction, z2") {
    val series = Seq(("d1", 1L), ("d2", 2L), ("d3", 2L), ("d4", 4L),
      ("d5", 3L)).toDF("day", "x")
    val r = Stats.mannKendall(series, "day", "x").collect()(0)
    assert(r.getAs[Long]("n_obs") == 5L)
    assert(r.getAs[Long]("s_stat") == 7L)
    // var18 = 5*4*15 - 2*1*9 = 282; z2 = 18*36/282
    assert(r.getAs[Long]("var18") == 282L)
    assert(r.getAs[Long]("z2_ppm") == 2297872L)
    // a perfectly tied series: S = 0 -> z2 = 0
    val flat = Seq(("d1", 5L), ("d2", 5L), ("d3", 5L)).toDF("day", "x")
    assert(Stats.mannKendall(flat, "day", "x").collect()(0)
      .getAs[Long]("z2_ppm") == 0L)
  }

  test("cliffsDelta: hand case and brute-force pair parity") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (2L, "b"), (2L, "b"), (4L, "b")).toDF("v", "arm")
    val r = Stats.cliffsDelta(df, "v", col("arm") === "a",
      col("arm") === "b").collect()(0)
    // #(a>b)=2, #(a<b)=5 -> dom=-3, delta=-1/3
    assert(r.getAs[Long]("dominance") == -3L)
    assert(r.getAs[Long]("cliffs_ppm") == -333333L)
    assert(r.getAs[String]("magnitude") == "medium")
    // randomized parity with the O(n^2) definition
    val rnd = new scala.util.Random(11)
    val as = Seq.fill(80)(rnd.nextInt(20).toLong)
    val bs = Seq.fill(60)(rnd.nextInt(20).toLong + 3L)
    val big = (as.map((_, "a")) ++ bs.map((_, "b"))).toDF("v", "arm")
    val got = Stats.cliffsDelta(big, "v", col("arm") === "a",
      col("arm") === "b").collect()(0)
    val dom = (for (a <- as; b <- bs) yield
      java.lang.Long.signum(a - b).toLong).sum
    assert(got.getAs[Long]("dominance") == dom)
  }

  test("stratifiedEffect: confounded raw gap, zero adjusted effect") {
    // identical outcomes within each (stratum, arm); treated
    // over-represented in the high-outcome stratum -> raw gap positive,
    // within-stratum differences all zero
    val rows = Seq(
      // stratum 0: outcome 10, mostly control
      (0L, false, 10L), (0L, false, 10L), (0L, false, 10L), (0L, true, 10L),
      // stratum 1: outcome 100, mostly treated
      (1L, true, 100L), (1L, true, 100L), (1L, true, 100L), (1L, false, 100L))
      .toDF("stratum", "treated", "y")
    val r = Stats.stratifiedEffect(rows, col("treated"), "stratum", "y")
      .collect()(0)
    assert(r.getAs[Long]("n_strata_used") == 2L)
    assert(r.getAs[Long]("n_t_used") == 4L)
    assert(r.getAs[Long]("att_ppm") == 0L)
    // raw: treated mean (10+300)/4 = 77.5, control (30+100)/4 = 32.5
    assert(r.getAs[Long]("raw_diff_ppm") == 45000000L)
  }

  test("stratifiedEffect: treated weights, single-arm strata excluded") {
    val rows = Seq(
      (0L, true, 20L), (0L, true, 30L), (0L, false, 10L),   // diff 15
      (1L, true, 50L), (1L, false, 20L), (1L, false, 30L),  // diff 25
      (2L, true, 999L), (2L, true, 999L))                    // no control
      .toDF("stratum", "treated", "y")
    val r = Stats.stratifiedEffect(rows, col("treated"), "stratum", "y")
      .collect()(0)
    assert(r.getAs[Long]("n_strata_used") == 2L)
    assert(r.getAs[Long]("n_t_used") == 3L)
    // att = (2*15e6 + 1*25e6) / 3 = 18333333.33 -> half-up 18333333
    assert(r.getAs[Long]("att_ppm") == 18333333L)
  }

  test("yuleK: exact repeat-rate constant per group; zero for all-fresh") {
    val docs = Seq(
      ("s", "a a a b b c"), // m: a3 b2 c1 -> N=6 V=3 S2=14
      ("t", "x y")          // every token fresh -> K = 0
    ).toDF("source", "text")
    val m = Stats.yuleK(docs, "source", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // K = 1e4*(14-6)/36 = 2222.22.. -> milli round 2222222
    assert(m("s") == ((6L, 3L, 14L, 2222222L)))
    assert(m("t") == ((2L, 2L, 2L, 0L)))
  }

  test("yuleK: non [a-z]+ tokens leave the vocabulary") {
    val docs = Seq(("s", "a a 42 B. a")).toDF("source", "text")
    val r = Stats.yuleK(docs, "source", "text").collect()(0)
    // only 'a' x3 survives: N=3 V=1 S2=9 -> K = 1e4*6/9
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getLong(4) == 6666667L)
  }

  test("jackknifeGroups: delete-one-source means, bias, var, exact isqrt") {
    val rows = Seq(("A", 1L), ("A", 3L), ("B", 5L),
      ("C", 3L), ("C", 3L), ("C", 3L)).toDF("source", "v")
    val r = Stats.jackknifeGroups(rows, "source", "v").collect()(0)
    // theta = 18/6 = 3; loo means 3.5, 2.6, 3.0 -> jk mean 3033333 ppm
    assert(r.getAs[Long]("g") == 3L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("theta_ppm") == 3000000L)
    assert(r.getAs[Long]("jk_mean_ppm") == 3033333L)
    assert(r.getAs[Long]("jk_bias_ppm") == 66666L)
    assert(r.getAs[Long]("jk_var_ppm2") == 271111111111L)
    assert(r.getAs[Long]("jk_se_ppm") == 520683L) // floor sqrt, corrected
  }

  test("jackknifeGroups: single (whole-frame) group nulls the LOO chain, never divides by zero") {
    // one group == the whole frame makes NN - n = 0; the leave-one-out
    // term must be EXPLICITLY null (propagating to the jk columns),
    // with theta still exact — not a decimal division-by-zero
    val rows = Seq(("A", 2L), ("A", 4L)).toDF("source", "v")
    val r = Stats.jackknifeGroups(rows, "source", "v").collect()(0)
    assert(r.getAs[Long]("g") == 1L && r.getAs[Long]("n") == 2L)
    assert(r.getAs[Long]("theta_ppm") == 3000000L)
    assert(r.isNullAt(r.fieldIndex("jk_mean_ppm")))
    assert(r.isNullAt(r.fieldIndex("jk_bias_ppm")))
  }

  test("burrowsDelta: standardized function-word distance, exact milli") {
    val docs = Seq(
      ("A", "x x y"), ("B", "x y y")
    ).toDF("source", "text")
    val r = Stats.burrowsDelta(docs, "source", "text", topK = 2)
      .collect()(0)
    // f(A,x)=666667 f(B,x)=333333 (and mirrored for y): mu=500000,
    // sigma=166667 -> z = +-1000 milli; delta = (2000+2000)/2 = 2000
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert(r.getLong(2) == 2L && r.getLong(3) == 2000L)
  }

  test("burrowsDelta: sigma-0 words contribute zero, not a crash") {
    // both sources use 'z' identically -> sigma 0 for it
    val docs = Seq(("A", "z z x"), ("B", "z z y")).toDF("source", "text")
    val r = Stats.burrowsDelta(docs, "source", "text", topK = 3)
      .collect()(0)
    assert(r.getLong(2) == 3L)
    // x,y: f one-side 333333, mu 166667 (round 166666.5 half away ->
    // 166667), var = 166667^2 + 166666^2 over 2... just pin it runs and
    // delta is positive and finite
    assert(r.getLong(3) > 0L)
  }

  test("cohensD: pooled sigma via exact isqrt, milli effect size") {
    val rows = Seq(("a", 2L), ("a", 4L), ("b", 6L), ("b", 8L))
      .toDF("g", "v")
    val r = Stats.cohensD(rows, "v", col("g") === "a", col("g") === "b")
      .collect()(0)
    // means 3 and 7, both variances 2 -> pooled sigma = sqrt(2)
    assert(r.getAs[Long]("mean_a_ppm") == 3000000L)
    assert(r.getAs[Long]("mean_b_ppm") == 7000000L)
    assert(r.getAs[Long]("sp_ppm") == 1414213L) // isqrt(2e12)
    assert(r.getAs[Long]("d_milli") == -2828L)  // -4/sqrt(2) = -2.828
  }

  test("cohensD: degenerate sides render NULL, never crash") {
    val rows = Seq(("a", 5L), ("b", 6L), ("b", 6L)).toDF("g", "v")
    val r = Stats.cohensD(rows, "v", col("g") === "a", col("g") === "b")
      .collect()(0)
    assert(Option(r.get(r.fieldIndex("sp_ppm"))).isEmpty) // n_a < 2
    assert(Option(r.get(r.fieldIndex("d_milli"))).isEmpty)
    // identical values on both sides: sigma 0 -> d NULL
    val same = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val r2 = Stats.cohensD(same, "v", col("g") === "a", col("g") === "b")
      .collect()(0)
    assert(r2.getAs[Long]("sp_ppm") == 0L)
    assert(Option(r2.get(r2.fieldIndex("d_milli"))).isEmpty)
  }

  test("energyDistance: exact on hand pairs; zero for equal samples") {
    val rows = Seq(("a", 0L), ("a", 2L), ("b", 1L)).toDF("g", "v")
    val r = Stats.energyDistance(rows, "v", col("g") === "a",
      col("g") === "b").collect()(0)
    // 2*E|X-Y| - E|X-X'| - E|Y-Y'| = 2*1 - 1 - 0 = 1
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 1000L)
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
      .toDF("g", "v")
    val r2 = Stats.energyDistance(same, "v", col("g") === "a",
      col("g") === "b").collect()(0)
    assert(r2.getLong(2) == 0L)
  }

  test("energyDistance: SIGNED value domain (totals are sums, not " +
      "max of a non-monotone running sum)") {
    // Regression for the ADVICE finding: cumsum(c*v) is only monotone
    // for nonnegative v, so deriving totals as max(running sum) gave a
    // silently wrong e_milli on any signed metric — and the oracle
    // replayed the same construction, so the hash gate couldn't see it.
    val xs = Seq(-5L, -2L, 0L, 3L)
    val ys = Seq(-4L, 1L, 6L)
    val df = (xs.map(("a", _)) ++ ys.map(("b", _))).toDF("g", "v")
    val r = Stats.energyDistance(df, "v", col("g") === "a",
      col("g") === "b").collect()(0)
    def s(a: Seq[Long], b: Seq[Long]): BigInt =
      (for { x <- a; y <- b } yield BigInt(math.abs(x - y))).sum
    val (na, nb) = (BigInt(xs.size), BigInt(ys.size))
    val num = 2 * s(xs, ys) * na * nb - s(xs, xs) * nb * nb -
      s(ys, ys) * na * na
    val den = na * na * nb * nb
    val milli = (num * 2000 + den) / (den * 2) // fixedPointExact, num>=0
    assert(r.getLong(0) == xs.size.toLong && r.getLong(1) == ys.size.toLong)
    assert(r.getLong(2) == milli.toLong)
  }

  test("cronbachAlpha: perfectly parallel items; constant battery NULL") {
    val rows = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("i1", "i2")
    val r = Stats.cronbachAlpha(rows, Seq("i1", "i2")).collect()(0)
    // vars 6 and 24 (n-scaled), total 54: alpha = 2*(54-30)/54 = 8/9
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 889L)
    val const = Seq((5L, 5L), (5L, 5L)).toDF("i1", "i2")
    val r2 = Stats.cronbachAlpha(const, Seq("i1", "i2")).collect()(0)
    assert(Option(r2.get(2)).isEmpty)
  }

  test("oddsRatio: exact 2x2 OR, Haldane log CI covering zero on noise") {
    val rows = Seq(("a", 10L), ("a", 10L), ("a", 1L),
      ("b", 10L), ("b", 1L), ("b", 1L)).toDF("g", "v")
    val r = Stats.oddsRatio(rows, col("g") === "a", col("v") >= 10L)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 2L)))
    assert(r.getAs[Long]("or_milli") == 4000L) // (2*2)/(1*1)
    // Haldane: log2(25/9) in q units; CI from SE = sqrt(4/5 + 4/3)
    assert(r.getAs[Long]("lor2_q") == 96595L)
    assert(r.getAs[Long]("ci_lo2_q") == -174075L)
    assert(r.getAs[Long]("ci_hi2_q") == 367265L)
    // 6 rows cannot separate: the CI straddles zero
    assert(r.getAs[Long]("ci_lo2_q") < 0L && r.getAs[Long]("ci_hi2_q") > 0L)
  }

  test("oddsRatio: zero off-diagonal renders OR NULL, CI still finite") {
    val rows = Seq(("a", 10L), ("b", 1L)).toDF("g", "v")
    val r = Stats.oddsRatio(rows, col("g") === "a", col("v") >= 10L)
      .collect()(0)
    assert(Option(r.get(r.fieldIndex("or_milli"))).isEmpty) // b*c = 0
    assert(r.getAs[Long]("lor2_q") > 0L) // Haldane keeps the log finite
  }

  test("mantelHaenszel: pooled OR vs the crude one (confounded mix)") {
    val s1 = Seq.fill(4)(("s1", 1L, 1L)) ++ Seq(("s1", 1L, 0L),
      ("s1", 0L, 1L), ("s1", 0L, 0L))
    val s2 = Seq(("s2", 1L, 1L), ("s2", 1L, 0L), ("s2", 0L, 1L)) ++
      Seq.fill(4)(("s2", 0L, 0L))
    val rows = (s1 ++ s2).toDF("st", "e", "o")
    val r = Stats.mantelHaenszel(rows, "st", col("e") === 1L,
      col("o") === 1L).collect()(0)
    assert(r.getLong(0) == 2L)
    // per-stratum OR = 4 in both; the crude table (5,2,2,5) says 6.25
    // because the exposure mix differs by stratum — MH recovers 4
    assert(r.getAs[Long]("or_crude_milli") == 6250L)
    assert(r.getAs[Long]("or_mh_milli") == 4000L)
  }
}
