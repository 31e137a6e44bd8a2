package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Robust

/** Median/MAD outlier gating: the sort-based median must match the native
  * median aggregate (including even-count interpolation) without ever
  * planning a value-buffering percentile, and the MAD flag must behave at
  * its edge cases.
  */
class RobustSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupMedian interpolates even counts, picks middles for odd") {
    val df = Seq(
      ("odd", 1L), ("odd", 7L), ("odd", 3L),            // med 3
      ("even", 1L), ("even", 2L), ("even", 10L), ("even", 4L) // med 3.0
    ).toDF("g", "v")
    val med = Robust.groupMedian(df, "g", "v")
      .as[(String, Double)].collect().toMap
    assert(med == Map("odd" -> 3.0, "even" -> 3.0))
  }

  test("sort-based median equals the native median aggregate") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 997).map(_ => (s"g${rnd.nextInt(5)}", rnd.nextInt(1000).toLong))
      .toDF("g", "v")
    val ours = Robust.groupMedian(df, "g", "v").as[(String, Double)]
      .collect().toMap
    val native = df.groupBy("g").agg(median(col("v")).as("m"))
      .as[(String, Double)].collect().toMap
    assert(ours == native)
  }

  test("no value-buffering percentile aggregate in the plan") {
    val df = Seq(("g", 1L)).toDF("g", "v")
    val plan = Robust.groupMedian(df, "g", "v")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("percentile") && !plan.contains("median"), plan)
    // the middle rows come from the rank operator
    assert(plan.contains("rankwithin"), plan)
  }

  test("null values do not shift the median's middle selection") {
    val withNulls = Seq(("g", Some(1L)), ("g", Some(2L)), ("g", Some(9L)),
      ("g", None), ("g", None)).toDF("g", "v")
    val med = Robust.groupMedian(withNulls, "g", "v")
      .as[(String, Double)].collect().toMap
    assert(med == Map("g" -> 2.0)) // median of {1,2,9}, nulls excluded
  }

  test("outlierStats flags planted outliers; MAD=0 flags any deviation") {
    val df = Seq(
      // spread group: values 10..14 + one wild point
      ("s", 10L), ("s", 11L), ("s", 12L), ("s", 13L), ("s", 14L), ("s", 99L),
      // constant group with one deviant: MAD 0 — deviation must flag
      ("c", 5L), ("c", 5L), ("c", 5L), ("c", 6L)
    ).toDF("g", "v")
    val out = Robust.outlierStats(df, "g", "v", 3.0)
      .select("g", "v", "is_outlier").as[(String, Long, Boolean)]
      .collect().toSet
    assert(out.contains(("s", 99L, true)))
    assert(out.filter(_._1 == "s").count(_._3) == 1)
    assert(out.contains(("c", 6L, true)))
    assert(out.filter(_._1 == "c").count(_._3) == 1)
  }

  test("groupQuantiles: percentile_disc rank selection, hand-computed") {
    import org.apache.spark.sql.functions.col
    // group a: values 10..19 (n=10). p25 -> rank ceil(2.5)=3 -> 12,
    // p50 -> rank 5 -> 14, p99 -> rank ceil(9.9)=10 -> 19.
    // group b: single value (every quantile = it, rank clamps to 1).
    val df = ((10 to 19).map(v => ("a", v.toLong)) :+ (("b", 7L)))
      .toDF("g", "v")
    val out = Robust.groupQuantiles(df, "g", "v", Seq(2500, 5000, 9900))
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(
      ("a", 2500L, 12L), ("a", 5000L, 14L), ("a", 9900L, 19L),
      ("b", 2500L, 7L), ("b", 5000L, 7L), ("b", 9900L, 7L)))
    // partitioning-invariant, and ties pick the same VALUE
    val tied = Seq(("t", 1L), ("t", 5L), ("t", 5L), ("t", 5L), ("t", 9L))
      .toDF("g", "v").repartition(7)
    val q = Robust.groupQuantiles(tied, "g", "v", Seq(5000))
      .as[(String, Long, Long)].collect().toSeq
    assert(q === Seq(("t", 5000L, 5L)))
  }

  test("winsorize clips to exact order statistics; nulls pass through") {
    import org.apache.spark.sql.functions.col
    // group a: values 1..10; 20%/80% -> thresholds at ranks 2 and 8
    val df = ((1 to 10).map(v => ("a", Some(v.toLong))) :+
      (("a", Option.empty[Long])) :+ (("b", Some(100L))))
      .toDF("g", "v")
    val out = Robust.winsorize(df, "g", "v", loBps = 2000, hiBps = 8000)
      .collect().map(r => (r.getString(0), Option(r.get(1))) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out(("a", Some(1L))) == ((Some(2L), Some(8L), Some(2L))))
    assert(out(("a", Some(5L))) == ((Some(2L), Some(8L), Some(5L))))
    assert(out(("a", Some(10L))) == ((Some(2L), Some(8L), Some(8L))))
    // null value: thresholds attach, clipped stays null
    assert(out(("a", None))._3.isEmpty)
    // singleton group: both thresholds are the single value
    assert(out(("b", Some(100L))) ==
      ((Some(100L), Some(100L), Some(100L))))
    // monotone: winsorized order preserves value order within group
    val ws = (1 to 10).map(v =>
      out(("a", Some(v.toLong)))._3.get.asInstanceOf[Long])
    assert(ws == ws.sorted)
  }

  test("winsorizeSampled: full sample equals exact winsorize; unsampled " +
      "groups fall back to their exact thresholds") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i =>
        (i.toLong, if (i % 2 == 0) "a" else "b", rnd.nextInt(1000).toLong))
      .toDF("id", "g", "v")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("lo_clip"), col("hi_clip"), col("winsorized"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val exact = asMap(Robust.winsorize(df, "g", "v", 500, 9500))
    // samplePerMille = 1000: the sample IS the population — thresholds
    // and every clipped value must be identical
    val full = asMap(
      Robust.winsorizeSampled(df, "g", "v", "id", 500, 9500, 1000))
    assert(full == exact)
    // a 40% sample: clipping stays monotone and threshold-bounded
    val part = asMap(
      Robust.winsorizeSampled(df, "g", "v", "id", 500, 9500, 400))
    part.foreach { case (_, (lo, hi, w)) =>
      assert(w >= lo && w <= hi)
    }
    // a group too small to hit a 1-per-mille sample uses its EXACT
    // thresholds (not null, not another group's)
    val tiny = df.unionByName(
      Seq((100001L, "z", 5L), (100002L, "z", 50L), (100003L, "z", 500L))
        .toDF("id", "g", "v"))
    val spm1 = Robust.winsorizeSampled(tiny, "g", "v", "id", 500, 9500, 1)
      .filter(col("g") === "z")
      .select(col("id"), col("lo_clip"), col("hi_clip"), col("winsorized"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val zExact = Robust.winsorize(
        tiny.filter(col("g") === "z"), "g", "v", 500, 9500)
      .select(col("id"), col("lo_clip"), col("hi_clip"), col("winsorized"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(spm1 == zExact)
  }

  test("shapeStats: symmetric zero, hand-computed skew, tie NULL") {
    // 1..8: octiles 1..7 -> bowley = (6+2-8)/4 = 0, moors = 4/4 = 1
    val sym = (1L to 8L).map(v => ("g", v)).toDF("g", "v")
    val s = Robust.shapeStats(sym, "g", "v").collect()(0)
    assert(s.getLong(1) == 0L && s.getLong(2) == 1000000L)
    // right-skewed 1,2,2,2,3,3,4,10: octiles 1,2,2,2,3,3,4
    // bowley = (3+2-4)/(3-2) = 1; moors = ((4-3)+(2-1))/1 = 2
    val skew = Seq(1L, 2L, 2L, 2L, 3L, 3L, 4L, 10L).map(("g", _))
      .toDF("g", "v")
    val k = Robust.shapeStats(skew, "g", "v").collect()(0)
    assert(k.getLong(1) == 1000000L && k.getLong(2) == 2000000L)
    // degenerate interquartile range -> NULL, not a div-by-zero
    val flat = Seq(5L, 5L, 5L).map(("g", _)).toDF("g", "v")
    val f = Robust.shapeStats(flat, "g", "v").collect()(0)
    assert(f.isNullAt(1) && f.isNullAt(2))
  }
}
