package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Eval

/** The round-12 in-memory greatest-convex-minorant fit must equal the
  * relational form it replaced, value for value — chord predicate,
  * segment extrema, and fixedPointExact's half-up ppm rendering — on
  * bin tables exercising every hull shape: already-monotone, fully
  * pooled, alternating violations, single bin, large counts near the
  * decimal staging's magnitude, and negative bins.
  */
class IsotonicParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def relDf(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("bin", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_correct", LongType, nullable = false)))
    spark.createDataFrame(
      rows.map(t => Row(t._1, t._2, t._3)).asJava, schema)
  }

  /** The relational greatest-convex-minorant fit `Eval.isotonicCalibrate`
    * replays locally — the executable specification the in-memory fit is
    * compared against (chord predicate in decimal(38,0), segment
    * struct-extrema, ppm rendering through `Stats.fixedPointExact`).
    */
  private def isotonicCalibrateRelational(rel: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val pts = rel.select(col("bin"), col("n"), col("n_correct"))
      .withColumn("__W", sum(col("n")).over(w))
      .withColumn("__S", sum(col("n_correct")).over(w))
      .localCheckpoint(true)
    val spark = rel.sparkSession
    import spark.implicits._
    val withOrigin = pts.select(col("__W"), col("__S"))
      .unionByName(Seq((0L, 0L)).toDF("__W", "__S"))
    val m = withOrigin.select(col("__W").as("__Wm"), col("__S").as("__Sm"))
    val j = withOrigin.select(col("__W").as("__Wj"), col("__S").as("__Sj"))
    val k = withOrigin.select(col("__W").as("__Wk"), col("__S").as("__Sk"))
    val dec = "decimal(38,0)"
    val violated = m.join(j, col("__Wj") < col("__Wm"))
      .join(k, col("__Wk") > col("__Wm"))
      .filter(
        expr(s"CAST(__Sm - __Sj AS $dec) * (__Wk - __Wj)") >
          expr(s"CAST(__Sk - __Sj AS $dec) * (__Wm - __Wj)"))
      .select(col("__Wm")).distinct()
    val hull = withOrigin.join(violated,
        withOrigin("__W") === violated("__Wm"), "left_anti")
    val ha = hull.select(col("__W").as("__Wa"), col("__S").as("__Sa"))
    val hb = hull.select(col("__W").as("__Wb"), col("__S").as("__Sb"))
    val seg = pts.join(ha, col("__Wa") < col("__W"))
      .groupBy(col("bin"), col("n"), col("n_correct"), col("__W"),
        col("__S"))
      .agg(max(struct(col("__Wa"), col("__Sa"))).as("__a"))
      .join(hb, col("__Wb") >= col("__W"))
      .groupBy(col("bin"), col("n"), col("n_correct"), col("__a"))
      .agg(min(struct(col("__Wb"), col("__Sb"))).as("__b"))
    seg.select(col("bin"), col("n"), col("n_correct"),
        graft.functions.Stats.fixedPointExact(col("n_correct"), col("n")).as("acc_ppm"),
        graft.functions.Stats.fixedPointExact(col("__b.__Sb") - col("__a.__Sa"),
          col("__b.__Wb") - col("__a.__Wa")).as("cal_ppm"))
  }

  private def run(rows: Seq[(Long, Long, Long)]): Unit = {
    def key(r: Row) = r.getLong(0)
    val local = Eval.isotonicCalibrate(relDf(rows)).collect().sortBy(key)
    val rel = isotonicCalibrateRelational(relDf(rows))
      .collect().sortBy(key)
    assert(local.length == rel.length,
      s"${local.length} vs ${rel.length} rows for $rows")
    local.zip(rel).foreach { case (a, b) =>
      (0 until 5).foreach { i =>
        assert(a.getLong(i) == b.getLong(i), s"col $i: $a vs $b ($rows)")
      }
    }
  }

  test("monotone table is its own fit") {
    run(Seq((0L, 10L, 1L), (1L, 10L, 4L), (2L, 10L, 9L)))
  }

  test("decreasing accuracy pools to one segment") {
    run(Seq((0L, 10L, 9L), (1L, 10L, 5L), (2L, 10L, 1L)))
  }

  test("alternating violations and uneven weights") {
    run(Seq((-2L, 3L, 2L), (0L, 50L, 10L), (1L, 2L, 2L), (3L, 7L, 1L),
      (5L, 40L, 39L), (9L, 1L, 0L)))
  }

  test("single bin") {
    run(Seq((4L, 7L, 3L)))
  }

  test("large counts near the wide-decimal staging") {
    run(Seq((0L, 3000000000L, 1L), (1L, 2999999999L, 2999999999L),
      (2L, 1L, 1L)))
  }

  test("empty table") {
    run(Seq.empty)
  }
}
