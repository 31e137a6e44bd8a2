package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vec

/** The round-12 in-memory nn-descent round path (taken when the vector
  * table fits the session's broadcast budget) must be ROW-IDENTICAL to
  * the DataFrame loop it replaces — same candidate sets, bit-equal
  * sims (VecOps.dot fold + Spark's HALF_UP double round), same
  * (sim desc NULLS LAST, id asc) ranking — and the physical layout it
  * re-declares on its checkpoint (hashpartitioning(node_id) + per-
  * partition (node_id, sim desc, neighbor_id) order) must be TRUE,
  * because downstream joins and windows plan against it instead of
  * re-exchanging.
  */
class NnDescentParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic vectors with every adversarial shape the sim/rank
    * contract distinguishes: a zero vector (NULL sim), a null element
    * (NULL sim), a null vector, duplicated vectors (sim ties broken by
    * id), and varied magnitudes.
    */
  private def vecsDf(s: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(7)
    def randVec(): Seq[java.lang.Float] =
      (0 until 8).map(_ => java.lang.Float.valueOf(rnd.nextFloat() - 0.5f))
    val shared = randVec()
    val rows = (0L until 40L).map { i =>
      val v: Seq[java.lang.Float] =
        if (i == 7) Seq.fill(8)(java.lang.Float.valueOf(0f))
        else if (i == 11) randVec().updated(3, null)
        else if (i == 13) null
        else if (i == 20 || i == 21) shared
        else randVec()
      Row(i, v)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)
  }

  private def build(s: SparkSession): Array[Row] =
    Vec.nnDescentUncached(vecsDf(s), "vec_id", "embedding",
      k = 4, nBits = 3, rounds = 2, ringWindow = 3)
      .collect()

  test("in-memory round path is row-identical (bit-equal sims) to the " +
      "DataFrame loop") {
    val bcBudget = org.apache.spark.sql.GraftBridge
      .autoBroadcastThreshold(spark)
    assert(bcBudget > 0, "test session must leave the gate open")
    val viaLocal = build(spark)
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaDf = build(child)
    def key(r: Row) = (r.getLong(0), r.getLong(3))
    val a = viaLocal.sortBy(key)
    val b = viaDf.sortBy(key)
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0), s"node: $x vs $y")
      assert(x.getLong(1) == y.getLong(1), s"neighbor: $x vs $y")
      assert(x.getLong(3) == y.getLong(3), s"rank: $x vs $y")
      assert(x.isNullAt(2) == y.isNullAt(2), s"sim nullity: $x vs $y")
      if (!x.isNullAt(2))
        assert(java.lang.Double.doubleToRawLongBits(x.getDouble(2)) ==
          java.lang.Double.doubleToRawLongBits(y.getDouble(2)),
          s"sim bits: $x vs $y")
    }
  }

  test("re-declared checkpoint layout is true: murmur3 partition " +
      "placement and per-partition sort order") {
    val g = Vec.nnDescentUncached(vecsDf(spark), "vec_id", "embedding",
      k = 4, nBits = 3, rounds = 2, ringWindow = 3)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(LayoutCheck.violations(g, Seq("node_id"),
      Seq(("node_id", true), ("sim", false), ("neighbor_id", true)),
      parts) == ((0L, 0L)))
  }
}
