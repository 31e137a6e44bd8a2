package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Checkpoints, Suffix}

/** Checks a layout declared by `GraftBridge.relabelCheckpointLayout`
  * instead of trusting it: the declaration is a correctness contract
  * (consumers skip their exchange and sort), so a wrong one silently
  * mis-joins. Test-only: it reads every row. Its two call sites are
  * checked here (the suffix composite round) and in NnDescentParitySpec
  * (the in-memory nn-descent rounds).
  */
object LayoutCheck {
  /** (rows outside partition pmod(murmur3(keys), n), adjacent row pairs
    * out of the declared order) — ascending sorts NULLS FIRST,
    * descending NULLS LAST, the relabel's own convention. */
  def violations(df: DataFrame, keys: Seq[String],
      ordering: Seq[(String, Boolean)], n: Int): (Long, Long) = {
    // hashpartitioning's partitionIdExpression is pmod(murmur3, n); the
    // hash() function is the same murmur3 with seed 42
    val misplaced = df
      .select(spark_partition_id().as("__p"),
        pmod(hash(keys.map(col): _*), lit(n)).as("__h"))
      .filter(col("__p") =!= col("__h")).count()
    val asc = ordering.map(_._2).toArray
    val unsorted = df.select(ordering.map(o => col(o._1)): _*).rdd
      .mapPartitions { it =>
        var prev: Row = null
        var bad = 0L
        it.foreach { r =>
          if (prev != null && compare(prev, r, asc) > 0) bad += 1
          prev = r
        }
        Iterator(bad)
      }.sum().toLong
    (misplaced, unsorted)
  }

  private def compare(a: Row, b: Row, asc: Array[Boolean]): Int = {
    var c = 0
    var i = 0
    while (c == 0 && i < asc.length) {
      val up = (a.isNullAt(i), b.isNullAt(i)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => a.get(i).asInstanceOf[Comparable[Any]].compareTo(b.get(i))
      }
      c = if (asc(i)) up else -up
      i += 1
    }
    c
  }
}

class LayoutCheckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def parts = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def declared(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.outputPartitioning.numPartitions == parts
      case _ => false
    }

  test("the suffix build's composite round holds its declared layout") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val tables = Suffix.rankTables(docs, "doc_id", "text", rounds = 3)
    // round 1 is a composite round: its checkpoint carries the relabel
    val composite = tables(1)
    assert(declared(composite), "round 1 must be the relabeled composite")
    assert(LayoutCheck.violations(composite, Seq("__id"),
      Seq(("__id", true), ("__pos", true)), parts) == ((0L, 0L)))
    tables.distinct.foreach(Checkpoints.free)
  }

  test("a planted mislabel is caught: wrong order and wrong placement") {
    val ids = spark.range(200).toDF("id")
    val descending = Checkpoints.take(ids.repartition(4, col("id"))
      .sortWithinPartitions(col("id").desc))
    val (placed, unsorted) = LayoutCheck.violations(
      GraftBridge.relabelCheckpointLayout(descending, Seq("id"),
        Seq(("id", true)), 4), Seq("id"), Seq(("id", true)), 4)
    assert(placed == 0L && unsorted > 0L, (placed, unsorted))
    val roundRobin = Checkpoints.take(ids.repartition(4)
      .sortWithinPartitions(col("id")))
    val (misplaced, sorted) = LayoutCheck.violations(
      GraftBridge.relabelCheckpointLayout(roundRobin, Seq("id"),
        Seq(("id", true)), 4), Seq("id"), Seq(("id", true)), 4)
    assert(misplaced > 0L && sorted == 0L, (misplaced, sorted))
    Seq(descending, roundRobin).foreach(Checkpoints.free)
  }
}
