package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.PlanMemo

/** The one memo policy behind every shared chain: plan-canonicalized
  * keys, drop-only LRU eviction at [[PlanMemo.Capacity]], release that
  * frees every checkpoint in the value, swallowed free failures, and a
  * failed build that keeps the old slot.
  */
class PlanMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def checkpointed(n: Int): DataFrame =
    spark.range(n).toDF("id").localCheckpoint(true)

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  private def stored: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("a plan-equal key hits without rebuilding") {
    val memo = new PlanMemo[Int]
    var builds = 0
    def build(v: Int): Int = { builds += 1; v }
    val (h0, b0) = PlanMemo.counters
    assert(memo(spark.range(5), "k")(build(1)) == 1)
    assert(memo(spark.range(5), "k")(build(99)) == 1,
      "a re-derived frame with the same plan must hit")
    assert(memo(spark.range(6), "k")(build(2)) == 2,
      "a different plan is a different key")
    assert(memo(spark.range(5), "other")(build(3)) == 3,
      "a different parameter is a different key")
    assert(builds == 3)
    val (h1, b1) = PlanMemo.counters
    assert(h1 - h0 == 1 && b1 - b0 == 3)
    memo.release()
  }

  test("a key without a DataFrame is rejected") {
    val memo = new PlanMemo[Int]
    val e = intercept[IllegalArgumentException](memo("k")(1))
    assert(e.getMessage.contains("DataFrame"))
  }

  test("eviction at Capacity drops the least recently used slot and " +
      "frees nothing") {
    val memo = new PlanMemo[DataFrame]
    val key = spark.range(1)
    val vals = (0 to PlanMemo.Capacity).map { i =>
      memo(key, i)(checkpointed(i + 1))
    }
    // slot 0 was least recently used when slot Capacity arrived
    var rebuilt = false
    memo(key, 1) { rebuilt = true; checkpointed(1) }
    assert(!rebuilt, "slot 1 must still be held")
    memo(key, 0) { rebuilt = true; checkpointed(1) }
    assert(rebuilt, "slot 0 must have been evicted")
    // eviction only dropped the references: every displaced frame
    // (slot 0, then slot 2 for the rebuilt slot 0) still reads
    assert(stored.contains(rddId(vals(0))) && stored.contains(rddId(vals(2))))
    assert(vals(0).count() == 1 && vals(2).count() == 3)
    memo.release()
    vals.foreach(graft.functions.Checkpoints.free)
  }

  test("release frees DataFrame, tuple and Seq values, and empties the " +
      "memo") {
    val key = spark.range(1)
    val single = new PlanMemo[DataFrame]
    val pair = new PlanMemo[(DataFrame, DataFrame)]
    val many = new PlanMemo[Seq[DataFrame]]
    val count = new PlanMemo[Long]
    val a = single(key)(checkpointed(2))
    val (b, c) = pair(key)((checkpointed(3), checkpointed(4)))
    val ds = many(key)(Seq(checkpointed(5), checkpointed(6)))
    count(key)(7L)
    val ids = (Seq(a, b, c) ++ ds).map(rddId)
    assert(ids.forall(stored.contains))
    Seq(single, pair, many, count).foreach(_.release())
    assert(Seq(single, pair, many, count).forall(_.held.isEmpty))
    eventually(timeout(30.seconds), interval(200.millis)) {
      assert((stored & ids.toSet).isEmpty)
    }
    single.release() // idempotent on empty
  }

  test("a failing free is swallowed and the other slots are still freed") {
    val memo = new PlanMemo[Iterable[DataFrame]]
    val key = spark.range(1)
    // stands in for a stopped context, whose unpersist throws
    val dead = new Iterable[DataFrame] {
      def iterator: Iterator[DataFrame] =
        throw new IllegalStateException("context stopped")
    }
    memo(key, "dead")(dead)
    val live = memo(key, "live")(Seq(checkpointed(2)))
    memo.release()
    assert(memo.held.isEmpty)
    eventually(timeout(30.seconds), interval(200.millis)) {
      assert(!stored.contains(rddId(live.head)))
    }
  }

  test("a failed build leaves the previous slot intact") {
    val memo = new PlanMemo[Int]
    val key = spark.range(1)
    memo(key, "x")(7)
    intercept[RuntimeException] {
      memo(key, "y")(throw new RuntimeException("boom"))
    }
    assert(memo(key, "x")(8) == 7,
      "the old value must survive a failed replacement build")
    memo.release()
  }
}
