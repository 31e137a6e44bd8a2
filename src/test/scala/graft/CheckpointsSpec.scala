package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.{Checkpoints, PlanMemo}

/** The checkpoint owner's rule: a scope frees the checkpoints it took
  * that its result does not read, keeps (and hands outward) the ones it
  * does, frees all of them when its body throws, and leaves a memo
  * value's checkpoints and other threads' checkpoints alone.
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def stored: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def ck(n: Int): DataFrame =
    Checkpoints.take(spark.range(n).toDF("id"))

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  private def gone(ids: Int*): Unit =
    eventually(timeout(20.seconds), interval(100.millis)) {
      assert((stored & ids.toSet).isEmpty,
        s"still stored: ${(stored & ids.toSet).toSeq.sorted}")
    }

  test("an unread checkpoint is freed when its owner exits") {
    var unread = -1
    val n = Checkpoints.owned {
      val a = ck(5)
      unread = rddId(a)
      assert(stored.contains(unread))
      // labelled with its caller's line, as a direct checkpoint would be
      assert(spark.sparkContext.getPersistentRDDs(unread).toString
        .endsWith("at localCheckpoint at CheckpointsSpec.scala:27"))
      a.count()
    }
    assert(n == 5)
    gone(unread)
  }

  test("a checkpoint the result reads is kept, through the plan and " +
      "through an RDD passed to createDataFrame") {
    var unread = -1
    val (viaPlan, viaRdd, ids) = Checkpoints.owned {
      val a = ck(3)
      val b = ck(4)
      val c = ck(6)
      unread = rddId(c)
      val fromRdd = spark.createDataFrame(b.rdd, b.schema)
      (a.filter("id > 0"), fromRdd, Seq(rddId(a), rddId(b)))
    }
    assert(ids.forall(stored.contains), s"$ids must stay stored")
    assert(viaPlan.count() == 2 && viaRdd.count() == 4)
    gone(unread)
    Checkpoints.free((viaPlan, viaRdd))
    gone(ids: _*)
  }

  test("a throwing body leaves none of its checkpoints stored") {
    var ids = Seq.empty[Int]
    intercept[IllegalStateException] {
      Checkpoints.owned {
        val inner = Checkpoints.owned(ck(2)) // read: handed outward
        val a = ck(3)
        ids = Seq(rddId(inner), rddId(a))
        throw new IllegalStateException("boom")
      }
    }
    gone(ids: _*)
  }

  test("replace frees the old round only after the new one exists") {
    var ids = Seq.empty[Int]
    var prevStoredDuringNext = false
    val last = Checkpoints.owned {
      var cur = ck(1)
      for (i <- 2 to 4) {
        val prevId = rddId(cur)
        ids :+= prevId
        cur = Checkpoints.replace(cur) {
          val next = cur.union(spark.range(i - 1, i).toDF("id"))
          val c = Checkpoints.take(next)
          prevStoredDuringNext = stored.contains(prevId)
          assert(prevStoredDuringNext, s"round $prevId freed too early")
          c
        }
        assert(!stored.contains(prevId), s"round $prevId still stored")
      }
      cur
    }
    assert(prevStoredDuringNext)
    assert(last.count() == 4 && stored.contains(rddId(last)))
    Checkpoints.free(last)
    gone(ids :+ rddId(last): _*)
  }

  test("a memo build inside an owner keeps its value's checkpoints, " +
      "including the outer checkpoint it reads") {
    val memo = new PlanMemo[DataFrame]
    var outerRead, built, outerUnread = -1
    val v = Checkpoints.owned {
      val outer = ck(7)
      val other = ck(8)
      outerRead = rddId(outer)
      outerUnread = rddId(other)
      val value = memo(outer, "k") {
        val b = ck(9)
        built = rddId(b)
        b.join(outer, "id")
      }
      value.count()
    }
    assert(v == 7)
    assert(stored.contains(outerRead) && stored.contains(built),
      "the memo value's checkpoints must survive the owner")
    gone(outerUnread)
    memo.release()
    gone(outerRead, built)
  }

  test("a checkpoint taken on a Future thread is never freed by an owner") {
    var f: DataFrame = null
    val n = Checkpoints.owned {
      f = Await.result(Future(ck(11)), Duration.Inf)
      Checkpoints.replace(f)(ck(1)).count()
    }
    assert(n == 1L && stored.contains(rddId(f)) && f.count() == 11)
    Checkpoints.free(f)
    gone(rddId(f))
  }
}
