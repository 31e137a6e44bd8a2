package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.{Graph, Memos, Vec, VecIndex}

/** The loops that once kept every superseded round (or their edge
  * table) stored: after each call, storage holds only what was stored
  * before it plus what the result reads.
  */
class CheckpointLeakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private def stored: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  // what a frame reads: its plan-leaf RDDs and their dependencies
  private def reads(df: DataFrame): Set[Int] = {
    def deps(r: RDD[_]): Seq[RDD[_]] =
      r +: r.dependencies.flatMap(d => deps(d.rdd))
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case l: LogicalRDD => deps(l.rdd)
      case e: ExternalRDD[_] => deps(e.rdd)
      case _ => Nil
    }.map(_.id).toSet
  }

  private def holdsOnlyWhatItReads(name: String)(run: => DataFrame): Unit = {
    val before = stored
    val result = run
    // strong references: a GC between the call and the check cannot
    // hide a leak by collecting the RDD (Spark tracks them weakly)
    val held = spark.sparkContext.getPersistentRDDs
    val read = reads(result)
    eventually(timeout(20.seconds), interval(200.millis)) {
      val extra = (stored -- before -- read).toSeq.sorted
      assert(extra.isEmpty, s"$name left ${extra.map(id =>
        s"$id (${held.get(id).map(_.toString).getOrElse("?")})")
        .mkString(", ")}")
    }
    assert(result.count() >= 0, s"$name's result must still read")
  }

  private lazy val corpus = {
    val rnd = new scala.util.Random(31)
    (0L until 60L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
      .toDF("vec_id", "embedding")
  }

  private def graph: DataFrame = Vec.nnDescent(corpus, "vec_id",
    "embedding", k = 6, nBits = 3, rounds = 2, ringWindow = 4)

  test("harmonicCentrality frees its edge table and superseded hops") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val verts = (1L to 7L).toDF("id")
    holdsOnlyWhatItReads("harmonicCentrality")(Graph.harmonicCentrality(
      edges, "a", "b", verts, "id", maxHops = 3))
  }

  test("graphBeamSearch frees its adjacency and every superseded hop") {
    Memos.releaseAll()
    val g = graph
    val queries = corpus.filter(col("vec_id") < 5)
    holdsOnlyWhatItReads("graphBeamSearch")(Vec.graphBeamSearch(g, corpus,
      queries, "vec_id", "embedding", k = 2, beam = 4, hops = 3))
  }

  test("labelSpread frees its edge table and superseded rounds") {
    Memos.releaseAll()
    graph.count() // the memoized graph labelSpread reads stays stored
    val seeds = (0L until 20L).map(i => (i, (i % 3).toInt))
      .toDF("vec_id", "label")
    holdsOnlyWhatItReads("labelSpread")(Vec.labelSpread(corpus, seeds,
      spreadRounds = 3, k = 6, nBits = 3, graphRounds = 2, ringWindow = 4))
  }

  test("the bulk graph probe frees every superseded beam and candidate " +
      "set") {
    val path = TestSpark.tmpDir("gleak")
    VecIndex.writeGraphIndex(corpus, path, k = 6, nBits = 3, rounds = 2,
      ringWindow = 4, nBuckets = 4)
    val queries = corpus.filter(col("vec_id") < 5)
    holdsOnlyWhatItReads("graphProbeIndexed(frontierMax = 0)")(
      VecIndex.graphProbeIndexed(spark, path, queries, k = 2, beam = 4,
        hops = 3, frontierMax = 0L))
  }
}
