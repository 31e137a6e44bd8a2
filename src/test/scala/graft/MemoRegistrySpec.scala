package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.{Cluster, Dedup, Memos, NaiveBayes, PlanMemo, Quant,
  Vec}

/** `Memos.releaseAll` frees every registered memo — including the
  * nn-descent graph and beam-search memos a hand-kept release list
  * once left out — and gives their checkpoint storage back.
  */
class MemoRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("releaseAll empties every registered memo after the graph and " +
      "winnow families ran") {
    for (q <- Seq("q_nndescent", "q_graph_search", "q_winnow_pairs"))
      SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .write.format("noop").mode("overwrite").save()
    assert(PlanMemo.registered.exists(_.isOccupied),
      "the three entries must leave at least one memo occupied")
    Memos.releaseAll()
    assert(PlanMemo.registered.forall(!_.isOccupied),
      s"${PlanMemo.registered.count(_.isOccupied)} memo(s) still occupied")
  }

  test("releaseAll frees the checkpoints of DataFrame and tuple memo " +
      "values") {
    def rddId(df: DataFrame): Int =
      df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    def stored: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val d = TestSpark.sf0001
    val sh = Dedup.docShingleIds(Tables.documents(spark, d), "doc_id",
      "text", 3)
    val sig = Dedup.minhashSignature(sh, "doc_id", col("tid"),
      SparkEntry.numMinhashes)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, "doc_id", 2),
      "doc_id")
    val emb = Tables.embeddings(spark, d)
    val (asg, cents) = Vec.kmeansModel(emb, k = 8, iters = 2)
    val (codes, codebook) = Quant.pqModel(emb, m = 4, subDim = 16, k = 8,
      iters = 2)
    val ids = Seq(pairs, asg, cents, codes, codebook).map(rddId).toSet
    assert(ids.size == 5)
    assert(ids.subsetOf(stored),
      s"checkpoints ${(ids -- stored).toSeq.sorted} are not in storage")
    Memos.releaseAll()
    // unpersist is asynchronous
    eventually(timeout(60.seconds), interval(250.millis)) {
      assert((stored & ids).isEmpty,
        s"checkpoints ${(stored & ids).toSeq.sorted} are still stored")
    }
  }

  test("releaseAll frees the label checkpoint under the components " +
      "projection") {
    def stored: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val d = TestSpark.sf0001
    val docs = Tables.documents(spark, d)
    val sh = Dedup.docShingleIds(docs, "doc_id", "text", 3)
    val sig = Dedup.minhashSignature(sh, "doc_id", col("tid"),
      SparkEntry.numMinhashes)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, "doc_id", 2),
      "doc_id")
    val comps = Cluster.connectedComponents(pairs, "id_a", "id_b",
      docs.select(col("doc_id")), "doc_id")
    // the memo value is a projection, not the checkpoint itself
    assert(!comps.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    val labels = comps.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }
    assert(labels.size == 1)
    assert(stored.contains(labels.head),
      s"label checkpoint ${labels.head} is not in storage")
    Memos.releaseAll()
    eventually(timeout(60.seconds), interval(250.millis)) {
      assert(!stored.contains(labels.head),
        s"label checkpoint ${labels.head} is still stored")
    }
  }

  test("graphWalks and the memoized NaiveBayes chain give their storage " +
      "back once the result is freed and the memos released") {
    def stored: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val d = TestSpark.sf0001
    val emb = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    val runs = Seq[(String, () => DataFrame)](
      "graphWalks" -> (() =>
        Vec.graphWalks(emb, emb.filter(col("vec_id") < 20), steps = 3)),
      "NaiveBayes.classify" -> (() =>
        NaiveBayes.classify(docs, docs, "doc_id", "text", "lang")))
    for ((name, run) <- runs) {
      Memos.releaseAll()
      val baseline = stored
      val result = run()
      assert(result.count() > 0, name)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(result)
      Memos.releaseAll()
      eventually(timeout(60.seconds), interval(250.millis)) {
        val left = spark.sparkContext.getRDDStorageInfo
          .filterNot(i => baseline(i.id))
        assert(left.isEmpty, s"$name left checkpoints " +
          left.map(i => s"${i.id} (${i.callSite})").mkString(", "))
      }
    }
  }

  test("nnDescent stores its graph once: a build runs the uncached " +
      "build's jobs and leaves one stored copy") {
    def stored: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val before = jobs.get
      val v = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      (v, jobs.get - before)
    }
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    spark.sparkContext.addSparkListener(counter)
    try {
      Memos.releaseAll()
      eventually(timeout(60.seconds), interval(250.millis)) {
        assert(PlanMemo.registered.forall(!_.isOccupied))
      }
      val baseline = stored
      val (g, built) = jobsOf(Vec.nnDescent(emb, "vec_id", "embedding", 4))
      val graph = g.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd.id }
      assert(graph.size == 1)
      // the build's intermediate checkpoints are freed asynchronously;
      // the ring seed's pairs stay in Dedup.sortedNeighborhoodPairs's own
      // memo
      eventually(timeout(60.seconds), interval(250.millis)) {
        val copies = spark.sparkContext.getRDDStorageInfo
          .filterNot(i => baseline(i.id) || i.callSite.contains("Dedup.scala"))
        assert(copies.map(_.id).toSet == graph.toSet, s"graph $graph, " +
          copies.map(i => s"${i.id} (${i.callSite})").mkString(", "))
      }
      val (u, uncached) = jobsOf(Vec.nnDescentUncached(emb, "vec_id",
        "embedding", 4, 4, 3, 8))
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(u)
      assert(built == uncached,
        s"the memoized build ran $built jobs, the uncached one $uncached")
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      Memos.releaseAll()
    }
  }
}
