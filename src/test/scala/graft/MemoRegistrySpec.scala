package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.{Cluster, Dedup, Memos, PlanMemo, Quant, Vec}

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
}
