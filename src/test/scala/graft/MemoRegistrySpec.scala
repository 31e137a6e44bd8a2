package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Memos, PlanMemo}

/** `Memos.releaseAll` frees every registered memo — including the
  * nn-descent graph and beam-search memos a hand-kept release list
  * once left out.
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
}
