package graft.functions

/** One switch for every session memo ([[PlanMemo]] slots) in the
  * engine — the shared chains (suffix rank tables, NB scoring, KN LM,
  * dedup candidate generators, trained k-means/PQ models, top-k
  * rankings, kNN graphs, components). Eviction only drops references
  * (see [[PlanMemo]]); this is the explicit "between workloads" hook a long-lived session (notebook, server) calls to
  * free every checkpoint at once — callers declare no live frames
  * derived from the memoized chains remain in use. It walks the
  * [[PlanMemo]] registry, so no memo can be left out.
  */
object Memos {
  def releaseAll(): Unit = PlanMemo.registered.foreach(_.release())
}
