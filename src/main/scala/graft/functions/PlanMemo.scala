package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, GraftBridge}

/** Plan-keyed SESSION MEMO for an expensive shared chain: several
  * catalog entries consume the SAME intermediate — byte-identical work
  * — and without the memo each rebuilds it from scratch. Every memo in
  * the engine runs the one policy below; call sites only name the key
  * and the build.
  *
  * Keys: `memo(key*)(build)` replaces every DataFrame in the key by its
  * canonicalized analyzed plan, so callers pass frames and parameters
  * as they are (every parameter that changes the result belongs in the
  * key). The session is the first DataFrame's, and the slot key also
  * carries its SparkContext identity (instance hash + applicationId): a
  * canonicalized plan is stable across context restarts, but the value
  * holds `localCheckpoint` blocks that belong to ONE live context — a
  * hit from a restarted context would hand back a frame whose blocks no
  * longer exist. Keying on the context turns that into a rebuild.
  *
  * Eviction: at most [[PlanMemo.Capacity]] slots, least recently used
  * out first, and eviction only DROPS the reference. Consumers hold
  * lazy views over the memoized checkpoints, so freeing on evict could
  * hand one a frame whose blocks are gone; Spark's ContextCleaner
  * reclaims the blocks once no consumer references them. A failed build
  * leaves the existing slots intact.
  *
  * A build is a [[Checkpoints]] scope whose surviving checkpoints belong
  * to the slot; [[release]] (and [[Memos.releaseAll]] over every memo)
  * frees them with [[Checkpoints.free]], best-effort.
  */
private[graft] final class PlanMemo[V] {
  private val lock = new Object
  // MRU first; at most PlanMemo.Capacity entries
  private var slots: List[(Seq[Any], V)] = Nil
  PlanMemo.registry.add(this): Unit

  /** The memoized value for `key`, building on miss. */
  def apply(key: Any*)(build: => V): V = {
    val sc = key.collectFirst { case df: Dataset[_] => df.sparkSession }
      .getOrElse(throw new IllegalArgumentException(
        "PlanMemo key must contain a DataFrame"))
      .sparkContext
    val full = Seq[Any](System.identityHashCode(sc), sc.applicationId) ++
      key.map {
        case df: Dataset[_] => GraftBridge.logicalPlan(df).canonicalized
        case k => k
      }
    lock.synchronized {
      slots.find(_._1 == full) match {
        case Some(hit @ (_, v)) =>
          PlanMemo.hits.incrementAndGet()
          slots = hit :: slots.filterNot(_ eq hit)
          v
        case None =>
          val v = Checkpoints.owned(build, memo = true)
          PlanMemo.builds.incrementAndGet()
          slots = ((full, v) :: slots).take(PlanMemo.Capacity)
          v
      }
    }
  }

  /** Drop every slot and free its checkpoint storage (callers declare
    * no live consumers of the memoized frames remain). */
  def release(): Unit = lock.synchronized {
    slots.foreach { case (_, v) =>
      try Checkpoints.free(v) catch { case NonFatal(_) => () }
    }
    slots = Nil
  }

  /** The values the slots hold, most recently used first (test hook). */
  private[graft] def held: Seq[V] = lock.synchronized(slots.map(_._2))
}

private[graft] object PlanMemo {
  /** Slots per memo: covers the keys the catalog alternates between
    * (k=5/k=10 rankings, corpus-wide and per-language LMs, raw and
    * residual PQ trainings, ...) so no family thrashes. */
  val Capacity = 12

  // Session-global hit/build counters across EVERY memo instance — the
  // bench harness snapshots them around each catalog entry to attribute
  // shared-chain training cost (a memo-cold entry pays its family's
  // build; hits ride it), so order-dependent per-entry times stop
  // reading as regressions. Monotonic; readers diff snapshots.
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val builds = new java.util.concurrent.atomic.AtomicLong
  private[graft] def counters: (Long, Long) = (hits.get, builds.get)

  // Every memo ever constructed registers here, so [[Memos.releaseAll]]
  // covers a new memo without a hand-kept list. Memos are object-level
  // singletons, so holding them strongly leaks nothing.
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[PlanMemo[_]]
  private[graft] def registered: Seq[PlanMemo[_]] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
  }
}
