package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Single-slot, plan-keyed SESSION MEMO for an expensive shared chain
  * (the pattern behind [[Suffix]]'s rank tables and [[NaiveBayes]]'s
  * scoring chain, now also the dedup candidate generators): several
  * catalog entries consume the SAME intermediate — byte-identical work
  * — and without the memo each rebuilds it from scratch.
  *
  * The slot key ALWAYS includes the owning SparkContext's identity
  * (instance hash + applicationId) in addition to the caller's
  * canonicalized-plan key: a canonicalized logical plan is stable
  * across context restarts (and identical between two sessions reading
  * the same source), but the memoized value holds `localCheckpoint`
  * RDD blocks that belong to ONE live context — a hit from a restarted
  * or foreign context would hand back a frame whose blocks no longer
  * exist and fail at runtime mid-scan. Keying on the context makes
  * such a hit a miss, so the chain transparently rebuilds.
  *
  * Each instance registers itself in the companion, which is how
  * [[Memos.releaseAll]] finds it.
  *
  * Eviction (a different key arrives) and explicit [[release]] run the
  * caller-supplied free hooks; both are best-effort (a stopped
  * context's blocks are already gone and unpersisting them throws —
  * that exception is swallowed, the storage is reclaimed either way).
  * Eviction frees AFTER the replacement build succeeds, so a failed
  * build leaves the old slot intact.
  */
private[graft] final class PlanMemo[V](
    freeOnEvict: V => Unit, freeOnRelease: V => Unit,
    capacity: Int = 1) {
  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  private val lock = new Object
  // MRU first; at most `capacity` entries. capacity > 1 exists for
  // call sites whose consumers ALTERNATE between a small number of
  // keys (e.g. the corpus-wide and per-language KN chains) — a single
  // slot would thrash, rebuilding on every alternation.
  private var slots: List[(Seq[Any], V)] = Nil
  PlanMemo.registry.add(this): Unit

  private def freeQuietly(f: V => Unit, v: V): Unit =
    try f(v) catch { case NonFatal(_) => () }

  /** The memoized value for `key` under `spark`'s context, building
    * (and evicting the least-recently-used occupant past capacity) on
    * miss. `key` should be the canonicalized input plan(s) plus every
    * parameter that changes the result — column names, rounds,
    * thresholds.
    */
  def getOrBuild(spark: SparkSession, key: Seq[Any])(build: => V): V =
    lock.synchronized {
      val sc = spark.sparkContext
      val full = Seq[Any](System.identityHashCode(sc), sc.applicationId) ++ key
      slots.find(_._1 == full) match {
        case Some(hit @ (_, v)) =>
          PlanMemo.hits.incrementAndGet()
          slots = hit :: slots.filterNot(_ eq hit)
          v
        case None =>
          val v = build
          PlanMemo.builds.incrementAndGet()
          slots = (full, v) :: slots
          if (slots.size > capacity) {
            freeQuietly(freeOnEvict, slots.last._2)
            slots = slots.init
          }
          v
      }
    }

  /** Drop every slot and free its storage (callers declare no live
    * consumers of the memoized frames remain). */
  def release(): Unit = lock.synchronized {
    slots.foreach { case (_, v) => freeQuietly(freeOnRelease, v) }
    slots = Nil
  }

  /** Whether any slot currently holds a value (test hook). */
  private[graft] def isOccupied: Boolean = lock.synchronized(slots.nonEmpty)
}

private[graft] object PlanMemo {
  /** A memo whose evict and release hooks are the same `free`. */
  def apply[V](free: V => Unit): PlanMemo[V] = new PlanMemo(free, free)

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
