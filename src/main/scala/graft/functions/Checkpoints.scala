package graft.functions

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

/** The one owner of eager checkpoints. [[take]] (`ds.checkpointed`)
  * gives a checkpoint to the innermost [[owned]] scope open on the
  * calling thread; with none open (a `Future` thread never inherits one)
  * Spark's ContextCleaner frees it after a GC. An exiting scope frees
  * what it owns that its result does not read ([[reach]]) and hands the
  * rest outward; a throwing one frees all. A [[PlanMemo]] build's
  * survivors belong to its slot, never to an open scope. Loops free
  * superseded rounds with [[replace]]. No plan changes: unpersisting is
  * not an action. */
private[graft] object Checkpoints {
  private val open =
    ThreadLocal.withInitial[List[mutable.Set[RDD[_]]]](() => Nil)

  def take[T](ds: Dataset[T]): Dataset[T] = {
    // the RDD keeps its caller's label, as a direct call would give it
    val caller = Thread.currentThread.getStackTrace.find(e => !Seq("java.",
      "scala.", "org.apache.spark.", "graft.functions.Checkpoints",
      "graft.functions.package").exists(e.getClassName.startsWith))
    val sc = ds.sparkSession.sparkContext
    caller.foreach(e => sc.setCallSite(
      s"localCheckpoint at ${e.getFileName}:${e.getLineNumber}"))
    val c = try ds.localCheckpoint(true) finally sc.clearCallSite()
    open.get.headOption.foreach(_ ++= reach(c).filter(_.isCheckpointed))
    c
  }

  /** Runs `body` as a scope; `memo` marks a [[PlanMemo]] build. */
  def owned[T](body: => T, memo: Boolean = false): T = {
    val outer = open.get
    val mine = mutable.LinkedHashSet.empty[RDD[_]]
    open.set(mine :: outer)
    val v = try body catch {
      case NonFatal(e) => unpersist(mine); throw e
    } finally open.set(outer)
    if (mine.nonEmpty || (memo && outer.exists(_.nonEmpty))) {
      val read = reach(v)
      unpersist(mine.filterNot(read))
      if (memo) outer.foreach(_ --= read)
      else outer.headOption.foreach(_ ++= mine.filter(read))
    }
    v
  }

  /** Evaluates `next` (a materialized round), then frees the checkpoints
    * `prev` reads that this scope owns and `next` does not read. */
  def replace[T](prev: Dataset[_])(next: => Dataset[T]): Dataset[T] = {
    val n = next
    open.get.headOption.foreach { mine =>
      val gone = reach(prev).filter(mine) -- reach(n)
      mine --= gone
      unpersist(gone)
    }
    n
  }

  /** Frees every eager checkpoint `v` reads. */
  def free(v: Any): Unit = unpersist(reach(v).filter(_.isCheckpointed))

  /** The RDDs `v` reads: the plan-leaf RDDs (subqueries included) of each
    * DataFrame in it — a DataFrame, or a tuple, case class or collection
    * of them — and their dependencies, transitively. */
  def reach(v: Any): Set[RDD[_]] = {
    val seen = mutable.Set.empty[RDD[_]]
    def rdd(r: RDD[_]): Unit =
      if (seen.add(r)) r.dependencies.foreach(d => rdd(d.rdd))
    def walk(x: Any): Unit = x match {
      case ds: Dataset[_] =>
        ds.queryExecution.analyzed.collectWithSubqueries {
          case l: LogicalRDD => rdd(l.rdd)
          case e: ExternalRDD[_] => rdd(e.rdd)
        }: Unit
      case s: Iterable[_] => s.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ => ()
    }
    walk(v)
    seen.toSet
  }

  // best-effort: a stopped context's blocks are already gone
  private def unpersist(rdds: Iterable[RDD[_]]): Unit = rdds.foreach { r =>
    try r.unpersist(blocking = false) catch { case NonFatal(_) => () }
  }
}
