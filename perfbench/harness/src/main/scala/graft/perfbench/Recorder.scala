package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counts, recorded from the benchmark side only.
  *
  * Spans (workload → pass → operation → module call) are timed with the
  * wall clock around the harness's own calls and always kept in memory:
  * the end-to-end metrics come from them. While tracing is on, the
  * recorder also:
  *  - tags the driver thread with the innermost span id (a Spark local
  *    property, inherited by the jobs it submits), so a `SparkListener`
  *    attributes jobs, stages and task metrics to their operation;
  *  - records every query's Catalyst phase times from a
  *    `QueryExecutionListener`;
  *  - snapshots janino codegen and `PlanMemo` counters around each module
  *    call, and the live RDD storage after each operation.
  * With tracing off no listener is registered and none of that runs.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val sc = spark.sparkContext
  // nanoTime → epoch nanoseconds, to line spans up with listener events
  private val epochOffsetNs = System.currentTimeMillis * 1000000L - System.nanoTime
  private def nowNs: Long = System.nanoTime + epochOffsetNs

  private final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, val traced: Boolean) {
    val start: Long = nowNs
    var end = 0L
    var error: String = null
    val attrs = mutable.LinkedHashMap.empty[String, Any]
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false

  private val listener = new Listener
  private val queries = new Queries

  /** Turns tracing on or off between passes. Turning it off first waits
    * for the listener bus to deliver every pending event. */
  def tracing(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(queries)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
    on = enable
  }

  /** Runs `body` inside a span; a throw marks the span failed and goes on. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.fold(-1)(_.id), kind, name, on)
    spans += s
    stack = s :: stack
    val before = if (s.traced && kind == "call") counters() else null
    if (s.traced) sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    catch { case e: Throwable =>
      s.error = String.valueOf(e.getMessage).take(500)
      throw e
    } finally {
      s.end = nowNs
      stack = stack.tail
      if (s.traced) {
        sc.setLocalProperty(SpanKey, parent.filter(_.traced).map(_.id.toString).orNull)
        if (before != null) s.attrs ++= delta(before, counters())
        if (kind == "op") s.attrs("storage_bytes") =
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      }
    }
  }

  /** One operation of the closed loop; false if it threw. */
  def op(name: String)(body: => Unit): Boolean = opValue(name)(body).isDefined

  def opValue[T](name: String)(body: => T): Option[T] =
    try Some(span("op", name)(body))
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
      None
    }

  /** A call into one of the program's modules, inside an operation. */
  def call[T](module: String)(body: => T): T = span("call", module)(body)

  private def counters(): Array[Long] = {
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = compile.getSnapshot
    val (hits, builds) = graft.functions.PlanMemo.counters
    Array(compile.getCount, snap.getValues.sum, snap.size.toLong,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, hits, builds)
  }

  /** Counter deltas over a call. The compile-time histogram samples into a
    * reservoir; its summed delta is exact only while the reservoir still
    * holds every compile (size == count), and is otherwise estimated from
    * the reservoir mean and flagged. */
  private def delta(a: Array[Long], b: Array[Long]): Seq[(String, Any)] = {
    val compiles = b(0) - a(0)
    val exact = a(2) == a(0) && b(2) == b(0)
    val compileMs =
      if (exact) (b(1) - a(1)).toDouble
      else if (b(2) == 0) 0.0
      else b(1).toDouble / b(2) * compiles
    Seq("codegen_classes" -> (b(3) - a(3)),
      "codegen_compile_ms" -> compileMs, "codegen_exact" -> exact,
      "memo_hits" -> (b(4) - a(4)), "memo_builds" -> (b(5) - a(5)))
  }

  /** Everything recorded, for the result file. */
  def result: Map[String, Any] = Map(
    "spans" -> spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "traced" -> s.traced,
        "error" -> s.error) ++ s.attrs
    },
    "jobs" -> listener.jobs.values.toSeq.sortBy(_("id").asInstanceOf[Int]),
    "span_tasks" -> listener.perSpan.map { case (k, v) => k.toString -> v.toMap },
    "queries" -> queries.rows.toSeq)

  /** Jobs, stages and task metrics by span. */
  private final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Map[String, Any]]
    val stageSpan = mutable.HashMap.empty[Int, Int]
    val perSpan = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Long]]

    private def spanOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).fold(-1)(_.toInt)

    private def add(span: Int, kv: (String, Long)*): Unit = {
      val m = perSpan.getOrElseUpdate(span, mutable.LinkedHashMap.empty)
      kv.foreach { case (k, v) => m(k) = m.getOrElse(k, 0L) + v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.getOrElseUpdate(_, span))
      jobs(e.jobId) = Map("id" -> e.jobId, "span" -> span, "start_ms" -> e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j ++ Map("end_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val span = spanOf(e.properties)
      if (span >= 0) stageSpan(e.stageInfo.stageId) = span
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages" -> 1L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val span = stageSpan.getOrElse(e.stageId, -1)
      if (m == null) add(span, "tasks" -> 1L)
      else add(span,
        "tasks" -> 1L,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "read_bytes" -> m.inputMetrics.bytesRead,
        "write_bytes" -> m.outputMetrics.bytesWritten)
    }
  }

  /** Catalyst phase times of every query execution. Events arrive on the
    * listener bus, so they carry their wall-clock end time and are
    * attributed to the span that was running then. */
  private final class Queries extends QueryExecutionListener {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

    private def record(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).fold(0L)(_.durationMs)
      val endMs = if (phases.isEmpty) System.currentTimeMillis
                  else phases.values.map(_.endTimeMs).max
      rows += Map("end_ms" -> endMs, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }
}

object Recorder {
  /** Spark local property carrying the id of the innermost traced span. */
  val SpanKey = "graft.perfbench.span"
}
