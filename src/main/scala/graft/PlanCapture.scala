package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Evidence tool (not part of the library surface): dumps the executed
  * plan of EVERY successful action to `$SPARK_GRAFT_PLANCAP_DIR`, one
  * numbered file per execution. A catalog entry's OUTER plan stops at
  * each internal `localCheckpoint` (the suffix descent, round loops,
  * memoized chains) as a `Scan ExistingRDD`, hiding exactly the plans an
  * optimization round changes; a QueryExecutionListener sees each
  * internal action's plan as it runs. Attach with
  * `-Dspark.sql.queryExecutionListeners=graft.PlanCapture` on any main
  * (Sweep, Bench, Verify); inert unless the env var is set.
  */
class PlanCapture extends QueryExecutionListener {
  private val dir = sys.env.get("SPARK_GRAFT_PLANCAP_DIR")
  private val seq = new java.util.concurrent.atomic.AtomicInteger

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    dir.foreach { d =>
      val i = seq.incrementAndGet()
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, f"plan_$i%03d_$funcName.txt"),
        qe.explainString(ExplainMode.fromString("formatted")))
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      error: Exception): Unit = ()
}
