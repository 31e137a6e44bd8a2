package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql` users (and any BI layer on
  * top) can call them without touching the Scala API:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  *   SELECT poly_hash(text), cosine_sim(a.embedding, b.embedding) ...
  */
object GraftFunctions {

  /** The SQL functions: every kernel whose parameters all have a literal
    * form (see [[Kernels]]). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Kernels.all.flatMap(k => k.sqlBuilder.map(b => (k.name, k.exprClass, b)))

  /** Register into an already-running session (builder-time extensions
    * only apply to sessions created after `withExtensions`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, clazz, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, name,
        new ExpressionInfo(clazz.getCanonicalName, name), builder)
    }
}

/** Config-only integration: a session created with
  * `spark.sql.extensions=graft.plans.GraftExtensions` gets the SQL
  * functions, the TopK planning strategy, AND the window-rank rewrite —
  * no Scala calls needed. The rewrite is injected as a pre-CBO rule: it
  * runs after the operator-optimization fixed point (so the Filter sits
  * directly on its Window, projects collapsed) and rewrites at most once
  * (the matched pattern disappears). `TopKNative.enable` remains the
  * imperative equivalent for an already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPreCBORule(_ => TopKRewrite)
  }
}
