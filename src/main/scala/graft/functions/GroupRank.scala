package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._

import graft.plans.{RankWithin, TopKNative}

/** Exact within-group ranking WITHOUT a single sort task per group — the
  * shared primitive behind every "rank/percentile/median within source"
  * operator here. `row_number() over (partition by group ...)` sorts a
  * whole group in ONE task (a 30 TB source becomes one serial sort); a
  * rank is a POSITION in a total order, and positions compose across
  * contiguous slices, so every entry point here is one [[RankWithin]]
  * node over one range exchange on (groups, order). With a unique
  * tie-break in `order` ranks are fully deterministic; tied rows get a
  * permutation of their ranks — row_number's own contract. An empty
  * `groupCols` is one global group; internal columns are dropped from
  * every result.
  */
object GroupRank {

  /** `df` + `rankCol` (1-based rank within `groupCols` under `order`,
    * sort expressions such as `col("score").desc, col("id").asc`) +
    * `countCol` (group row count), both LongType. */
  def withRankAndCount(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], rankCol: String, countCol: String): DataFrame =
    rankWithin(df, groupCols, order, Some(lit(1L)),
      (col("__rwout") + 1L).as(rankCol), col("__rwtot").as(countCol))

  /** `df` + `rankCol` (1-based global DENSE rank of the row's `keys`
    * tuple, ascending with nulls first, LongType) — deterministic, and
    * without the distinct + rank-the-domain + join-back staging. */
  def denseRankAll(df: DataFrame, keys: Seq[String],
      rankCol: String): DataFrame =
    rankWithin(df, Nil, keys.map(col(_).asc), None, col("__rwout").as(rankCol))

  /** `df` + `prefixCol` (EXCLUSIVE prefix sum of `valueCol` — the sum
    * over all rows STRICTLY preceding this one in the (groupCols,
    * order) total order, LongType) + `totalCol` (group sum). The
    * exclusive form is the packing / allocation primitive: a row's
    * prefix IS its global start offset. Values accumulate in LONG —
    * callers whose per-group totals can exceed ~9.2e18 (not token
    * counts: 100 TB of text is ~2e13 tokens) must pre-scale.
    */
  def withPrefixSum(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], valueCol: String, prefixCol: String,
      totalCol: String): DataFrame =
    rankWithin(df, groupCols, order, Some(col(valueCol).cast("long")),
      col("__rwout").as(prefixCol), col("__rwtot").as(totalCol))

  /** `df`'s columns + `outs` over one [[RankWithin]] node. */
  private def rankWithin(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], step: Option[Column], outs: Column*): DataFrame = {
    require(order.nonEmpty, "order must not be empty")
    TopKNative.ensureStrategy(df.sparkSession)
    // the analyzer's own resolution of the sort keys and of the step
    val keys = df.sortWithinPartitions((groupCols.map(col) ++ order): _*)
      .queryExecution.analyzed.asInstanceOf[Sort].order
    val stepExpr = step.map(s => df.select(s).queryExecution.analyzed
      .expressions.head match { case Alias(e, _) => e; case e => e })
    GraftBridge.dataFrame(df.sparkSession, RankWithin(
        keys.take(groupCols.size).map(_.child), keys.drop(groupCols.size),
        stepExpr, GraftBridge.logicalPlan(df)))
      .select((df.columns.toIndexedSeq.map(col) ++ outs): _*)
  }

  /** Exact integral division on long columns (`a div b`): Spark's `/`
    * returns double, whose 53-bit mantissa cannot represent every long
    * quotient — the same exactness rule the `expr("x div y")` forms
    * elsewhere in this package follow, made composable over anonymous
    * columns (public: rank-selection consumers build ceil-div targets
    * from it).
    */
  def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(new org.apache.spark.sql.catalyst.expressions
      .IntegralDivide(GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Standard SQL NTILE(k) from a precomputed (rank, count) pair — the
    * arithmetic form of the bucket both Spark's and DuckDB's window
    * function assign: with q = n div k and r = n mod k, the first r
    * buckets take q+1 rows and the rest take q. Long arithmetic
    * throughout (a 32-bit rank×k wraps at the group sizes the rank
    * operator exists for). `rank` is 1-based; result is 1..k.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    val kL = lit(k.toLong)
    val q = intDiv(n.cast("long"), kL)
    val r = n.cast("long") % kL
    val rnL = rank.cast("long")
    // rows 1 .. r*(q+1) sit in the padded buckets, the rest in plain ones
    when(rnL <= r * (q + 1L), intDiv(rnL - 1L, q + 1L) + 1L)
      .otherwise(r + intDiv(rnL - 1L - r * (q + 1L), q) + 1L)
  }
}
