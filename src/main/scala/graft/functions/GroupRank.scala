package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Exact within-group ranking WITHOUT a single sort task per group — the
  * shared primitive behind every "rank/percentile/median within source"
  * operator here ([[Quality.percentileGate]], [[LangModel.lmBuckets]],
  * [[Robust.groupMedian]]).
  *
  * The naive plan — `row_number() over (partition by group order by key)`
  * — shuffles every row of a group into ONE window partition: at 100 TB a
  * 30 TB source becomes a single (spillable, but strictly serial) sort
  * task, the wall-clock death the round-5 audit flagged. The ranks
  * themselves don't need that: a rank is a POSITION in a total order, and
  * positions compose across contiguous slices.
  *
  * Two-level plan:
  *
  *  1. RANGE-exchange the frame on (group, key...) — Spark's
  *     `repartitionByRange` samples boundaries over the full sort tuple,
  *     so every partition holds a contiguous slice of the total order and
  *     is sized ~data/numPartitions regardless of group skew (one huge
  *     group simply spans many consecutive shards). Stamp each row with
  *     its shard id (`spark_partition_id` — evaluated in the
  *     range-partitioned stage; its nondeterministic flag also stops the
  *     optimizer from moving it across the exchange).
  *  2. Rank LOCALLY within (group, shard): an ordinary window whose
  *     partitions are bounded by the range exchange's slice size, never
  *     by group size.
  *  3. Aggregate per-(group, shard) row counts — a GROUPS×SHARDS-row
  *     table (mixture-sized: shards = spark.sql.shuffle.partitions) —
  *     and turn them into prefix offsets with a window over that tiny
  *     table (partitions bounded by the shard count), plus per-group
  *     totals.
  *  4. Broadcast the offset table back and add: global rank = local rank
  *     + offset of the group's preceding shards.
  *
  * Exactness: range partitioning guarantees every row in shard i orders
  * ≤ every row in shard i+1 under the sort tuple, so local-rank-plus-
  * prefix-offset IS the global row_number. Where the sort tuple is made
  * unique by a tie-break column the rank is fully deterministic; with
  * ties (e.g. the median's value-only sort) the ranks of tied rows are a
  * permutation within the tie run — exactly row_number's own contract.
  * Boundary placement (sampled, not deterministic across runs) therefore
  * never changes any rank, only which shard computed it.
  *
  * Cost: one linear range exchange + one bounded-partition window
  * shuffle + a mixture-sized aggregate + a broadcast join — every stage
  * parallel and spillable, nothing keyed solely by the group.
  */
object GroupRank {

  /** `df` + `rankCol` (1-based global rank within `groupCols` under
    * `order`, LongType) + `countCol` (group row count, LongType).
    *
    * `order` takes sort expressions (`col("score").desc`,
    * `col("id").asc`) — include a unique tie-break for deterministic
    * ranks. Internal column names are dropped from the result.
    */
  def withRankAndCount(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], rankCol: String, countCol: String): DataFrame =
    twoLevel(df, groupCols, order,
      "__grlrn", row_number().over(_),
      "__grc", count(lit(1)), rankCol, countCol)

  /** `df` + `rankCol` (1-based global DENSE rank of the row's `keys`
    * tuple under ascending non-null order, LongType) — two level like
    * [[withRankAndCount]] (one linear range exchange + one bounded-
    * partition window), but WITHOUT the distinct + rank-the-domain +
    * join-back staging dense ranking otherwise needs: per-shard local
    * dense ranks are lifted to global ones by the per-shard distinct
    * counts (the shard's max local rank), corrected for key runs that
    * span shard boundaries — adjacent shards whose boundary rows carry
    * the same key double-count one distinct value per shared boundary.
    * Dense rank is tie-insensitive, so sampled range boundaries never
    * change a rank, only which shard computes it — provided the stats
    * branch and the rank branch see ONE sharding. The local stage is
    * therefore checkpointed once: without exchange reuse each branch
    * would run its own range exchange, whose boundary sample is seeded
    * by the RDD id, and the offsets would belong to another sharding.
    * That checkpoint is the result's only leaf: once the result is
    * materialized, `GraftBridge.unpersistCheckpoint(result)` frees it.
    */
  def denseRankAll(df: DataFrame, keys: Seq[String],
      rankCol: String): DataFrame = {
    require(keys.nonEmpty, "keys must not be empty")
    val kc = keys.map(col)
    val ranged = df.repartitionByRange(kc: _*)
      .withColumn("__drshard", spark_partition_id())
    val wLocal = Window.partitionBy(col("__drshard"))
      .orderBy(kc.map(_.asc): _*)
    val local = ranged
      .withColumn("__drl", dense_rank().over(wLocal).cast("long"))
      .localCheckpoint(true)
    val stats = local.groupBy(col("__drshard"))
      .agg(max(col("__drl")).as("__drd"),
        min(struct(kc: _*)).as("__drmin"),
        max(struct(kc: _*)).as("__drmax"))
    // shard-domain windows: bounded by the exchange width
    val wOrd = Window.orderBy(col("__drshard").asc)
    val offs = stats
      .withColumn("__drcum",
        coalesce(sum(col("__drd")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__dradj",
        sum(when(lag(col("__drmax"), 1).over(wOrd) === col("__drmin"), 1L)
          .otherwise(0L))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("__drshard"),
        (col("__drcum") - col("__dradj")).as("__droff"))
    local.join(broadcast(offs), Seq("__drshard"))
      .withColumn(rankCol, col("__drl") + col("__droff"))
      .select((df.columns.toIndexedSeq.map(col) :+ col(rankCol)): _*)
  }

  /** `df` + `prefixCol` (EXCLUSIVE prefix sum of `valueCol` — the sum
    * over all rows STRICTLY preceding this one in the (groupCols,
    * order) total order, LongType) + `totalCol` (group sum). The same
    * two-level plan as [[withRankAndCount]] — range exchange, bounded
    * local running sums, a mixture-sized shard-offset table broadcast
    * back — so a 30 TB group is many parallel slices, never one sort
    * task. Positions compose across contiguous slices for SUMS exactly
    * as they do for counts; include a unique tie-break in `order` for
    * fully deterministic prefixes. The exclusive form is the packing /
    * allocation primitive: a row's prefix IS its global start offset.
    * Values accumulate in LONG — callers whose per-group totals can
    * exceed ~9.2e18 (not token counts: 100 TB of text is ~2e13 tokens)
    * must pre-scale.
    */
  def withPrefixSum(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], valueCol: String, prefixCol: String,
      totalCol: String): DataFrame =
    twoLevel(df, groupCols, order,
      "__grlps", w => coalesce(sum(col(valueCol).cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
      "__grs", sum(col(valueCol).cast("long")), prefixCol, totalCol)

  /** The two-level plan behind [[withRankAndCount]] and [[withPrefixSum]]
    * (see the object doc): range exchange on (groups, order), shard
    * stamp, the LOCAL window column `localCol` = `local(w)` over
    * (groups, shard) ordered by `order`, the per-(group, shard)
    * aggregate `shardCol` = `shardAgg`, shard offsets and group totals
    * over that small table, broadcast back. `outCol` is the local
    * value plus its shard offset, `totalCol` the group total.
    */
  private def twoLevel(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], localCol: String, local: WindowSpec => Column,
      shardCol: String, shardAgg: Column, outCol: String,
      totalCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    require(order.nonEmpty, "order must not be empty")
    val gc = groupCols.map(col)
    val ranged = df
      .repartitionByRange((gc ++ order): _*)
      .withColumn("__grshard", spark_partition_id())
    val wLocal = Window.partitionBy((gc :+ col("__grshard")): _*)
      .orderBy(order: _*)
    val withLocal = ranged.withColumn(localCol, local(wLocal))
    // per-(group, shard) aggregates: GROUPS×SHARDS rows — mixture-sized
    val perShard = withLocal.groupBy((gc :+ col("__grshard")): _*)
      .agg(shardAgg.as(shardCol))
    val wOff = Window.partitionBy(gc: _*).orderBy(col("__grshard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gc: _*)
    val offsets = perShard
      .withColumn("__groff", coalesce(sum(col(shardCol)).over(wOff), lit(0L)))
      .withColumn(totalCol, sum(col(shardCol)).over(wTot))
      .drop(shardCol)
    withLocal.join(broadcast(offsets), groupCols :+ "__grshard")
      .withColumn(outCol, (col(localCol).cast("long") + col("__groff")))
      // the using-join puts its keys first; restore the caller's layout
      .select((df.columns.toIndexedSeq.map(col) :+ col(outCol) :+
        col(totalCol)): _*)
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
    * throughout (a 32-bit rank×k wraps at the group sizes the two-level
    * rank exists for). `rank` is 1-based; result is 1..k.
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
