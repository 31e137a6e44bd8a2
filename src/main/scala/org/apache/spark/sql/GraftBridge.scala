package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-internal bridge: Column <-> catalyst Expression conversion for
  * graft's custom expressions. Spark 4 hides these conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); this is
  * the conventional shim used by expression libraries building on the
  * classic execution engine.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a logical plan as a DataFrame on the given session. */
  def dataFrame(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's extensions object — mutable; additions take effect in
    * sessions whose SessionState is built afterwards (e.g. `newSession()`),
    * which is how the test suite exercises config-style injection without
    * tearing down the shared session.
    */
  def extensions(spark: SparkSession): SparkSessionExtensions =
    spark.asInstanceOf[classic.SparkSession].extensions

  /** Hive partition-path escaping (spaces, colons, '%', …) — the exact
    * rules Spark's writers use for `col=value` directory names, so swap
    * logic addressing directories by value hits the real on-disk names.
    */
  def escapePartitionValue(v: String): String =
    catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  def unescapePartitionValue(v: String): String =
    catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  /** Invalidate the session-shared file-listing cache. `spark.catalog
    * .refreshByPath` only re-executes cached PLANS; the FileStatusCache
    * behind path-based reads keeps serving a swapped-out directory's old
    * file list until invalidated, and new reads then die on deleted files.
    */
  def invalidateFileListingCache(spark: SparkSession): Unit =
    execution.datasources.FileStatusCache
      .getOrCreate(spark.asInstanceOf[classic.SparkSession])
      .invalidateAll()

  /** Block until every queued listener event is delivered — lets a
    * measurement harness attribute listener-counted job time to the
    * action that just returned (the bus is async; without the drain a
    * job's end event can land in the next query's window).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Frees a persisted RDD's blocks as Spark's ContextCleaner does
    * (`SparkContext.unpersistRDD`). `RDD.unpersist` makes the same call
    * but first logs a WARN for every local checkpoint, that its lineage
    * is truncated, also when nothing reads it again.
    */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The session's configured auto-broadcast byte budget
    * (`spark.sql.autoBroadcastJoinThreshold`; <= 0 means disabled).
    * Operators over checkpointed intermediates (LogicalRDD: no size
    * statistics, so the planner can never auto-broadcast them) use this
    * with their own exact row counts to restore the planner's
    * broadcast-vs-shuffle decision — the same budget, better stats.
    */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Re-declare the physical layout of an eagerly checkpointed
    * DataFrame. Under adaptive execution `Dataset.localCheckpoint`
    * records `UnknownPartitioning` even when the checkpointed plan
    * ended in an explicit REPARTITION_BY_NUM exchange plus a
    * per-partition sort — so consumers re-exchange and re-sort data
    * that is already laid out. The caller asserts (and must have
    * actually produced — the layout is a correctness contract exactly
    * like a bucketed table's) hash partitioning on `partitionCols`
    * into `numPartitions` with rows sorted by `ordering`
    * (name, ascending); descending orders carry NULLS LAST and
    * ascending NULLS FIRST, the window/sort defaults. Fails loudly on a
    * frame that is not an eager checkpoint or whose partition count
    * differs from `numPartitions`.
    */
  def relabelCheckpointLayout(df: Dataset[_], partitionCols: Seq[String],
      ordering: Seq[(String, Boolean)], numPartitions: Int): DataFrame =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        require(l.rdd.getNumPartitions == numPartitions,
          "relabelCheckpointLayout: the checkpoint has " +
            s"${l.rdd.getNumPartitions} partitions, the declared layout " +
            s"$numPartitions")
        val attr = l.output.map(a => a.name -> a).toMap
        val part = catalyst.plans.physical.HashPartitioning(
          partitionCols.map(attr), numPartitions)
        val ord = ordering.map { case (n, asc) =>
          catalyst.expressions.SortOrder(attr(n),
            if (asc) catalyst.expressions.Ascending
            else catalyst.expressions.Descending)
        }
        val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(cs,
          l.copy(outputPartitioning = part, outputOrdering = ord)(
            cs, None, None))
      case other => throw new IllegalArgumentException(
        "relabelCheckpointLayout needs an eagerly checkpointed frame " +
          s"(a LogicalRDD plan), got ${other.nodeName}")
    }

  /** Register a function into a LIVE session's registry (builder-time
    * `withExtensions` only applies to sessions created after it).
    */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
