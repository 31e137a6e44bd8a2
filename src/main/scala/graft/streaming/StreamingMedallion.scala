package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.merge.Merge
import graft.ops.Medallion

case class UserTimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class SessionState(n: Long, sum: Double, lastMs: Long)
case class ClosedSession(user_id: Long, n_events: Long, sum_value: Double)

/** Structured-Streaming variant of the medallion pipeline — the stock-Spark
  * re-expression of the reference's Autoloader notebooks
  * (the notebooks under /root/reference/Autoloader_notebook/):
  *
  *  - `cloudFiles` source → Spark's streaming JSON file source (same
  *    incremental file-discovery semantics via the checkpoint's seen-file
  *    log; Raw_to_Bronze.py:33-42).
  *  - `trigger(once=True)` → `Trigger.AvailableNow` (the 4.x successor).
  *  - Delta streaming sink → checkpointed parquet append sink.
  *  - foreachBatch Delta MERGE → foreachBatch join-merge (Merge.*).
  *  - streaming `.distinct()` → `dropDuplicates` *with a watermark* so
  *    state is bounded (the reference's unbounded-state call is a bug we
  *    do not reproduce; SURVEY.md §7.5).
  */
object StreamingMedallion {

  /** S4/K2 — raw JSON directory → bronze parquet, incremental,
    * exactly-once per file via the checkpoint (Raw_to_Bronze.py:33-70).
    * Streaming sources need an explicit schema: probe one (S3) or pass it.
    */
  def rawToBronzeStream(spark: SparkSession, rawDir: String,
      bronzePath: String, checkpoint: String,
      schema: StructType): StreamingQuery = {
    val raw = spark.readStream.format("json")
      .option("multiLine", "true")
      .schema(schema)
      .load(rawDir)
    val records = Medallion.explodeRecords(raw, "movie", "record")
    val bronze = Medallion.transformRaw(records, "record", "movie.json")
    bronze.writeStream
      .format("parquet")
      .option("checkpointLocation", checkpoint)
      .option("path", bronzePath)
      .partitionBy("p_ingestdate")
      .outputMode("append")
      .queryName("Raw_To_Bronze")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** K3 — foreachBatch upsert sink: per-microbatch driver-side merge into a
    * parquet target (Bronze_to_Silver.py:257-276). `mergeFn` receives
    * (spark, microbatch, batchId).
    */
  def foreachBatchSink(df: DataFrame, checkpoint: String, name: String)(
      mergeFn: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeFn(batch.sparkSession, batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming bronze → silver (the reference's Bronze_to_Silver.py
    * shape): stream new bronze files; per microbatch MERGE clean rows
    * into silver and quarantined rows into the quarantine table (Id
    * anti-join inserts — the reference's whenNotMatchedInsert, which also
    * makes a replayed microbatch idempotent instead of double-appending),
    * and append each row's final status to a side log.
    *
    * The status write-back into bronze itself runs AFTER the query
    * terminates (`applyStatusLog`), not inside foreachBatch: the bronze
    * files are this query's streaming SOURCE, and swapping them out under
    * a running AvailableNow query would break later microbatches that
    * still reference the listed files. The log append is safe (new files
    * only) and `__batch`-partitioned with dynamic overwrite, so replays
    * overwrite their own slice.
    */
  def bronzeToSilverStream(spark: SparkSession, bronzeDir: String,
      silverDir: String, checkpoint: String): StreamingQuery = {
    val schema = spark.read.parquet(bronzeDir).schema
    val bronze = spark.readStream.schema(schema).parquet(bronzeDir)
    val fresh = Medallion.filterStatus(bronze, "new")
    foreachBatchSink(fresh, checkpoint, "Bronze_To_Silver") { (s, batch, batchId) =>
      val step = graft.pipeline.MoviePipeline.splitToSilver(s, batch, silverDir)
      // The quarantine table holds malformed rows — possibly with NULL
      // Ids, which an Id anti-join can never match — so its replay guard
      // uses the whole-row-hash fallback for its null-keyed rows.
      Merge.antiJoinAppend(s, step.quarantined.drop("value"),
        s"$silverDir/movie_quarantine", Seq("Id"), "p_CreatedDate",
        nullKeyRowHash = true)
      // empty microbatches (e.g. a replay over already-statused rows)
      // write nothing — an empty overwrite would leave a footerless
      // partition directory
      if (!step.keyed.isEmpty)
        step.keyed.withColumn("__batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch")
          .parquet(s"$silverDir/bronze_status_log")
      step.flat.unpersist()
    }
  }

  /** Apply the status log accumulated by `bronzeToSilverStream` to the
    * bronze table in ONE partition-pruned rewrite, then clear the log.
    * Run after the streaming query terminates (AvailableNow always does).
    */
  def applyStatusLog(spark: SparkSession, bronzePath: String,
      silverDir: String): Unit = {
    val logPath = s"$silverDir/bronze_status_log"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(logPath))) return
    // schema-specified read: survives a log directory left footerless
    val bronzeSchema = spark.read.parquet(bronzePath).schema
    val logSchema = org.apache.spark.sql.types.StructType(Seq(
      bronzeSchema("value"),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      bronzeSchema("p_ingestdate"),
      org.apache.spark.sql.types.StructField("__batch",
        org.apache.spark.sql.types.LongType)))
    val keyed = spark.read.schema(logSchema).parquet(logPath)
      .select(col("value"), col("status"), col("p_ingestdate"))
      .distinct().localCheckpoint(true)
    if (keyed.isEmpty) { fs.delete(new org.apache.hadoop.fs.Path(logPath), true); return }
    graft.pipeline.MoviePipeline.updateBronzeStatuses(spark, bronzePath, keyed)
    fs.delete(new org.apache.hadoop.fs.Path(logPath), true)
  }

  /** A1-streaming — bounded-state streaming dedup: watermark +
    * dropDuplicatesWithinWatermark on the KEYS ALONE (upgrade of
    * Bronze_to_Silver.py:89-90's unbounded distinct). The older
    * dropDuplicates(keys :+ ts) form was not truly per-key — two copies
    * of the same logical event differing by a millisecond of receipt
    * time both survived; deduping on keys with watermark-evicted state
    * is the per-key primitive.
    */
  def dedupStream(df: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "dedupStream needs at least one key column")
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Custom stateful processing: per-user streaming sessionization with an
    * event-time gap timeout via flatMapGroupsWithState — the generalized
    * stateful surface (the reference's only stateful op is streaming
    * distinct; our engine exposes arbitrary keyed state). A session closes
    * when the watermark passes (last event time + gapMs); one row per
    * closed session. Event-time timeouts are deterministic under replay —
    * the production-correct choice over processing-time.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[UserTimedEvent],
      gapMs: Long, watermarkDelay: String = "10 seconds")
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserTimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(userId, s.n, s.sum))
          } else {
            // The gap rule applies INSIDE the buffer too: under backlog
            // replay (Trigger.AvailableNow) events separated by more than
            // gapMs routinely arrive in one microbatch, and folding them
            // into one state would merge sessions the timeout would have
            // split. Walk the events in time order, closing a session
            // whenever the inter-event gap exceeds gapMs; only the last
            // (still-open) session stays in state.
            val closed = scala.collection.mutable.ListBuffer.empty[ClosedSession]
            var cur = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs > gapMs =>
                  closed += ClosedSession(userId, s.n, s.sum)
                  cur = Some(SessionState(1L, e.value, t))
                case Some(s) =>
                  cur = Some(SessionState(s.n + 1, s.sum + e.value,
                    math.max(s.lastMs, t)))
                case None =>
                  cur = Some(SessionState(1L, e.value, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Stream-stream inner join with watermarks and an event-time range
    * condition — completes the streaming join surface. Both sides carry
    * watermarks so join state is evicted once the watermark passes
    * (ts_right in [ts_left, ts_left + window]).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      tsLeft: String, tsRight: String, delay: String,
      cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(tsLeft, delay)
      .join(right.withWatermark(tsRight, delay), cond)

  /** Event-time tumbling-window aggregation with late-data handling — the
    * generalized streaming surface (SURVEY.md §2.7; the reference uses no
    * windows, our engine exposes them).
    */
  def windowedEventCounts(events: DataFrame, tsCol: String,
      windowLen: String, delay: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
}
