package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{Eval, Stats}

/** Incremental CALIBRATION for a served classifier: each microbatch of
  * scored, ground-truthed predictions folds into a persisted per-bin
  * reliability histogram, and the full batch calibration chain
  * (isotonic fit → ECE / Brier decomposition) re-renders from that
  * bounded table after any batch — the serving-side quality loop
  * matching the batch one ([[graft.functions.Eval.reliability]] →
  * [[graft.functions.Eval.isotonicCalibrate]] → [[graft.functions.Eval.ece]])
  * exactly, because reliability counts are ADDITIVE over disjoint row
  * sets and every downstream statistic is a pure function of the
  * histogram.
  *
  * State design for 100 TB: persisted state is the (bin, n, n_correct)
  * histogram — BIN-DOMAIN-bounded regardless of stream length — laid
  * out like the incremental-dedup band index: one `__batch=<id>`
  * partition per microbatch (dynamic partition overwrite makes replays
  * idempotent — a crashed-and-replayed batch overwrites its own delta
  * instead of double-counting), `__batch=-1` for batch backfills. The
  * isotonic fit is O(bins³) on the bin table — serving-cheap at any
  * corpus size. Unlike the dedup index the rows are per-batch DELTAS,
  * so folding history must stay additive-exact: [[histogram]] sums
  * across partitions on read.
  */
object IncrementalCalibration {

  /** One calibration step (usable from foreachBatch or as a batch
    * backfill): bins `pred`'s confidences (truncating division by
    * `binWidth`, NULLs dropped — the [[Eval.reliability]] contract),
    * counts correctness per bin, and writes the batch's per-bin DELTA
    * into the histogram at `histPath`. Pass `batchId` (foreachBatch
    * provides it) for replay idempotence via dynamic partition
    * overwrite of `__batch=<id>`.
    */
  def step(pred: DataFrame, histPath: String, confCol: String,
      correct: org.apache.spark.sql.Column, binWidth: Long,
      batchId: Option[Long] = None): Unit = {
    val delta = Eval.reliability(pred, confCol, correct, binWidth)
      .select(col("bin"), col("n"), col("n_correct"))
    batchId match {
      case Some(b) =>
        delta.withColumn("__batch", lit(b))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(histPath)
      case None =>
        delta.withColumn("__batch", lit(-1L))
          .write.mode("append")
          .partitionBy("__batch").parquet(histPath)
    }
  }

  private def histSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bin",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_correct",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("__batch",
      org.apache.spark.sql.types.LongType)))

  /** The LIVE reliability table: per-batch deltas summed per bin, with
    * the exact accuracy ppm — bit-identical to [[Eval.reliability]]
    * over every row ever stepped in (addition over disjoint batches is
    * exact; a missing histogram reads as empty, fixed schema so an
    * empty directory never fails inference).
    */
  def histogram(spark: SparkSession, histPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(histPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw =
      if (!fs.exists(new org.apache.hadoop.fs.Path(histPath)))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), histSchema)
      else spark.read.schema(histSchema).parquet(histPath)
    raw.groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("n_correct")).as("n_correct"))
      .select(col("bin"), col("n"), col("n_correct"),
        Stats.fixedPointExact(col("n_correct"), col("n")).as("acc_ppm"))
  }

  /** The live isotonic calibration table over the streamed histogram —
    * [[Eval.isotonicCalibrate]] of [[histogram]]. */
  def calibrated(spark: SparkSession, histPath: String): DataFrame =
    Eval.isotonicCalibrate(histogram(spark, histPath))

  /** The live ECE card over the streamed histogram. */
  def eceCard(spark: SparkSession, histPath: String): DataFrame =
    Eval.ece(calibrated(spark, histPath))

  /** Histogram maintenance: fold the delta partitions of COMMITTED
    * streaming batches (`0 <= __batch < belowBatch`) and the existing
    * bulk into ONE aggregated `__batch = -1` partition and drop their
    * directories — the [[IncrementalDedup.checkpointIndex]] analog for
    * a layout whose partition count otherwise grows one per microbatch
    * forever. The rows here are ADDITIVE DELTAS, so (unlike the dedup
    * index, where a crash between append and delete only leaves
    * harmless duplicate probe rows) the fold must never double-count:
    * it rides [[graft.merge.Merge.rewritePartitions]] over exactly the
    * folded batch partitions plus the bulk, which are swapped with the
    * bulk LAST. A crash mid-swap therefore leaves already-swapped batch
    * deltas in the run's aside area (missing from the histogram, never
    * counted twice), and the stale-aside guard refuses every later
    * rewrite until they are restored by hand; the partitions that are
    * not folded are never read or rewritten.
    *
    * Safety contract, same shape as the dedup fold but with the
    * opposite failure: `belowBatch` must not exceed the stream's last
    * COMMITTED batch id — a replay of a folded batch would find its
    * `__batch=<id>` partition gone, dynamic-overwrite it afresh, and
    * DOUBLE-COUNT its delta (the bulk already holds it). Batches at or
    * above `belowBatch` keep their partitions and their replay
    * idempotence. Returns the batch ids folded.
    */
  def checkpointHistogram(spark: SparkSession, histPath: String,
      belowBatch: Long): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(histPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val batches = fs.listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch=") &&
          n.stripPrefix("__batch=").forall(_.isDigit) =>
        n.stripPrefix("__batch=").toLong
      }
      .filter(b => b >= 0L && b < belowBatch)
      .sorted.toSeq
    if (batches.isEmpty) return Seq.empty
    graft.merge.Merge.rewritePartitions(spark, histPath, "__batch",
        batches.map(_.toString) :+ "-1") { df =>
      df.groupBy(col("bin"))
        .agg(sum(col("n")).as("n"), sum(col("n_correct")).as("n_correct"))
        .withColumn("__batch", lit(-1L))
    }
    batches
  }

  /** Wire a directory of scored-prediction parquet into the histogram:
    * exactly-once per input file via the checkpoint; each microbatch's
    * delta lands in its own `__batch` partition (idempotent replay).
    */
  def stream(spark: SparkSession, streamDir: String, histPath: String,
      checkpoint: String, confCol: String, correctCol: String,
      binWidth: Long): StreamingQuery = {
    val schema = spark.read.parquet(streamDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, b: Long) =>
        step(batch, histPath, confCol, col(correctCol) === true,
          binWidth, Some(b))
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .queryName("Calibration_Stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
