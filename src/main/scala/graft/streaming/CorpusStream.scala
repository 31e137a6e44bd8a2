package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.CheckpointOps

/** The COMPOSED streaming serving loop: one microbatch stream drives the
  * whole ingest path the engine's streaming rungs implement in
  * isolation —
  *
  *   ingest → near-dup gate ([[IncrementalDedup.step]])
  *          → accepted corpus (dynamic `__batch` overwrite)
  *          → postings-index append ([[graft.functions.TextIndex
  *            .appendBatch]], per-doc anti-join guard)
  *          → calibration fold ([[IncrementalCalibration.step]])
  *
  * all inside ONE foreachBatch under ONE batchId. That single id is the
  * composition's point: each sink is individually replay-idempotent,
  * but only driving all four from the same microbatch proves the CROSS-
  * SINK story — a crash between any two sinks replays the whole batch,
  * and every sink must converge to the same state whether it already
  * ran (index partition overwrite / anti-join no-op / histogram
  * partition overwrite) or not. StreamingE2ESpec crashes a batch
  * mid-sequence and pins exactly that.
  *
  * Newly accepted documents are retrievable (BM25 over the postings
  * index) and counted (live ECE over the histogram) as soon as their
  * batch commits; duplicates never reach either sink, so the index and
  * the histogram see the DEDUPLICATED corpus — the ordering a serving
  * pipeline wants (indexing a duplicate pollutes df statistics;
  * calibrating on one double-counts its bin).
  *
  * Layout under `root`:
  *   - `dedup_index/`    — the band index (checkpoint-bound)
  *   - `accepted/`       — accepted documents, `__batch`-partitioned
  *   - `postings_index/` — BM25-servable postings layout (bootstrapped
  *                         from the first non-empty batch; frozen corpus
  *                         statistics come from that batch — rebuild
  *                         offline when drift warrants, the streamAppend
  *                         contract)
  *   - `hist/`           — calibration histogram, `__batch`-partitioned
  *
  * `conf`/`correct` evaluate over ACCEPTED rows (any deterministic
  * per-row expressions; conf must be integer-valued — the reliability
  * contract). At 100 TB every stage is the bounded per-batch work its
  * standalone rung already proved: the gate probes the band index
  * partition-pruned, the postings append shuffles one batch's tokens,
  * the calibration delta is bin-domain-sized.
  */
object CorpusStream {

  def stream(docs: DataFrame, root: String, checkpoint: String,
      conf: Column, correct: Column, binWidth: Long,
      postingsBuckets: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): StreamingQuery = {
    val spark = docs.sparkSession
    IncrementalDedup.bindCheckpoint(spark, s"$root/dedup_index", checkpoint)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // Gate first; the accepted set feeds THREE sinks — materialize
        // once (the step's own index write also rides this plan).
        val accepted = IncrementalDedup
          .step(batch, s"$root/dedup_index", idCol, textCol,
            batchId = Some(batchId))
          .checkpointed
        accepted.withColumn("__batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(s"$root/accepted")
        if (!accepted.isEmpty)
          graft.functions.TextIndex.appendBatch(s, s"$root/postings_index",
            accepted.select(col(idCol), col(textCol)), idCol, textCol,
            bootstrapBuckets = postingsBuckets)
        IncrementalCalibration.step(
          accepted.select(col(idCol), conf.as("__conf"),
            correct.as("__ok")),
          s"$root/hist", "__conf", col("__ok"), binWidth, Some(batchId))
      }
      .queryName("Corpus_Stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
