package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{CheckpointOps, Dedup}

/** Incremental near-dedup for a streaming document ingest: every
  * microbatch is deduplicated against BOTH itself and everything already
  * accepted, using a persistent MinHash band index.
  *
  * State design for 100 TB: the index is a parquet table of
  * (doc_id, band, band_val) — bands per doc, not text — so lookup is an
  * equi-join on (band, band_val) against a table that grows linearly with
  * the accepted corpus and lives on storage, not in executor or streaming
  * state memory. A restart needs no state rebuild (exactly-once appends
  * come from the checkpointed foreachBatch). At cluster scale the index
  * would be bucketed by (band, band_val) so the per-batch probe join
  * reads co-located buckets; bands of one batch are tiny relative to the
  * index, so Catalyst broadcasts the batch side.
  *
  * Near-dup decision is LSH-level (shares >= 1 band bucket) — the same
  * candidate definition as `Dedup.lshCandidatePairs`; callers needing
  * exact-verified dedup re-check candidates against a text store before
  * dropping (see `pipeline.CorpusPipeline.nearDedup` for the composition).
  */
object IncrementalDedup {

  /** One deduplication step (usable from foreachBatch or as a batch
    * backfill): returns the accepted (non-duplicate) rows of `batch` and
    * appends their bands to the index at `indexPath`.
    *
    * In-batch duplicates resolve to the smallest id in each band bucket;
    * cross-batch duplicates are any docs whose bucket already exists in
    * the index.
    *
    * Pass `batchId` (foreachBatch provides it) to make the index write
    * IDEMPOTENT: bands land in a `__batch=<id>` partition via dynamic
    * partition overwrite, so a replayed batch overwrites its own partition
    * instead of double-appending — and, crucially, a batch CANNOT
    * self-collide: the probe below excludes the batch's own partition,
    * so a replay after a crash between the index write and the sink write
    * still accepts the same rows instead of dropping them against their
    * own half-written bands.
    */
  def step(batch: DataFrame, indexPath: String, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2, batchId: Option[Long] = None): DataFrame = {
    val bands = Dedup.lshBands(
      Dedup.minhashSignatureHashed(batch, idCol, textCol, shingleSize,
        numHashes),
      idCol, rowsPerBand)
      .checkpointed // consumed 3x below; plan is 2 shuffles deep
    keyedStep(batch, bands, Seq("band", "band_val"), indexPath, idCol,
      batchId)
  }

  /** [[step]] at CHUNK grain: the persistent index holds content-defined
    * chunk hashes ([[graft.plans.CdcScan]], chunks of at least `minLen`
    * chars) instead of MinHash bands, so the stream rejects documents
    * sharing a VERBATIM long span with anything already accepted — the
    * incremental form of [[graft.functions.Cdc.decontaminate]], with the
    * same state design (keys on parquet storage, `__batch`-partitioned
    * replay idempotence, probe excludes the batch's own partition) and
    * the same in-batch smallest-id resolution per shared chunk.
    */
  def cdcStep(batch: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 16,
      maskBits: Int = 5, minLen: Long = 24L,
      batchId: Option[Long] = None): DataFrame = {
    val chunks = batch
      .select(col(idCol),
        graft.plans.CdcColumns.cdcChunks(col(textCol), w, maskBits))
      .filter(col("clen") >= minLen)
      .select(col(idCol), col("chash")).distinct()
      .checkpointed // consumed 3x below
    keyedStep(batch, chunks, Seq("chash"), indexPath, idCol, batchId)
  }

  /** The shared accept/append engine of [[step]] and [[cdcStep]]: `keys`
    * is the per-document key relation (idCol, keyCols...) whose shared
    * values define duplication; everything else — fixed-schema index
    * read, own-partition exclusion, window-min in-batch resolution,
    * idempotent `__batch` append — is key-agnostic.
    */
  private def keyedStep(batch: DataFrame, keys: DataFrame,
      keyCols: Seq[String], indexPath: String, idCol: String,
      batchId: Option[Long]): DataFrame = {
    val spark = batch.sparkSession
    val bands = keys

    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexExists = fs.exists(new org.apache.hadoop.fs.Path(indexPath))

    // The index schema is fixed (bands + the __batch partition column), so
    // the read never relies on inference — an index directory holding only
    // _SUCCESS (a previous EMPTY batch) reads as an empty frame instead of
    // failing schema discovery and killing the stream.
    val indexSchema = bands.schema
      .add(org.apache.spark.sql.types.StructField("__batch",
        org.apache.spark.sql.types.LongType))

    // cross-batch hits: any band bucket already present in the index —
    // excluding this batch's own partition, so a crash-replay that
    // already wrote its bands does not drop its own rows.
    val vsIndex =
      if (!indexExists) bands.limit(0).select(col(idCol))
      else {
        val idx = spark.read.schema(indexSchema).parquet(indexPath)
        // null-safe inequality: a row with a NULL __batch (malformed or
        // hand-written index data) must still count as PRIOR state — a
        // plain =!= would evaluate NULL and silently drop it from the
        // probe, accepting duplicates.
        val prior = batchId.fold(idx)(b => idx.filter(!(col("__batch") <=> b)))
        bands.join(prior, keyCols, "left_semi")
          .select(col(idCol))
      }
    // in-batch hits: keep the smallest id per shared bucket, drop the
    // rest — computed as a window-min, NOT a pair join: a raw band
    // self-join is quadratic on degenerate buckets (many identical docs
    // in one batch), and the capped candidate join would DROP oversized
    // buckets entirely, accepting every copy. The window is linear in
    // bucket size and correct at any occupancy.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val inBatch = bands
      .withColumn("__min", min(col(idCol)).over(wBucket))
      .filter(col(idCol) > col("__min"))
      .select(col(idCol)).distinct()
    val dupIds = vsIndex.union(inBatch).distinct().checkpointed

    val accepted = batch.join(dupIds, Seq(idCol), "left_anti")
      .checkpointed // materialize before the index append below
    // One on-disk layout for BOTH modes — __batch-partitioned — because
    // root-level files (plain append) and partition directories cannot
    // coexist under one parquet root (partition discovery rejects the
    // mix). Batch backfills land under the reserved __batch=-1 partition
    // via append; streaming batches own their __batch=<id> partition via
    // dynamic overwrite, making replays idempotent.
    val newBands = bands.join(dupIds, Seq(idCol), "left_anti")
    batchId match {
      case Some(b) =>
        newBands.withColumn("__batch", lit(b))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(indexPath)
      case None =>
        newBands.withColumn("__batch", lit(-1L))
          .write.mode("append")
          .partitionBy("__batch").parquet(indexPath)
    }
    accepted
  }

  /** Index maintenance: fold the band partitions of COMMITTED streaming
    * batches (`0 <= __batch < belowBatch`) into the bulk partition
    * (`__batch = -1`) and delete their directories. The stream writes
    * one partition per micro-batch for replay idempotence, so partition
    * COUNT grows without bound as the stream runs — at 100 TB the
    * partition listing alone would come to dominate the per-batch probe
    * join. Folding committed history restores a bounded layout (bulk +
    * the recent replayable tail) without changing one dedup decision.
    *
    * Safety contract: `belowBatch` must not exceed the stream's last
    * COMMITTED batch id — a replay of a folded batch would find its own
    * bands in the bulk partition (the probe excludes only `__batch =
    * <id>`) and drop every one of its rows as self-duplicates. Batches
    * at or above `belowBatch` keep their partitions and their replay
    * guarantee.
    *
    * Crash-safety is by SEMANTIC idempotence, not write atomicity: the
    * fold appends to the bulk partition BEFORE deleting the source
    * partitions, and the index is consumed through a left-semi probe,
    * so a crash between the two steps leaves duplicate band rows that
    * change no decision; re-running the fold converges. After folding,
    * `Maintenance.compactPartitions(indexPath, "__batch", Seq("-1"))`
    * collapses the bulk partition's accumulated files (the fold itself
    * appends, it does not rewrite).
    *
    * Returns the batch ids folded (empty = nothing below the bound).
    */
  def checkpointIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, belowBatch: Long): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val batches = fs.listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch=") &&
          n.stripPrefix("__batch=").forall(c => c.isDigit) =>
        n.stripPrefix("__batch=").toLong
      }
      .filter(b => b >= 0L && b < belowBatch)
      .sorted.toSeq
    if (batches.isEmpty) return Seq.empty
    val folded = spark.read.parquet(indexPath)
      .filter(col("__batch").isin(batches: _*))
      .drop("__batch")
      .withColumn("__batch", lit(-1L))
      .checkpointed // materialize BEFORE touching the layout
    folded.write.mode("append").partitionBy("__batch").parquet(indexPath)
    batches.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"__batch=$b"), true)
    }
    batches
  }

  /** Streaming wrapper: accepted docs land at `acceptedPath`, bands at
    * `indexPath`, both written into `__batch=<id>` partitions with dynamic
    * partition overwrite so a replayed microbatch overwrites its own
    * output — exactly-once end to end on top of the checkpointed
    * foreachBatch.
    */
  /** Bind `indexPath` to ONE streaming checkpoint — shared by [[stream]]
    * and composed ingest loops ([[CorpusStream]]): batchIds restart from
    * 0 with a fresh checkpoint, and dynamic overwrite would then REPLACE
    * old `__batch=N` index partitions — silently erasing the accepted
    * corpus's state. Paths compare fully-qualified ('/data/cp',
    * 'file:/data/cp' and '/data/cp/' are one checkpoint, not three);
    * a mismatch throws rather than guessing (probing the bound
    * checkpoint's directories cannot distinguish "never used" from
    * "deleted after use", and guessing wrong reuses batch ids). An
    * operator who really wants a new checkpoint deletes
    * `_checkpoint_binding` by hand after checking.
    */
  private[streaming] def bindCheckpoint(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, checkpoint: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(conf)
    def qualify(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    val cpQualified = qualify(checkpoint)
    val binding = new org.apache.hadoop.fs.Path(indexPath, "_checkpoint_binding")
    if (fs.exists(binding)) {
      val in = fs.open(binding)
      val bound =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      if (qualify(bound) != cpQualified)
        throw new IllegalStateException(
          s"IncrementalDedup index $indexPath is bound to checkpoint " +
            s"'$bound' but this stream uses '$cpQualified' — a different " +
            "checkpoint would reuse batch ids and overwrite prior index " +
            "partitions; reuse the original checkpoint, start a new index, " +
            "or (after verifying the old checkpoint is truly gone) delete " +
            s"$binding")
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(indexPath))
      val out = fs.create(binding, true)
      out.write(cpQualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
  }

  def stream(docs: DataFrame, indexPath: String, acceptedPath: String,
      checkpoint: String): StreamingQuery = {
    // Bind the index to ONE checkpoint: batchIds restart from 0 with a
    // fresh checkpoint, and dynamic overwrite would then REPLACE old
    // __batch=N index partitions — silently erasing the accepted
    // corpus's bands and accepting all its future duplicates. Refuse a
    // mismatched (index, checkpoint) pairing instead.
    val spark = docs.sparkSession
    bindCheckpoint(spark, indexPath, checkpoint)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, indexPath, batchId = Some(batchId))
          .withColumn("__batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(acceptedPath)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
