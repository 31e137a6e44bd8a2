package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The winnowing fingerprint index as a STORAGE LAYOUT — the
  * near-duplicate SERVING twin of [[TextIndex]] (lexical retrieval) and
  * `VecIndex` (vector retrieval): every document's winnow-selected
  * fingerprints (Dedup.winnowFingerprints — ~2/(w+1) of its grams)
  * written partitioned by a fingerprint bucket, so screening an incoming
  * document against a 100 TB corpus reads ONLY the buckets the incoming
  * document's own fingerprints land in — partition pruning at listing
  * time, the same contract the postings and IVF indexes keep.
  *
  * Layout under `path`:
  *   - `fingerprints/` — (idCol, tid) partitioned by `bucket`
  *   - `sizes/`        — (idCol, n_fp) per-doc fingerprint-set sizes
  *   - `meta/`         — ONE row: (n, w, n_buckets, n_docs) — the frozen
  *                       selection parameters every screen must reuse
  *                       (fingerprints from a different (n, w) don't
  *                       collide meaningfully)
  *
  * Similarity served is FINGERPRINT Jaccard (shared / union of winnow
  * sets) — the MOSS screening score. It estimates full-gram Jaccard with
  * the winnow guarantee (any shared run >= w + n - 1 tokens shares a
  * fingerprint, so long copies can't score zero); when an exact verdict
  * is needed, feed the surviving candidates to Dedup.verifyJaccard — the
  * same two-stage shape as every blocked near-dup path here.
  *
  * Buckets are `tid % n_buckets`: tid is already a hash, so no second
  * hash is needed, and the query side can compute its probe set with
  * plain arithmetic.
  */
object WinnowIndex {

  /** Build and write the fingerprint index. Overwrites. */
  def writeWinnowIndex(docs: DataFrame, path: String, nBuckets: Int,
      n: Int, w: Int, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val fp = Dedup.winnowFingerprints(docs, idCol, textCol, n, w)
      .select(col(idCol), col("tid")).distinct()
      .withColumn("bucket", pmod(col("tid"), lit(nBuckets.toLong)))
    fp.write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/fingerprints")
    // Sizes share the bucketed layout (keyed by doc hash) so streaming
    // admission can append through the same partitioned anti-join guard —
    // the TextIndex lens convention.
    fp.groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_fp"))
      .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/sizes")
    fp.agg(count(lit(1)).cast("long").as("n_fingerprints"))
      .select(lit(n.toLong).as("n"), lit(w.toLong).as("w"),
        lit(nBuckets.toLong).as("n_buckets"), col("n_fingerprints"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Screen a batch of incoming documents against the index: fingerprint
    * the batch with the index's frozen (n, w), probe only the buckets the
    * batch's fingerprints hash into, and score every (incoming, indexed)
    * pair sharing at least `minShared` fingerprints by fingerprint
    * Jaccard. The probe-bucket list is a bounded driver-side artifact
    * (<= n_buckets values — same class as the IVF probe's cell list).
    *
    * Output: (query_id, indexIdCol, shared, n_q, n_c, fp_jaccard), one
    * row per surviving candidate pair. `queryIdCol` names the incoming
    * batch's id column; `indexIdCol` must match the column the index was
    * WRITTEN with (they are different id spaces — conflating them is how
    * a self-join masquerades as a screen).
    */
  def screen(spark: SparkSession, path: String, queryDocs: DataFrame,
      minShared: Long = 1L, queryIdCol: String = "doc_id",
      textCol: String = "text", indexIdCol: String = "doc_id"): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta")
    val (n, w, nBuckets) = meta.select(col("n"), col("w"), col("n_buckets"))
      .as[(Long, Long, Long)].head()
    val qfp = Dedup.winnowFingerprints(queryDocs, queryIdCol, textCol,
        n.toInt, w.toInt)
      .select(col(queryIdCol).as("query_id"), col("tid")).distinct()
      .withColumn("bucket", pmod(col("tid"), lit(nBuckets)))
    val buckets = qfp.select(col("bucket")).distinct().as[Long].collect()
    val idx = spark.read.parquet(s"$path/fingerprints")
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
      .select(col(indexIdCol), col("tid"))
    val qSizes = qfp.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_q"))
    val cSizes = spark.read.parquet(s"$path/sizes")
      .select(col(indexIdCol), col("n_fp").as("n_c"))
    qfp.select(col("query_id"), col("tid"))
      .join(idx, Seq("tid"))
      .groupBy(col("query_id"), col(indexIdCol))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
      .join(qSizes, Seq("query_id"))
      .join(cSizes, Seq(indexIdCol))
      .withColumn("fp_jaccard",
        round(col("shared").cast("double") /
          (col("n_q") + col("n_c") - col("shared")).cast("double"), 6))
      .select(col("query_id"), col(indexIdCol), col("shared"), col("n_q"),
        col("n_c"), col("fp_jaccard"))
  }

  /** Streaming screen-and-admit: each microbatch of incoming documents is
    * (1) screened against the index — surviving candidate pairs append to
    * `reportDir` as the audit trail — and (2) ADMITTED: its fingerprints
    * and size row append into the index so later batches screen against
    * it too. The incremental-curation loop: every new document is checked
    * against everything already admitted, exactly once.
    *
    * Replay safety mirrors the postings ingest: both index appends go
    * through the partitioned anti-join guard keyed by doc id, and the
    * report append is guarded by query_id — a replayed microbatch can
    * re-run the screen but cannot double-append any row. The frozen
    * (n, w, n_buckets) metadata is never touched. Note the in-batch
    * ordering: a batch is screened BEFORE it is admitted, so same-batch
    * near-dup pairs surface when the LATER batch arrives, not within one
    * batch — the same contract as the incremental MinHash dedup.
    */
  def streamScreenAndAdmit(spark: SparkSession, path: String,
      streamDir: String, checkpoint: String, reportDir: String,
      minShared: Long = 1L, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingMedallion.parquetDirSink(spark, streamDir,
        Seq(idCol, textCol), checkpoint, "Winnow_Screen_Admit") { (s, batch, _) =>
      import s.implicits._
      val meta = s.read.parquet(s"$path/meta")
      val (n, w, nBuckets) = meta
        .select(col("n"), col("w"), col("n_buckets"))
        .as[(Long, Long, Long)].head()
      val hits = screen(s, path, batch, minShared, idCol, textCol, idCol)
        .withColumnRenamed(idCol, "index_id")
        .withColumn("bucket", pmod(xxhash64(col("query_id")), lit(nBuckets)))
      graft.merge.Merge.antiJoinAppend(s, hits, reportDir,
        Seq("query_id", "index_id"), "bucket")
      // Uncached form: per-batch plans never repeat, so the session
      // memo would thrash and strand checkpoint blocks.
      val fp = Dedup.winnowFingerprintsUncached(batch, idCol, textCol,
          n.toInt, w.toInt)
        .select(col(idCol), col("tid")).distinct()
        .withColumn("bucket", pmod(col("tid"), lit(nBuckets)))
      graft.merge.Merge.antiJoinAppend(s, fp, s"$path/fingerprints",
        Seq(idCol), "bucket")
      val sizes = fp.groupBy(col(idCol))
        .agg(count(lit(1)).cast("long").as("n_fp"))
        .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets)))
      graft.merge.Merge.antiJoinAppend(s, sizes, s"$path/sizes",
        Seq(idCol), "bucket"): Unit
    }
}
