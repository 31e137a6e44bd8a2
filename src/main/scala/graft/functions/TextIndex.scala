package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The inverted index as a STORAGE LAYOUT — the lexical twin of
  * [[VecIndex]]: postings (term, doc, tf) written partitioned by a term
  * hash bucket, so a query reads ONLY its terms' buckets. Partition
  * pruning turns "scan 100 TB of postings and filter" into "list
  * directories, read the |query|/nBuckets sliver" — the property that
  * makes this an index rather than a plan trick.
  *
  * Layout under `path`:
  *   - `postings/` — (term, idCol, tf) partitioned by `bucket`
  *   - `lens/`     — (idCol, dl) per-document token counts
  *   - `meta/`     — ONE row: (n_docs, t_tokens, n_buckets) — the frozen
  *                   corpus statistics every query scores against
  *
  * Buckets come from xxhash64 (Spark-native, codegen'd): unlike the
  * oracle-parity poly hash this never feeds a DuckDB comparison — the
  * correctness contract here is bit-identity of `bm25Indexed` with the
  * scan-path `Rank.bm25TopDocs`, which the spec asserts directly.
  *
  * At 100 TB the build pays one full token-stream shuffle (clustering
  * postings by term bucket — the same one-time cost as IVF's cell
  * clustering); every query after it is sub-linear: |query| bounded
  * bucket reads, a lens join keyed by the surviving doc ids, and one
  * broadcast meta row.
  */
object TextIndex {

  /** Build and write the postings index. Overwrites.
    *
    * Each posting row CARRIES its document's length (`dl`) — the
    * classic IR denormalization (Lucene stores norms with the
    * postings): +8 bytes per posting at build time buys query plans
    * that touch ONLY the query terms' bucket partitions. With lengths
    * in a separate per-doc table, every probe paid a corpus-sized join
    * against `lens/` — un-prunable before the probe knows its candidate
    * ids, and the one relation that kept BM25 serving from running in a
    * 1-partition tuned session at 100 TB.
    */
  def writePostingsIndex(docs: DataFrame, path: String, nBuckets: Int,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val dls = docs.select(col(idCol),
      Text.tokenCount(col(textCol)).cast("long").as("dl"))
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .join(dls, Seq(idCol))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    tf.write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/postings")
    // Lens stays beside the postings as the per-doc AUDIT table (doc
    // counts, compaction and replay guards key on it); queries no
    // longer read it. Shares the bucketed layout (keyed by doc hash) so
    // streaming ingest can append through the same partitioned
    // anti-join guard.
    val lens = dls
      .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
    lens.write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/lens")
    lens.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("t_tokens"))
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .write.mode("overwrite").parquet(s"$path/meta")
    Serving.invalidate(s"postings:$path")
  }

  /** Streaming ingest into a written postings index: each microbatch of
    * new documents is tokenized, term-frequency-aggregated, bucketed with
    * the exact write-side expression, and appended to its buckets'
    * partitions; per-doc lengths append beside them. Exactly-once per
    * input file via the checkpoint, and per-doc replay-safe via the same
    * anti-join guard the IVF ingest uses (a replayed microbatch must not
    * double-append a document's postings).
    *
    * The `meta/` corpus statistics are deliberately NOT updated by
    * ingest — the mirror of IVF ingest's frozen centroids: every query
    * scores against the build-time (N, T), so serving stays deterministic
    * under replay and probes never mix statistics regimes. New documents
    * are RETRIEVABLE immediately; rebuild (or re-aggregate meta offline)
    * when the drift between indexed mass and frozen totals warrants.
    */
  def streamAppend(spark: SparkSession, path: String, streamDir: String,
      checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingMedallion.parquetDirSink(spark, streamDir,
        Seq(idCol, textCol), checkpoint, "Postings_Stream_Append") { (s, batch, _) =>
      appendBatch(s, path, batch, idCol, textCol)
    }

  /** One microbatch of documents into a written postings index —
    * [[streamAppend]]'s per-batch body, public so composed ingest loops
    * ([[graft.streaming.CorpusStream]]) can drive it from their own
    * foreachBatch. Replay-idempotent per document (anti-join guard).
    * `bootstrapBuckets` > 0 additionally BOOTSTRAPS an absent index
    * from this batch (frozen corpus statistics then come from the
    * bootstrap batch — the documented streamAppend contract applies
    * from batch two onward); a crash between bootstrap and the sink's
    * checkpoint commit replays into the append path, which the guard
    * makes a no-op.
    */
  def appendBatch(s: SparkSession, path: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      bootstrapBuckets: Int = 0): Unit = {
    import s.implicits._
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = metaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir)) {
      require(bootstrapBuckets > 0,
        s"no postings index at $path and bootstrapBuckets not set")
      writePostingsIndex(batch, path, bootstrapBuckets, idCol, textCol)
      return
    }
    val nBuckets = s.read.parquet(s"$path/meta")
      .select(col("n_buckets")).as[Long].head()
    val dls = batch.select(col(idCol),
      Text.tokenCount(col(textCol)).cast("long").as("dl"))
    val tf = batch
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .join(dls, Seq(idCol)) // dl rides the posting (write-side rule)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)))
    graft.merge.Merge.antiJoinAppend(s, tf, s"$path/postings",
      Seq(idCol), "bucket")
    val lens = dls
      .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets)))
    graft.merge.Merge.antiJoinAppend(s, lens, s"$path/lens",
      Seq(idCol), "bucket"): Unit
  }

  /** Top-`k` BM25 retrieval against a written index — scoring is
    * bit-identical to `Rank.bm25TopDocs` on the indexed corpus (the
    * shared `bm25Aggregate` pass guarantees it). Reads only the query
    * terms' bucket partitions; the bucket set is a bounded driver-side
    * artifact (≤ |queryTerms| values), same class as the IVF probe's
    * cell list.
    *
    * Runs in the CACHED tuned child session ([[Serving]]): with `dl`
    * riding the postings, every relation in the probe plan is either
    * partition-pruned (the term buckets) or one row (meta), so AQE's
    * per-exchange re-plan rounds and a full-width shuffle fan-out are
    * pure per-probe driver latency, and the cached reader frames skip
    * per-probe file listing + schema resolution. The returned frame is
    * bound to the child session — same context, collectable anywhere.
    */
  def bm25Indexed(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(k >= 1, s"k must be >= 1, got $k")
    val (ss, frames) = Serving.tuned(spark, s"postings:$path") { ss =>
      Seq(ss.read.parquet(s"$path/meta"), ss.read.parquet(s"$path/postings"))
    }
    import ss.implicits._
    val meta = frames(0)
    // n_buckets is part of the index's frozen metadata: ONE small row.
    val nBuckets = meta.select(col("n_buckets")).as[Long].head()
    // The probed buckets, computed with the exact write-side expression.
    val buckets = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).as("bucket"))
      .distinct().as[Long].collect()

    val tf = frames(1)
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select(col(idCol), col("term"), col("tf"), col("dl"))
    val dfreq = broadcast(tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df")))
    Rank.bm25Aggregate(
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(meta.select(col("n_docs"), col("t_tokens")))),
      idCol, k)
  }

  /** PHRASE SEARCH over positional postings — the exact-sequence
    * query a bag-of-words index (BM25, tf-idf) cannot answer: doc
    * positions of token i must sit at `first + i` for every phrase
    * token. The classic positional-index plan: postings are filtered
    * to the PHRASE'S OWN TOKENS before any join (the selective-term
    * pushdown that makes phrase queries cheap at corpus scale — the
    * scan prunes to |phrase| posting lists, never the full index),
    * then an equi-join chain on (doc, aligned position). Output:
    * (idCol, n_matches, first_pos), 0-based positions, one row per
    * matching document.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must not be empty")
    val post = docs.select(col(idCol),
        posexplode(Text.tokens(col(textCol))).as(Seq("__pi", "__t")))
      .select(col(idCol), col("__pi").cast("long").as("__p"), col("__t"))
      .filter(col("__t").isInCollection(phrase.distinct))
    val first = post.filter(col("__t") === phrase.head)
      .select(col(idCol), col("__p").as("__p0"))
    val aligned = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (tok, i)) =>
        acc.join(post.filter(col("__t") === tok)
          .select(col(idCol), (col("__p") - i).as("__p0")),
          Seq(idCol, "__p0"))
    }
    aligned.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("__p0")).as("first_pos"))
  }
}
