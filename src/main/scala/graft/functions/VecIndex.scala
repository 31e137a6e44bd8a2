package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF as a STORAGE LAYOUT: the corpus written partitioned by its coarse
  * cell, with the (tiny) centroid table persisted beside it. A probe
  * then reads ONLY its nProbe cells' files — partition pruning turns
  * "scan 100 TB and filter" into "list directories, read the 0.1%
  * probed" — the property that makes IVF an index rather than a plan
  * trick. The cell can come from `Vec.kmeans` (learned) or any domain
  * partition; at real scale one would also bucket/sort within cells.
  *
  * The probe collects its probed cell ids to the driver to build the
  * partition-pruning predicate — a bounded artifact (≤ the cell count,
  * k-rows by construction), same class as heavyHitters' candidate list,
  * never data-sized.
  */
object VecIndex {

  /** Write `corpus` partitioned by `cellCol` under `path/data`, and the
    * per-cell centroids (decimal-exact means) under `path/centroids`.
    * Overwrites. At 100 TB this is the one full shuffle an IVF build
    * pays (clustering the corpus by cell for locality); every probe
    * after it is sub-linear.
    */
  def writeIvfIndex(corpus: DataFrame, cellCol: String, path: String,
      vecCol: String = "embedding"): Unit = {
    corpus.write.partitionBy(cellCol).mode("overwrite")
      .parquet(s"$path/data")
    Vec.groupCentroids(
        corpus.select(col(cellCol).as("cell"), col(vecCol)), "cell", vecCol)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Serving.invalidate(s"ivf:$path")
  }

  /** Streaming ingest into a written IVF index: each microbatch of new
    * vectors is assigned to its nearest EXISTING centroid (one broadcast
    * of the k-row centroid table, map-only — no retraining, the standard
    * serving-time policy; retrain offline when drift warrants) and
    * appended to its cell's partition. Exactly-once per input file via
    * the checkpoint; an AvailableNow run drains what's currently in
    * `streamDir` and terminates. Centroids are deliberately NOT updated
    * by ingest — probes and replays stay deterministic.
    */
  def streamAppend(spark: SparkSession, path: String, streamDir: String,
      checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingMedallion.parquetDirSink(spark, streamDir,
        Seq(idCol, vecCol), checkpoint, "Ivf_Stream_Append") { (s, batch, _) =>
      val cents = s.read.parquet(s"$path/centroids")
      val assigned = Vec.assignToCentroids(batch, cents, idCol, vecCol)
        .select(col(idCol), col(vecCol), col("cell"))
      // replay guard: a microbatch replayed after a mid-write failure
      // must not double-append — the same id anti-join idempotency the
      // medallion sinks use (the probe-side cost is one key-column scan
      // of the index, partition-pruned readers never see duplicates)
      graft.merge.Merge.antiJoinAppend(s, assigned, s"$path/data",
        Seq(idCol), "cell"): Unit
    }

  /** Split every cell whose row count exceeds `maxCellSize` into
    * `splitK` sub-cells (in-cell k-means) — the maintenance op that keeps
    * IVF probe cost bounded as a corpus grows. Ingest appends to fixed
    * cells ([[streamAppend]] never retrains), so a popular region's cell
    * grows until every probe touching it scans the whole region;
    * splitting restores cells-of-bounded-size, which is the property the
    * whole layout's sub-linearity rests on (same role compaction plays
    * for file counts).
    *
    * Mechanics: hot cells come from one key-column count (bounded
    * driver-side list, ≤ cell count — the compactSmallFilePartitions
    * pattern); each hot cell is partition-pruned-read, clustered with the
    * same bit-deterministic `Vec.kmeans` the index was built with, and
    * appended under FRESH cell ids (max existing + 1 onward, so probes
    * never confuse old and new); the old cell directory is deleted after
    * its replacement lands, and the centroid table is rewritten (hot
    * rows out, per-sub-cell decimal-exact centroids in). The swap is not
    * transactional — run it offline like compaction (a concurrent probe
    * could transiently see a vector in both its old and new cell).
    *
    * Returns (oldCell, newCells) per split. Degenerate in-cell
    * clusterings can return fewer than splitK sub-cells (standard Lloyd:
    * cells that lose every member vanish); a sub-cell still over
    * `maxCellSize` is split again on the next run — rebalance is
    * idempotent-converging, not single-pass-guaranteed.
    */
  def rebalanceCells(spark: SparkSession, path: String, maxCellSize: Long,
      splitK: Int, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Long, Seq[Long])] = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    require(splitK >= 2, s"splitK must be >= 2, got $splitK")
    val data = spark.read.parquet(s"$path/data")
    val hot = data.groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCellSize)
      .select(col("cell").cast("long")).orderBy(col("cell"))
      .collect().map(_.getLong(0)).toSeq // bounded: <= cell count
    if (hot.isEmpty) return Nil
    var nextId = data.agg(max(col("cell").cast("long"))).head().getLong(0) + 1
    val base = new org.apache.hadoop.fs.Path(path.stripSuffix("/"), "data")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val splits = hot.map { c =>
      val cellData = spark.read.parquet(s"$path/data")
        .filter(col("cell") === c)
        .select(col(idCol), col(vecCol))
      val sub = Vec.kmeans(cellData, splitK, iters, idCol, vecCol)
        .select(col(idCol), (col("cell").cast("long") + nextId).as("cell"))
      val newRows = cellData.join(sub, Seq(idCol))
        .select(col(idCol), col(vecCol), col("cell"))
        .checkpointed // sever lineage from the files we delete
      newRows.write.partitionBy("cell").mode("append")
        .parquet(s"$path/data")
      fs.delete(new org.apache.hadoop.fs.Path(base, s"cell=$c"), true): Unit
      val newCells = newRows.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted // <= splitK rows
      val r = c -> newCells
      nextId += splitK
      r
    }
    // Centroid table rewrite: hot rows out, sub-cell centroids in. The
    // table is cell-count-sized; localCheckpoint materializes it before
    // the self-overwrite (Spark cannot overwrite its own input files).
    val rebuilt = spark.read.parquet(s"$path/data")
    val survivors = spark.read.parquet(s"$path/centroids")
      .filter(!col("cell").cast("long").isin(hot: _*))
    val newCents = Vec.groupCentroids(
      rebuilt.filter(col("cell").cast("long").isin(splits.flatMap(_._2): _*)),
      "cell", vecCol)
    val updated = survivors.unionByName(
        newCents.select(col("cell").cast("int").as("cell"), col("centroid")))
      .checkpointed
    updated.write.mode("overwrite").parquet(s"$path/centroids")
    Serving.invalidate(s"ivf:$path")
    splits
  }

  /** Write `corpus` as a PERSISTED IVF-PQ index under `path` — the
    * standard 100 TB ANN serving layout (FAISS's IVFPQ, Jégou et al.
    * 2011): at rest the corpus is PQ CODES partitioned by coarse cell
    * (m rows of (id, subspace, code) per vector — m·log2(kCodes) bits
    * of payload, vs d·32 for floats), beside the cell-count-sized
    * coarse centroid table and the (m·kCodes)-row PQ codebook. A probe
    * then reads ONLY its probed cells' code files (partition pruning)
    * and scores them through the broadcast codebook — full-precision
    * vectors never need to be co-resident with the index.
    *
    * Layout: `path/codes` (cell-partitioned: idCol, subspace, code),
    * `path/centroids` (cell, centroid), `path/codebook` (subspace,
    * code, centroid). Overwrites.
    */
  def writeIvfPqIndex(corpus: DataFrame, cellCol: String, path: String,
      m: Int, subDim: Int, kCodes: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (codes, codebook) =
      Quant.pqModel(corpus, m, subDim, kCodes, iters, idCol, vecCol)
    // PACKED at rest: one row per vector, codes as an m-element array
    // in subspace order — n rows instead of n·m, and the per-row id/
    // partition overhead is paid once per vector, not once per code
    // (probe-side measured 3.3× → ~8× smaller than floats at the probe
    // scale after packing). Probes unpack with one posexplode.
    packCodes(codes, idCol)
      .join(corpus.select(col(idCol), col(cellCol).as("cell")), Seq(idCol))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    Vec.groupCentroids(
        corpus.select(col(cellCol).as("cell"), col(vecCol)), "cell", vecCol)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Serving.invalidate(s"ivfpq:$path")
  }

  /** (idCol, subspace, code) rows → (idCol, codes array<int>) with the
    * array in subspace order — the packed at-rest form of the code
    * table. */
  private def packCodes(codes: DataFrame, idCol: String): DataFrame =
    codes.select(col(idCol), col("subspace"), col("code"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code").cast("int")).as("codes"))

  /** Streaming ingest into a written IVF-PQ index — the
    * [[streamAppend]] analog for the code layout: each microbatch of
    * new vectors is assigned to its nearest EXISTING coarse cell (one
    * broadcast of the centroid table), ENCODED per subspace against
    * the persisted codebook (nearest codeword, the same rounded-
    * distance/tie-break arithmetic training used — so re-encoding a
    * training vector reproduces its stored code exactly, spec-pinned),
    * and appended to its cell's code partition. Neither centroids nor
    * codebook are updated by ingest — probes and replays stay
    * deterministic; retrain offline when drift warrants (then rebuild
    * with [[writeIvfPqIndex]]). Exactly-once per input file via the
    * checkpoint plus the same id-anti-join replay guard as
    * [[streamAppend]].
    */
  def streamAppendPq(spark: SparkSession, path: String, streamDir: String,
      checkpoint: String, m: Int, subDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingMedallion.parquetDirSink(spark, streamDir,
        Seq(idCol, vecCol), checkpoint, "IvfPq_Stream_Append") {
      (s, batch, _) => Checkpoints.owned {
        val cents = s.read.parquet(s"$path/centroids")
        val codebook = s.read.parquet(s"$path/codebook")
        val coarse = Vec.assignToCentroids(batch, cents, idCol, vecCol)
          .select(col(idCol), col(vecCol), col("cell"))
          .checkpointed // m subspace encoders + the cell join
        val codes = (0 until m).map { ss =>
          Vec.assignToCentroids(
              coarse.select(col(idCol),
                slice(col(vecCol), ss * subDim + 1, subDim).as(vecCol)),
              codebook.filter(col("subspace") === ss)
                .select(col("code").as("cell"), col("centroid")),
              idCol, vecCol)
            .select(col(idCol), lit(ss).as("subspace"),
              col("cell").as("code"))
        }.reduce(_ unionByName _)
        val rows = packCodes(codes, idCol)
          .join(coarse.select(col(idCol), col("cell")), Seq(idCol))
          .select(col(idCol), col("codes"), col("cell"))
        graft.merge.Merge.antiJoinAppend(s, rows, s"$path/codes",
          Seq(idCol), "cell"): Unit
      }
    }

  /** Top-k ADC search against a written IVF-PQ index: rank cells per
    * query by centroid cosine (broadcast centroid table), scan ONLY the
    * probed cells' code partitions, reconstruct candidates through the
    * broadcast codebook, and rank by ADC cosine (dot against the
    * reconstruction = the m-lookup ADC sum, exactly — the engine's dot
    * products accumulate decimal-exact). Returns ADC ranks; callers
    * needing exact-refined ranks rerank the returned shortlist against
    * their full-precision store ([[graft.functions.Vec.ivfPqTopK]]
    * shows the composition).
    *
    * Output: (query_id, neighbor_id, sim, rank) — sim the ADC cosine.
    */
  def ivfPqProbeIndexed(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    // Serving split (the graphProbeForQueries discipline): a bounded
    // query side runs in the cached tuned child session — every
    // relation in the probe plan is pruned (probed cells) or broadcast
    // (centroids/codebook/queries), so AQE re-plan rounds and wide
    // shuffles are pure per-probe latency. Bulk query sides keep the
    // shared session's analytics posture.
    val (Seq(centroids, codebook, codesBase), qSide) =
      servingQuerySide(spark, s"ivfpq:$path", queries,
        Seq("centroids", "codebook", "codes"), path)
    val probed = Vec.probeCells(qSide, centroids, nProbe, idCol, vecCol)
    // unpack (one map-side posexplode of the m-element code array),
    // look codewords up in the broadcast codebook, reassemble
    val recon = probedPartitions(probed, codesBase, "cell")
      .select(col(idCol), col("cell"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(codebook), Seq("subspace", "code"))
      .groupBy(col(idCol), col("cell"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("subspace"), col("centroid")))),
        s => s.getField("centroid"))).as("__rv"))
    val c = recon.select(col("cell"), col(idCol).as("neighbor_id"),
      col("__rv"),
      sqrt(graft.plans.VecExpressions.dotProduct(col("__rv"), col("__rv")))
        .as("nc"))
    Vec.simTopK(Vec.probedCandidates(probed, c, excludeSelf), "qv", "__rv", k)
  }

  /** Top-k ANN against a written IVF index: rank cells per query by
    * centroid cosine (centroid table is k rows — broadcast), collect the
    * union of probed cell ids, and scan ONLY those partitions of the
    * data. Scoring/ranking matches `Vec.ivfTopK` exactly (rounded sims,
    * id tie-breaks).
    */
  def ivfProbeIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int, cellCol: String = "cell",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    // Serving split — see ivfPqProbeIndexed.
    val (Seq(centroids, dataBase), qSide) =
      servingQuerySide(spark, s"ivf:$path", queries,
        Seq("centroids", "data"), path)
    val probed = Vec.probeCells(qSide, centroids, nProbe, idCol, vecCol)
    val c = probedPartitions(probed, dataBase, cellCol)
      .select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"),
        col(vecCol).as("vc"),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
          .as("nc"))
    Vec.simTopK(Vec.probedCandidates(probed, c, excludeSelf), "qv", "vc", k)
  }

  /** Bounded-query serving detection shared by the IVF probes: collect
    * at most [[FrontierCollectMax]]+1 query rows in ONE job — fewer
    * means the query side is a bounded serving artifact, so return the
    * reader frames for `path/<dir>` per requested dir on the cached
    * tuned session ([[Serving]]) and the queries re-hosted as a
    * broadcastable local frame on that session; hitting the cap returns
    * the frames on `spark` and `queries` as given (bulk path, nothing
    * materialized beyond the probe rows).
    */
  private def servingQuerySide(spark: SparkSession, purpose: String,
      queries: DataFrame, dirs: Seq[String], path: String)
      : (Seq[DataFrame], DataFrame) = {
    val probe = queries.limit(FrontierCollectMax.toInt + 1).collect()
    if (probe.length > FrontierCollectMax)
      (dirs.map(d => spark.read.parquet(s"$path/$d")), queries)
    else {
      val (ss, frames) = Serving.tuned(spark, purpose) { ss =>
        dirs.map(d => ss.read.parquet(s"$path/$d"))
      }
      val local = ss.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(probe: _*)), queries.schema)
      (frames, broadcast(local))
    }
  }

  /** The rows of `base` in the cells `probed` reaches. The UNION of probed
    * cells is a bounded driver-side artifact (≤ cell count), inlined as a
    * partition-pruning predicate on `cellCol` so the scan never lists,
    * opens or reads an unprobed cell's files.
    */
  private def probedPartitions(probed: DataFrame, base: DataFrame,
      cellCol: String): DataFrame = {
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.get(0))
    base.filter(col(cellCol).isin(probedCells.toIndexedSeq: _*))
  }

  // ----- kNN-GRAPH index (the graph rung's persisted serving layout) ----

  /** Persist a [[Vec.nnDescent]] kNN graph as a SERVING INDEX: the
    * SYMMETRIZED adjacency partitioned by a hash bucket of the source
    * node (so a probe pages in only its beam's buckets — the graph
    * analog of IVF's cell pruning), the vectors bucketed the same way,
    * and a one-row meta table holding the deterministic entry node and
    * the bucket count. Symmetrization is materialized at WRITE time
    * because the probe walks edges source-side only — a reverse edge
    * stored under its own source bucket is what keeps every hop's read
    * partition-pruned (HNSW stores bidirectional links for the same
    * reason).
    */
  def writeGraphIndex(corpus: DataFrame, path: String, k: Int,
      nBits: Int = 4, rounds: Int = 3, ringWindow: Int = 8,
      nBuckets: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val g = Vec.nnDescent(corpus, idCol, vecCol, k, nBits, rounds,
      ringWindow)
    val e = g.select(col("node_id"), col("neighbor_id"), col("sim"))
    val sym = e.unionByName(e.select(col("neighbor_id").as("node_id"),
        col("node_id").as("neighbor_id"), col("sim")))
      .distinct()
    sym.withColumn("node_bucket", pmod(col("node_id"), lit(nBuckets.toLong)))
      .write.partitionBy("node_bucket").mode("overwrite")
      .parquet(s"$path/adj")
    corpus.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .withColumn("vec_bucket", pmod(col(idCol), lit(nBuckets.toLong)))
      .write.partitionBy("vec_bucket").mode("overwrite")
      .parquet(s"$path/vectors")
    corpus.select(col(idCol).cast("long").as("id"))
      .select(col("id"), Sampling.hashOrder(col("id")).as("__h"))
      .orderBy(col("__h").asc, col("id").asc).limit(1)
      .select(col("id").as("entry_id"), lit(nBuckets.toLong).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$path/meta")
    invalidateServing(path)
  }

  /** Beam search OVER THE PERSISTED graph — [[Vec.graphBeamSearch]]'s
    * serving twin, but each hop reads ONLY the adjacency buckets its
    * current beams touch (partition-pruned, the ivfProbeIndexed
    * discipline) and only the vector buckets its candidates live in.
    * The per-hop beam-id collect is a bounded serving artifact
    * (queries × beam ids, never corpus-sized). Semantics are identical
    * to the in-memory search (same entry, scoring, tie-breaks) —
    * GraphIndexSpec pins the equality.
    */
  def graphProbeIndexed(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, beam: Int, hops: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      frontierMax: Long = FrontierCollectMax): DataFrame = {
    require(k >= 1 && beam >= k, s"need beam >= k >= 1, got k=$k beam=$beam")
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val nB = meta.getLong(meta.fieldIndex("n_buckets"))
    val qIds = queries.select(col(idCol).cast("long")).collect()
      .map(_.getLong(0))
    val qv = broadcast(spark.read.parquet(s"$path/vectors")
      .filter(col("vec_bucket")
        .isin(qIds.map(_ % nB).distinct.toIndexedSeq: _*))
      .filter(col(idCol).isin(qIds.toIndexedSeq: _*))
      .select(col(idCol).cast("long").as("__q"), col(vecCol).as("__qv"),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol),
          col(vecCol))).as("__qn")))
    graphProbeForQueries(spark, path, qv, nB, k, beam, hops, idCol,
      vecCol, frontierMax)
  }

  /** Streaming ingest into a persisted graph index: each microbatch's
    * new vectors are beam-searched against the CURRENT index for their
    * k nearest resident nodes (the HNSW insert procedure), then the
    * new node's edges land in BOTH directions (its own bucket and the
    * neighbors' buckets — the write-time symmetrization invariant),
    * and the vectors append to their bucket. Exactly-once per input
    * file via the checkpoint; replayed microbatches are de-duplicated
    * by the (node, neighbor) anti-join guard. The graph is NOT
    * re-descended on ingest (the centroids-not-retrained policy);
    * rebuild offline when drift warrants.
    */
  def streamAppendGraph(spark: SparkSession, path: String,
      streamDir: String, checkpoint: String, k: Int, beam: Int,
      hops: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingMedallion.parquetDirSink(spark, streamDir,
        Seq(idCol, vecCol), checkpoint, "Graph_Stream_Append") { (s, batch, _) =>
      appendGraphBatch(s, path, batch, k, beam, hops, idCol, vecCol)
    }

  /** One graph-ingest batch — the [[streamAppendGraph]] arithmetic
    * (beam-search each new vector against the CURRENT index, append
    * symmetrized edges and the vectors, both replay-guarded), callable
    * directly for bulk loads and the drift probes. */
  private[graft] def appendGraphBatch(s: SparkSession, path: String,
      batch: DataFrame, k: Int, beam: Int, hops: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = Checkpoints.owned {
    val meta = s.read.parquet(s"$path/meta").collect()(0)
    val nB = meta.getLong(meta.fieldIndex("n_buckets"))
    val b = batch.select(col(idCol).cast("long").as(idCol),
      col(vecCol)).checkpointed
    // search BEFORE appending the batch's own vectors, so a new
    // node can never resolve to itself or a batch-mate
    val vdir = s"$path/vectors"
    val nbrs = {
      // new vectors are not in the index yet: score them against
      // the probe path by feeding them as an in-memory query side
      val qv = b.select(col(idCol).cast("long").as("__q"),
        col(vecCol).as("__qv"),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol),
          col(vecCol))).as("__qn"))
      graphProbeForQueries(s, path, broadcast(qv), nB, k, beam, hops,
        idCol, vecCol)
    }
    val edges = nbrs
      .select(col("query_id").as("node_id"),
        col("neighbor_id"), col("sim"))
    val sym = edges.unionByName(edges.select(
      col("neighbor_id").as("node_id"), col("node_id")
        .as("neighbor_id"), col("sim")))
    graft.merge.Merge.antiJoinAppend(s,
      sym.withColumn("node_bucket", pmod(col("node_id"), lit(nB))),
      s"$path/adj", Seq("node_id", "neighbor_id"), "node_bucket"): Unit
    graft.merge.Merge.antiJoinAppend(s,
      b.withColumn("vec_bucket", pmod(col(idCol), lit(nB))),
      vdir, Seq(idCol), "vec_bucket"): Unit
    invalidateServing(path)
  }

  /** RECALL-DRIFT measurement for a streamed-into graph index — the
    * statistic that decides when "rebuild offline" is warranted (the
    * ingest path appends each new node with only its insert-time edges
    * and never re-runs NN-descent, so graph quality decays as appended
    * volume grows; nothing else in the layout measures that decay).
    *
    * Per query of a DETERMINISTIC hash-sampled resident query set
    * (same [[graft.functions.Sampling.hashOrder]] order every call, so
    * successive drift checks are comparable): recall@k of the persisted
    * beam search against exact brute-force cosine over the CURRENT
    * resident vectors. Output: [[graft.functions.Eval.topkRecall]] rows
    * (query_id, k_true, n_hit, recall_ppm) — callers trigger a rebuild
    * when avg(recall_ppm) crosses their floor.
    *
    * Scale shape: the query side is `nQueries` rows (bounded,
    * broadcast); the exact side is one corpus map-scan per drift check
    * — the price of ground truth, paid on a sample, not per serve.
    */
  def graphRecallDrift(spark: SparkSession, path: String, k: Int,
      beam: Int, hops: Int, nQueries: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = spark.read.parquet(s"$path/vectors")
      .select(col(idCol), col(vecCol))
    val queries = vecs
      .withColumn("__h", Sampling.hashOrder(col(idCol)))
      .orderBy(col("__h").asc, col(idCol).asc).limit(nQueries)
      .select(col(idCol), col(vecCol))
      .checkpointed
    graft.functions.Eval.topkRecall(
      graphProbeIndexed(spark, path, queries, k, beam, hops, idCol, vecCol),
      Vec.bruteForceTopKUncached(queries, vecs, k, idCol, vecCol),
      "query_id", "neighbor_id")
  }

  /** Offline rebuild of a drifted graph index: re-run NN-descent over
    * the CURRENT resident vectors (originals + everything streamed in)
    * and rewrite `adj/` and `meta/` in place; `vectors/` is already the
    * full corpus and is untouched. The [[graphRecallDrift]] +
    * rebuild pair is the maintenance loop: measure, rebuild past the
    * floor, measure again (GraphIndexSpec pins recall recovery).
    * Offline like compaction — a probe racing the adj overwrite can see
    * a partial graph.
    */
  def rebuildGraphIndex(spark: SparkSession, path: String, k: Int,
      rounds: Int = 3, ringWindow: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = Checkpoints.owned {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val nB = meta.getLong(meta.fieldIndex("n_buckets"))
    val vecs = spark.read.parquet(s"$path/vectors")
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .checkpointed
    val nBits = Vec.deriveNBits(vecs.count())
    val g = Vec.nnDescentUncached(vecs, idCol, vecCol, k, nBits, rounds,
      ringWindow)
    val e = g.select(col("node_id"), col("neighbor_id"), col("sim"))
    val sym = e.unionByName(e.select(col("neighbor_id").as("node_id"),
        col("node_id").as("neighbor_id"), col("sim")))
      .distinct()
      .checkpointed // adj/ is about to be overwritten under it
    sym.withColumn("node_bucket", pmod(col("node_id"), lit(nB)))
      .write.partitionBy("node_bucket").mode("overwrite")
      .parquet(s"$path/adj")
    vecs.select(col(idCol).as("id"))
      .select(col("id"), Sampling.hashOrder(col("id")).as("__h"))
      .orderBy(col("__h").asc, col("id").asc).limit(1)
      .select(col("id").as("entry_id"), lit(nB).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$path/meta")
    invalidateServing(path)
  }

  /** Query-count ceiling for the batched-frontier serving loop: below
    * it the whole per-hop frontier (queries × beam × degree rows) is a
    * bounded serving artifact the driver holds; above it (bulk ingest
    * batches) the distributed loop keeps the frontier on executors.
    */
  private[graft] val FrontierCollectMax = 1024L

  /** The probe loop over an EXTERNAL (not-yet-indexed) query side —
    * shared by [[graphProbeIndexed]]'s ingest use; `qv` carries
    * (__q, __qv, __qn).
    *
    * Two regimes, identical semantics (GraphIndexSpec pins equality):
    *
    * - SERVING (≤ [[FrontierCollectMax]] queries): the batched-frontier
    *   loop — the beam state lives on the DRIVER and each hop is ONE
    *   Spark job that scores the whole frontier against the pruned
    *   vector buckets AND expands the survivors through the pruned
    *   adjacency buckets in the same plan. The former shape (2 collects
    *   + 2 localCheckpoints per hop = ~4 driver round-trips/hop) was
    *   the p95 bound under concurrent serving; per-hop driver data is
    *   queries × beam × degree rows — a bounded serving artifact,
    *   never corpus-sized.
    * - BULK (ingest batches): the distributed loop — beams stay on
    *   executors as checkpointed frames, only the id lists needed for
    *   partition pruning ever reach the driver.
    */
  /** One tuned serving child session (AQE off, 1 shuffle partition)
    * and its vectors/adj reader frames per (SparkContext, index path) —
    * the [[Serving]] cache (rationale + invalidation contract there).
    * Every in-JVM writer of a graph layout calls [[invalidateServing]].
    */
  private def servingSession(spark: SparkSession, path: String)
      : (SparkSession, DataFrame, DataFrame) = {
    val (ss, frames) = Serving.tuned(spark, s"graph:$path") { ss =>
      Seq(ss.read.parquet(s"$path/vectors"), ss.read.parquet(s"$path/adj"))
    }
    (ss, frames(0), frames(1))
  }

  /** Drop the cached serving session/readers for `path` (every layout
    * writer below calls this; external writers call it explicitly). */
  def invalidateServing(path: String): Unit =
    Serving.invalidate(s"graph:$path")

  private[graft] def graphProbeForQueries(spark: SparkSession, path: String,
      qv: DataFrame, nB: Long, k: Int, beam: Int, hops: Int,
      idCol: String, vecCol: String,
      frontierMax: Long = FrontierCollectMax): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val entryId = meta.getLong(meta.fieldIndex("entry_id"))
    // One reader frame per layout dir for the WHOLE search: building a
    // fresh spark.read.parquet per hop re-runs file listing and schema
    // resolution 2×hops times per probe — pure serving latency. The
    // per-hop partition pruning happens in the filters below either way.
    val vecsBase = spark.read.parquet(s"$path/vectors")
    val adjBase = spark.read.parquet(s"$path/adj")
    // a hop's bucket-pruned reads: vectors (__d, __dv, __dn) and
    // adjacency (__d, __d2)
    def vecsFor(vecs: DataFrame, ids: Array[Long]): DataFrame =
      vecs
        .filter(col("vec_bucket")
          .isin(ids.map(_ % nB).distinct.toIndexedSeq: _*))
        .filter(col(idCol).isin(ids.toIndexedSeq: _*))
        .select(col(idCol).cast("long").as("__d"), col(vecCol).as("__dv"),
          sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol),
            col(vecCol))).as("__dn"))
    def adjFor(adj: DataFrame, ids: Array[Long]): DataFrame =
      adj
        .filter(col("node_bucket")
          .isin(ids.map(_ % nB).distinct.toIndexedSeq: _*))
        .filter(col("node_id").isin(ids.toIndexedSeq: _*))
        .select(col("node_id").as("__d"), col("neighbor_id").as("__d2"))
    // each query's `beam` best candidates by cosine, (sim desc, id) ties
    def topBeam(cand: DataFrame, vecs: DataFrame, q: DataFrame,
        ids: Array[Long]): DataFrame =
      cand.join(vecsFor(vecs, ids), Seq("__d"))
        .join(q, Seq("__q"))
        .select(col("__q"), col("__d"),
          Vec.pairSim(col("__qv"), col("__dv"), col("__qn"), col("__dn"))
            .as("sim"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("__q"))
          .orderBy(col("sim").desc, col("__d").asc)).cast("long"))
        .filter(col("rank") <= beam)

    // Serving detection in ONE job: collect at most frontierMax + 1
    // query rows — fewer means the whole query side is a bounded
    // serving artifact the driver can hold; hitting the cap falls
    // through to the bulk loop without having materialized anything.
    val qProbe = qv.limit(frontierMax.toInt + 1).collect()
    if (qProbe.length <= frontierMax) {
      // ---- batched-frontier serving loop: one job per hop ----
      // A tuned CHILD session (shared SparkContext, own SQLConf) runs
      // the hop jobs: AQE off (its per-shuffle re-plan rounds are pure
      // driver latency on frontier-sized data) and ONE shuffle
      // partition for the beam window (32 near-empty tasks per hop
      // otherwise). The shared session's conf is untouched — serving
      // probes run concurrently with bulk work. The session AND its
      // reader frames are CACHED per (context, path): allocating a
      // fresh session per probe accumulated SessionStates under the
      // sustained concurrent workload this path exists for, and
      // re-reading the layout re-ran file listing + schema resolution
      // per probe. In-JVM writers invalidate via [[invalidateServing]].
      val (ss, ssVecs, ssAdj) = servingSession(spark, path)
      val qvLocal = broadcast(ss.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(qProbe: _*)), qv.schema))
      val qIds = qProbe.map(_.getLong(qv.schema.fieldIndex("__q"))).distinct
      // Hop-1 candidate pairs = the entry node plus its neighbors per
      // query (one tiny pruned adjacency read), self-pairs dropped —
      // exactly the distributed loop's first cand frame.
      val entryNbrs = adjFor(ssAdj, Array(entryId)).collect().map(_.getLong(1))
      var cand: Array[(Long, Long)] =
        (qIds.map(q => (q, entryId)) ++
          qIds.flatMap(q => entryNbrs.map(q -> _)))
          .filter { case (q, dd) => q != dd }.distinct
      var result: Array[org.apache.spark.sql.Row] = Array.empty
      for (h <- 1 to hops) {
        val candIds = cand.map(_._2).distinct
        import ss.implicits._
        val scored =
          topBeam(cand.toSeq.toDF("__q", "__d"), ssVecs, qvLocal, candIds)
        if (h == hops) {
          result = scored.filter(col("rank") <= k)
            .select(col("__q"), col("__d"), col("sim"), col("rank"))
            .collect()
        } else {
          // Score AND expand in the same job: the survivors' adjacency
          // rides a left join pruned by candIds (a driver-known
          // superset of the surviving beam ids).
          val rows = scored
            .join(adjFor(ssAdj, candIds), Seq("__d"), "left")
            .select(col("__q"), col("__d"), col("__d2"))
            .collect()
          val bmPairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
          val expanded = rows.filter(!_.isNullAt(2))
            .map(r => (r.getLong(0), r.getLong(2)))
          cand = (bmPairs ++ expanded)
            .filter { case (q, dd) => q != dd }.distinct
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(result: _*)), schema)
    }

    // ---- distributed bulk loop ----
    Checkpoints.owned {
      var bm: DataFrame = qv.select(col("__q")).withColumn("__d", lit(entryId))
      for (_ <- 1 to hops) {
        val beamIds = bm.select(col("__d")).distinct().collect()
          .map(_.getLong(0))
        val cand = Checkpoints.replace(bm)(bm.select(col("__q"), col("__d"))
          .join(adjFor(adjBase, beamIds), Seq("__d"))
          .select(col("__q"), col("__d2").as("__d"))
          .unionByName(bm.select(col("__q"), col("__d")))
          .filter(col("__q") =!= col("__d"))
          .distinct()
          .checkpointed)
        val candIds = cand.select(col("__d")).distinct().collect()
          .map(_.getLong(0))
        bm = Checkpoints.replace(cand)(
          topBeam(cand, vecsBase, qv, candIds).checkpointed)
      }
      bm.filter(col("rank") <= k)
        .select(col("__q").as("query_id"), col("__d").as("neighbor_id"),
          col("sim"), col("rank"))
    }
  }
}
