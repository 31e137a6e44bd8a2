package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators over `array<float>` embedding columns:
  * exact cosine, brute-force top-k, and random-hyperplane LSH bucketing as
  * the approximate/scale path.
  *
  * Floats are promoted to double *before* any arithmetic so every engine
  * (and the DuckDB oracle) computes bit-identical sums: float->double is
  * exact, and the left-fold summation order is fixed by the higher-order
  * `aggregate` on both sides.
  */
object Vec {

  /** Dot product in double precision (per-row lambda, no shuffle). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to `scale` places for cross-engine
    * comparisons (pass scale < 0 to skip rounding). Backed by the
    * codegen'd cosine_sim kernel — the equivalent zip_with/aggregate chain is
    * CodegenFallback and dominates all-pairs workloads; fold order and
    * double promotion are identical.
    */
  def cosine(a: Column, b: Column, scale: Int = 6): Column = {
    val c = graft.plans.VecExpressions.cosineSim(a, b)
    if (scale >= 0) round(c, scale) else c
  }

  /** Cosine from a precomputed-norm pair: round(dot/(na*nb), 6). The norms
    * are sqrt(self-dot) computed once per vector instead of once per pair —
    * 3x less arithmetic on all-pairs workloads, identical values (the
    * per-accumulator fold orders are unchanged). A zero norm yields NULL,
    * NOT NaN: Spark orders NaN above every number, so a NaN similarity
    * would make a zero vector pass every `sim >= t` join predicate and
    * rank first in every descending top-k; NULL fails predicates and
    * sorts last under desc, which is the correct "no similarity" result.
    */
  private[functions] def pairSim(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(null).cast("double"))
      .otherwise(round(graft.plans.VecExpressions.dotProduct(va, vb) / (na * nb), 6))

  private def withNorm(vecs: DataFrame, idCol: String, vecCol: String,
      suffix: String): DataFrame =
    vecs.select(col(idCol).as(s"id_$suffix"), col(vecCol).as(s"v$suffix"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as(s"n$suffix"))

  /** The top-k tail of every exact-scored search: each candidate
    * (query_id, neighbor_id) row scored by [[pairSim]] of query vector
    * `qVec` (norm `nq`) against candidate vector `cVec` (norm `nc`),
    * then each query's k best by (sim desc, neighbor_id).
    * Output: (query_id, neighbor_id, sim, rank).
    */
  private[functions] def simTopK(candidates: DataFrame, qVec: String,
      cVec: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .withColumn("sim", pairSim(col(qVec), col(cVec), col("nq"), col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** The IVF coarse probe: each query's vector (`qv`) and norm (`nq`),
    * paired with its `nProbe` cells of highest centroid cosine (ties to
    * the lower cell id). `centroids` is (cell, centroid).
    * Output: (query_id, qv, nq, cell).
    */
  private[functions] def probeCells(queries: DataFrame, centroids: DataFrame,
      nProbe: Int, idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("nq"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell"))
    q.join(broadcast(centroids))
      .withColumn("cell_sim", cosine(col("qv"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nProbe)
      .select(col("query_id"), col("qv"), col("nq"), col("cell"))
  }

  /** The probed cells' candidates: `probed` ([[probeCells]]) joined to the
    * cell-keyed corpus side `cells` (cell, neighbor_id, …). Self-exclusion
    * only makes sense when queries come from the corpus's own id space —
    * with an external query set a coincidental id equality would silently
    * drop a legitimate neighbor (pass excludeSelf = false).
    */
  private[functions] def probedCandidates(probed: DataFrame, cells: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val joined = probed.join(cells, Seq("cell"))
    if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id"))
    else joined
  }

  /** Embedding-cosine near-duplicate pairs: all (id_a < id_b) pairs with
    * similarity >= `threshold`. This is the exact quadratic baseline —
    * correct at any data size but O(n²) compute; use `lshNearDupPairs`
    * as the scale path (bucket-blocked candidates, same verifier).
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // The all-pairs join streams against a broadcast or cartesian-joins;
    // either way the streamed partitioning comes straight from the scan,
    // so a small input (few parquet files) would run the whole O(n²) pass
    // on a handful of tasks. Repartitioning BOTH sides costs two linear
    // shuffles — noise next to the quadratic compute they parallelize —
    // and keeps every plan choice parallel without forcing one: a
    // broadcast hint would pin the full table into the 8 GB broadcast
    // limit and fail outright on inputs where the un-hinted planner falls
    // back to a feasible (slow, but completing) cartesian product.
    val par = vecs.sparkSession.sparkContext.defaultParallelism
    val a = withNorm(vecs, idCol, vecCol, "a").repartition(par)
    val b = withNorm(vecs, idCol, vecCol, "b").repartition(par)
    val sim = pairSim(col("va"), col("vb"), col("na"), col("nb"))
    // The threshold lives INSIDE the join condition: the nested-loop join
    // then emits only surviving pairs instead of materializing every
    // candidate row for a post-filter (survivors are typically a vanishing
    // fraction). The id ordering short-circuits before the dot product.
    a.join(b, col("id_a") < col("id_b") && sim >= threshold)
      .withColumn("sim", sim)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-space decontamination: drop corpus rows whose vector is
    * within cosine `threshold` of ANY evaluation vector — the semantic
    * complement of the n-gram `Dedup.decontaminate` (catches paraphrased
    * or reformatted eval leakage that shares no verbatim shingle).
    * Returns the SURVIVING corpus rows with their original columns.
    *
    * Scale shape mirrors the lexical path: the eval side is small by
    * construction, ships as ONE broadcast (vectors + precomputed norms),
    * and the corpus streams through a single anti nested-loop map stage —
    * linear in corpus × |eval|, no shuffle, no corpus self-join. Zero-
    * norm vectors have NULL similarity (pairSim's contract) and therefore
    * never mark contamination.
    */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val ev = broadcast(evalVecs.select(col(vecCol).as("__ve"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("__ne")))
    val withN = corpus.withColumn("__nc",
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol))))
    val sim = pairSim(col(vecCol), col("__ve"), col("__nc"), col("__ne"))
    withN.join(ev, sim >= threshold, "left_anti").drop("__nc")
  }

  /** Scale path for near-dup detection: candidates restricted to pairs
    * sharing a random-hyperplane LSH bucket, then exact-verified. Linear
    * in corpus size for bounded bucket occupancy.
    */
  def lshNearDupPairs(vecs: DataFrame, threshold: Double, nBits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = vecs.select(col(idCol), col(vecCol),
      rpLshBucket(col(vecCol), nBits).as("bucket"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("nrm"))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val sim = pairSim(col("va"), col("vb"), col("na"), col("nb"))
    // No trailing distinct: each vector carries exactly ONE bucket, so the
    // single-equality join emits each qualifying pair at most once (unlike
    // multi-band MinHash LSH, where a pair can collide in several bands) —
    // a dedup here would shuffle every surviving pair for no effect.
    a.join(b, a("bucket") === b("bucket") &&
        col("id_a") < col("id_b") && sim >= threshold)
      .withColumn("sim", sim)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** MULTI-PROBE random-hyperplane LSH near-dup pairs (Lv et al. 2007,
    * "Multi-probe LSH": probe the buckets most likely to hold missed
    * neighbors instead of adding hash tables): candidates are pairs
    * whose sign-bucket codes differ in AT MOST ONE bit — for
    * hyperplane LSH the 1-bit flips ARE the highest-probability
    * neighbors (a near-dup lands across a single close hyperplane far
    * more often than across two). Recall strictly contains
    * [[lshNearDupPairs]]' (equal buckets = Hamming 0) at ~(nBits+1)×
    * the candidate volume instead of the 2^nBits-table alternative.
    *
    * Plan shape: side A emits its bucket, side B emits its bucket PLUS
    * its nBits 1-bit flips (a scan-stage explode), so the candidate
    * stage stays ONE equi-join on the probe key; the exact-cosine
    * verify keeps correctness identical to the single-bucket path and
    * the (id_a < id_b, probe = B's ORIGINAL-or-flipped) construction
    * emits each qualifying pair exactly once per differing bit (0 or 1
    * flips → at most once from the flip side + once from the equal
    * side, deduplicated by keeping the flip tag) — a final distinct on
    * (id_a, id_b) bounds it.
    */
  def lshMultiProbePairs(vecs: DataFrame, threshold: Double, nBits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits in [1, 62], got $nBits")
    val bucketed = vecs.select(col(idCol), col(vecCol),
      rpLshBucket(col(vecCol), nBits).as("bucket"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("nrm"))
    val a = bucketed.select(col("bucket").as("probe"),
      col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na"))
    // B probes its own bucket and every 1-bit flip
    val flips = array((0 until nBits).map(i => lit(1L << i)) :+ lit(0L): _*)
    val b = bucketed
      .select(col(idCol).as("id_b"), col(vecCol).as("vb"),
        col("nrm").as("nb"),
        explode(transform(flips,
          f => col("bucket").bitwiseXOR(f))).as("probe"))
    val sim = pairSim(col("va"), col("vb"), col("na"), col("nb"))
    a.join(b, a("probe") === b("probe") &&
        col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(bucketed.select(col(idCol).as("id_a"), col(vecCol).as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(bucketed.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        pairSim(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
  }

  /** Brute-force exact top-k cosine neighbors of each query vector.
    * The query set is broadcast (it is the small side by construction), so
    * the corpus streams through a single map stage — no shuffle until the
    * tiny per-query top-k window. Ranking orders by (similarity desc, id)
    * for determinism.
    */
  /** Session memos for the bounded (queries × k) top-k rankings — the
    * eval layer (recall/NDCG/RBO/IVF-PQ grades) reruns the same exact
    * and IVF rankings as its truth/approx sides.
    */
  private val bfMemo = new PlanMemo[DataFrame]
  private val ivfMemo = new PlanMemo[DataFrame]

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame =
    bfMemo(queries, corpus, k, idCol, vecCol, excludeSelf) {
      bruteForceTopKUncached(queries, corpus, k, idCol, vecCol, excludeSelf)
        .localCheckpoint(true)
    }

  private[graft] def bruteForceTopKUncached(queries: DataFrame,
      corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(withNorm(queries, idCol, vecCol, "q")
      .withColumnRenamed("id_q", "query_id"))
    // The broadcast join streams the corpus with the SCAN's partitioning,
    // so a corpus arriving as few parquet files would run the whole
    // |queries| × |corpus| scoring pass on a handful of tasks (measured:
    // one busy core out of 4 on a single-file corpus). One linear
    // round-robin exchange parallelizes the quadratic compute — the
    // cosineNearDupPairs discipline.
    val c = withNorm(corpus
        .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions),
        idCol, vecCol, "c")
      .withColumnRenamed("id_c", "neighbor_id")
    // excludeSelf assumes query and corpus ids share one id space; pass
    // false for an external query set (an id collision would otherwise
    // silently drop a legitimate neighbor).
    val joined =
      if (excludeSelf) q.join(c, col("query_id") =!= col("neighbor_id"))
      else q.crossJoin(c)
    simTopK(joined, "vq", "vc", k)
  }

  /** Matryoshka-style truncated-prefix search (Kusupati et al. 2022,
    * "Matryoshka Representation Learning", arXiv:2205.13147): shortlist
    * candidates by cosine over only the FIRST `dPrefix` dimensions, then
    * rerank the shortlist with the full-dimension exact cosine — the
    * funnel retrieval MRL-trained embeddings are built for, where the
    * prefix scan does `dPrefix/d` of the full arithmetic (and, on a
    * column-pruned vector store, reads that fraction of the bytes).
    *
    * Exactness contract: the rerank stage is exact for whatever the
    * shortlist surfaces; end-to-end recall vs brute force depends on how
    * much of the signal the embedding's prefix carries (guaranteed only
    * for prefix-trained models — measured, not assumed, in the spec).
    * Shortlist and final ranks both break ties by (sim desc, id asc), so
    * the result is deterministic on any engine.
    *
    * Scale shape: the truncated pass is [[bruteForceTopK]] (broadcast
    * query side, one corpus map stage); the rerank joins the BOUNDED
    * (|queries| × shortlist) candidate list back to the corpus as a
    * broadcast equi-join — no second corpus scan of full vectors is
    * avoidable, but it is filter-by-broadcast, never a shuffle.
    */
  def mrlTopK(queries: DataFrame, corpus: DataFrame, k: Int, dPrefix: Int,
      shortlist: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    require(dPrefix >= 1, s"dPrefix must be >= 1, got $dPrefix")
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val tq = queries.select(col(idCol), slice(col(vecCol), 1, dPrefix).as(vecCol))
    val tc = corpus.select(col(idCol), slice(col(vecCol), 1, dPrefix).as(vecCol))
    val cand = broadcast(
      bruteForceTopK(tq, tc, shortlist, idCol, vecCol, excludeSelf)
        .select(col("query_id"), col("neighbor_id")))
    val cv = withNorm(corpus, idCol, vecCol, "c")
      .withColumnRenamed("id_c", "neighbor_id")
    val qv = broadcast(withNorm(queries, idCol, vecCol, "q")
      .withColumnRenamed("id_q", "query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim", pairSim(col("vq"), col("vc"), col("nq"), col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane sign for (component i, plane j):
    * multiplicative scrambling, ±1. Pure integer arithmetic so the oracle
    * reproduces it.
    */
  def rpSign(i: Column, j: Column): Column =
    when(((i + 1) * lit(2654435761L) + (j + 1) * lit(40503L)) % 65536 < 32768,
      lit(1.0)).otherwise(lit(-1.0))

  /** Random-hyperplane LSH bucket id (`nBits`-bit) per vector — the scale
    * path for ANN: vectors are bucketed in one map-only pass; search probes
    * only the query's bucket. Projection j = sum_i sign(i,j) * v_i.
    * Backed by the codegen'd rp_lsh_bucket kernel: one compiled loop instead of
    * nBits interpreted zip_with/aggregate passes per row.
    */
  def rpLshBucket(vec: Column, nBits: Int): Column =
    graft.plans.VecExpressions.rpLshBucket(vec, nBits)

  /** The SQL-composable higher-order-function form of `rpLshBucket` —
    * bit-identical by construction (same sign arithmetic, same per-bit
    * left-fold order); kept as the cross-engine-readable specification the
    * native expression is tested against.
    */
  def rpLshBucketHof(vec: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => rpSign(i, lit(j)) * v.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** NN-DESCENT — build an approximate kNN GRAPH (the data structure
    * under HNSW/NSG-style graph ANN, and the input to graph clustering
    * / mutual-kNN dedup) by iterative neighbor-of-neighbor refinement
    * (Dong et al. 2011): seed each node's candidates from its LSH
    * bucket (one map-only pass), then each round proposes every
    * neighbor's neighbors and keeps the top k by cosine. "A neighbor
    * of my neighbor is probably my neighbor" — a fixed number of
    * rounds recovers most of the exact graph at a candidate volume of
    * O(n·k²) per round instead of the brute-force O(n²).
    *
    * Deterministic throughout (the simplified directed local-join
    * form): LSH seeding via [[rpLshBucket]], similarity through the
    * one load-bearing dot shape ([[pairSim]] — zero-norm vectors rank
    * last as NULL), ties by neighbor id, fixed `rounds`. Output:
    * (node_id, neighbor_id, sim, rank), rank 1..k per node.
    *
    * Scale shape per round: two equi-joins of the k-bounded edge list
    * (candidate fanout ≤ (2k)², never corpus-squared), one vector
    * join, one per-node window bounded by the candidate fanout. The
    * seeding window is bounded by the LSH bucket population — size
    * nBits with [[deriveNBits]] so buckets stay ~constant as the
    * corpus grows (measured: the derived-bits build is near-linear,
    * 10.7/17.8/54.9 s at 1×/4×/16× corpus, where fixed bits went
    * quadratic; the persisted-index serve stays FLAT, 13/12/11 s —
    * ScaleProbe graph_ann).
    *
    * k is the convergence dial, measured on the near-random synthetic
    * embeddings (the hard case — weak neighbor structure, ~2.6σ):
    * recall@4 of the final graph is 0.20/0.52/0.83/0.96 at
    * k = 4/8/12/16 with 3 rounds — build a WIDER graph than you plan
    * to serve, then truncate (the standard kNN-graph practice).
    */
  /** LSH bit width that keeps nnDescent's seed buckets ~`targetBucket`
    * sized as the corpus grows — the deriveKCells rule for the graph
    * path: a FIXED nBits makes bucket populations (and therefore the
    * seeding stage's pair volume) grow linearly (quadratically) with
    * the corpus; deriving bits from n keeps seeding O(n·targetBucket).
    * Measured (ScaleProbe graph_ann): fixed 4 bits went 10→19→260 s at
    * 1×/4×/16× corpus; derived bits hold the build near-linear.
    */
  def deriveNBits(n: Long, targetBucket: Long = 32L): Int = {
    require(n >= 0 && targetBucket >= 1)
    var bits = 1
    while ((n >> bits) > targetBucket && bits < 24) bits += 1
    bits
  }

  /** Residual-IVF shared tables: (cell centroids, residual vectors),
    * keyed by the corpus plan — see [[ivfPqResidualTopK]]. */
  private val residMemo = new PlanMemo[(DataFrame, DataFrame)]

  private val nndMemo = new PlanMemo[DataFrame]

  def nnDescent(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 4, rounds: Int = 3, ringWindow: Int = 8): DataFrame =
    // the uncached graph already reads only the rounds' own final
    // checkpoint: the memo holds that one copy
    nndMemo(vecs, idCol, vecCol, k, nBits, rounds, ringWindow) {
      nnDescentUncached(vecs, idCol, vecCol, k, nBits, rounds, ringWindow)
    }

  private[graft] def nnDescentUncached(vecs: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int, rounds: Int,
      ringWindow: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(ringWindow >= 2, s"ringWindow must be >= 2, got $ringWindow")
    import org.apache.spark.sql.GraftBridge
    val spark0 = vecs.sparkSession
    val base0 = vecs.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
          .as("__n"))
      .localCheckpoint(true)
    // One pass over the checkpointed base prices the planner choice
    // below: whether the vector table fits the session's own broadcast
    // budget (the checkpoint is a LogicalRDD with no size statistics,
    // so the planner could never make its usual broadcast-vs-shuffle
    // call — restore it with the exact count; a corpus-scale vector
    // table falls back to the shuffle joins). A tuned AQE-off child
    // session for the rounds was measured WORSE here (12.9 → 18.1 s
    // cold build) — unlike HITS's sliver rounds, each nn-descent round
    // carries real candidate volume and benefits from AQE's runtime
    // coalescing; do not re-run that experiment.
    val shape = base0.agg(count(lit(1)), max(size(col("__v")))).head()
    val n = shape.getLong(0)
    val dim = if (shape.isNullAt(1)) 0L else shape.getInt(1).toLong
    val bcBudget = GraftBridge.autoBroadcastThreshold(spark0)
    val vecsFit = bcBudget > 0 && n * (dim * 8L + 64L) <= bcBudget
    val bkt = base0.select(col("__id"),
      rpLshBucket(col("__v"), nBits).as("__b"))
    val local = bkt.select(col("__id").as("__s"), col("__b"))
      .join(bkt.select(col("__id").as("__d"), col("__b")), Seq("__b"))
      .filter(col("__s") =!= col("__d"))
      .select(col("__s"), col("__d"))
    // An LSH-only seed is CLOSED under neighbor-of-neighbor (bucket
    // mates' neighbors are the same bucket mates), so refinement
    // could never escape a bad bucket. NN-descent's random init is
    // what bridges cells; its deterministic analog here is the
    // sorted-neighborhood ring over the hashOrder permutation —
    // diverse cross-bucket edges, engine-replayable.
    val ring = Dedup.sortedNeighborhoodPairs(
      base0.select(col("__id")), "__id",
      Sampling.hashOrder(col("__id")), window = ringWindow)
    val seedRaw = local
      .unionByName(ring.select(col("id_a").as("__s"), col("id_b").as("__d")))
      .unionByName(ring.select(col("id_b").as("__s"), col("id_a").as("__d")))
    if (vecsFit)
      return nndRoundsLocal(spark0, base0, seedRaw, k, rounds)
    val seed = seedRaw.distinct()
    def simRank(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("__s"))
        .orderBy(col("sim").desc, col("__d").asc)
      val dSide = base0.select(col("__id").as("__d"), col("__v").as("__vd"),
        col("__n").as("__nd"))
      val sSide = base0.select(col("__id").as("__s"), col("__v").as("__vs"),
        col("__n").as("__ns"))
      // d-join first (the candidate rows are still bare long pairs),
      // s-join last so the window's hash(__s) requirement is satisfied
      // by the join's own output partitioning.
      cand.join(dSide, Seq("__d"))
        .join(sSide, Seq("__s"))
        .select(col("__s"), col("__d"),
          pairSim(col("__vs"), col("__vd"), col("__ns"), col("__nd"))
            .as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
    }
    var g = simRank(seed).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // the full local join runs on the SYMMETRIZED edge set (Dong et
      // al.'s new/old ∪ reverse lists): a node meets its neighbors'
      // neighbors regardless of edge direction
      val e = g.select(col("__s"), col("__d"))
      val sym = e.unionByName(
        e.select(col("__d").as("__s"), col("__s").as("__d"))).distinct()
      val cand = sym.as("x")
        .join(sym.withColumnRenamed("__s", "__m").as("y"),
          col("x.__d") === col("y.__m"))
        .select(col("x.__s").as("__s"), col("y.__d").as("__d"))
        .filter(col("__s") =!= col("__d"))
        .unionByName(sym)
        .distinct()
      val prev = g
      g = simRank(cand).localCheckpoint(true)
      GraftBridge.unpersistCheckpoint(prev)
    }
    val out = g.select(col("__s").as("node_id"),
      col("__d").as("neighbor_id"), col("sim"), col("rank"))
    GraftBridge.unpersistCheckpoint(base0)
    GraftBridge.dataFrame(spark0, GraftBridge.logicalPlan(out))
  }

  /** Exact [[pairSim]] replay for the in-memory round path:
    * [[graft.plans.VecOps.dot]]'s left fold (min-length, null element →
    * null), precomputed norms, zero norm-product → null, and Spark's
    * HALF_UP double round (`java.math.BigDecimal.valueOf` — the shortest
    * decimal representation, exactly what catalyst's Round compiles to).
    * NnDescentParitySpec pins bit-equality against the compiled
    * expression, including half-way rounding points and null shapes.
    */
  private[graft] def pairSimLocal(va: Array[java.lang.Float],
      na: java.lang.Double, vb: Array[java.lang.Float],
      nb: java.lang.Double): java.lang.Double = {
    if (va == null || vb == null || na == null || nb == null) return null
    val p = na.doubleValue * nb.doubleValue
    if (p == 0.0) return null
    val m = math.min(va.length, vb.length)
    var acc = 0.0
    var i = 0
    while (i < m) {
      if (va(i) == null || vb(i) == null) return null
      acc += va(i).floatValue.toDouble * vb(i).floatValue.toDouble
      i += 1
    }
    java.math.BigDecimal.valueOf(acc / p)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Growable primitive long buffer — the aggregateByKey combiner for
    * the in-memory nn-descent rounds. Deliberately NOT a set: Spark's
    * spill-tracking size estimator walks combiner object graphs, and a
    * primitive array is O(1) to size where a boxed set is O(n).
    */
  private final class LongBuf extends Serializable {
    var a = new Array[Long](8)
    var n = 0
    def add(x: Long): LongBuf = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x; n += 1; this
    }
    def addAll(o: LongBuf): LongBuf = {
      if (n + o.n > a.length)
        a = java.util.Arrays.copyOf(a, math.max(n + o.n, n * 2))
      System.arraycopy(o.a, 0, a, n, o.n); n += o.n; this
    }
  }

  /** (sim desc NULLS LAST, id asc) — Spark's window order with its
    * double semantics: −0.0 ties 0.0 (normalized before compare), NaN
    * above every value (unreachable here — [[pairSimLocal]] never
    * produces one, the zero-product guard precedes the divide).
    */
  private val simDescIdAsc: Ordering[(Long, java.lang.Double)] =
    new Ordering[(Long, java.lang.Double)] {
      override def compare(x: (Long, java.lang.Double),
          y: (Long, java.lang.Double)): Int = {
        val c =
          if (x._2 == null && y._2 == null) 0
          else if (x._2 == null) 1
          else if (y._2 == null) -1
          else {
            def norm(v: Double): Double = if (v == 0.0) 0.0 else v
            java.lang.Double.compare(norm(y._2.doubleValue),
              norm(x._2.doubleValue))
          }
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    }

  /** The nn-descent rounds on in-memory vectors — taken when the vector
    * table fits the session's broadcast budget (the same gate, and the
    * same per-node memory contract, as the broadcast joins it replaces;
    * the [[graft.plans.CentroidTable]] discipline). Each round is two
    * long-pair shuffles with map-side set combiners — no Catalyst
    * analysis, no janino unit, no window exchange per round, which is
    * where the DataFrame loop's cold-build time measurably went (the
    * per-round work is k-bounded per node; the driver floor wasn't).
    * Candidate SETS are identical to the DataFrame loop by construction
    * (the per-key set combiner replays `distinct()`; the symmetric
    * neighbor-of-neighbor expansion enumerates N(m)×N(m) exactly as the
    * self-join on the symmetrized edge list does), sims and ordering
    * replay [[pairSimLocal]]/[[simDescIdAsc]]; NnDescentParitySpec pins
    * the two paths row-identical.
    */
  private def nndRoundsLocal(spark0: SparkSession, base0: DataFrame,
      seedRaw: DataFrame, k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.types._
    val tbl = base0.collect()
    val vm = new java.util.HashMap[Long,
      (Array[java.lang.Float], java.lang.Double)](tbl.length * 2)
    for (r <- tbl; if !r.isNullAt(0)) {
      val v: Array[java.lang.Float] =
        if (r.isNullAt(1)) null
        else r.getSeq[Any](1).map(_.asInstanceOf[java.lang.Float]).toArray
      val nn: java.lang.Double =
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      vm.put(r.getLong(0), (v, nn))
    }
    val bc = spark0.sparkContext.broadcast(vm)
    val kk = k
    // Combiners are primitive long buffers, NOT hash sets: the shuffle
    // reader's spill tracker size-samples combiner objects by walking
    // their object graph, and a boxed set is O(|set|) per sample (a
    // measured 26 s straggler job); a long[] is O(1). Dedupe (the
    // `distinct()` the DataFrame loop runs) happens per key at scoring
    // time by sort + unique scan.
    def uniq(buf: LongBuf): Array[Long] = {
      java.util.Arrays.sort(buf.a, 0, buf.n)
      var w = 0
      var i = 0
      while (i < buf.n) {
        if (w == 0 || buf.a(i) != buf.a(w - 1)) { buf.a(w) = buf.a(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(buf.a, w)
    }
    val parts = spark0.sparkContext.defaultParallelism
    def byKey(pairs: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Array[Long])] =
      pairs.aggregateByKey(new LongBuf, parts)((b, d) => b.add(d),
        (x, y) => x.addAll(y)).mapValues(uniq)
    def topK(cand: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long, java.lang.Double, Long)] =
      byKey(cand).flatMap { case (s, ds) =>
        val m = bc.value
        val sv = m.get(s)
        if (sv == null) Iterator.empty
        else {
          val scored = new Array[(Long, java.lang.Double)](ds.length)
          var i = 0
          ds.foreach { d =>
            val dv = m.get(d)
            if (dv != null) {
              scored(i) = (d, pairSimLocal(sv._1, sv._2, dv._1, dv._2))
              i += 1
            }
          }
          val kept = java.util.Arrays.copyOf(scored, i)
            .sorted(simDescIdAsc)
          kept.iterator.take(kk).zipWithIndex.map { case ((d, sim), j) =>
            (s, d, sim, (j + 1).toLong)
          }
        }
      }
    val seedPairs = seedRaw
      .where(col("__s").isNotNull && col("__d").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    var g = topK(seedPairs)
    for (_ <- 1 to rounds) {
      // One grouped pass replays BOTH candidate sources of the
      // DataFrame loop's round — the neighbor-of-neighbor self-join on
      // the symmetrized edge set (per middle node m: N(m)×N(m) minus
      // the diagonal) and the symmetrized edges themselves ((x,m) and
      // (m,x) for x ∈ N(m)) — so a round is exactly two long-pair
      // shuffles of fixed `parts` width, with no RDD unions (a union
      // SUMS partition counts and re-runs shared map stages per
      // consumer; the first cut of this loop drowned in tiny shuffle
      // commits because of it).
      val symByM = g.flatMap(t => Iterator((t._1, t._2), (t._2, t._1)))
      g = topK(byKey(symByM).flatMap { case (m, a) =>
        a.iterator.flatMap(x =>
          a.iterator.filter(_ != x).map(y => (x, y))) ++
          a.iterator.flatMap(x => Iterator((x, m), (m, x)))
      })
    }
    val rows = g.map { case (s, d, sim, r) =>
      org.apache.spark.sql.Row(s, d, sim, r) }
    val schema = StructType(Seq(
      StructField("node_id", LongType, nullable = true),
      StructField("neighbor_id", LongType, nullable = true),
      StructField("sim", DoubleType, nullable = true),
      StructField("rank", LongType, nullable = false)))
    // The DataFrame loop's checkpoint carried the final window's
    // hashpartitioning(node_id) + (node_id, sim desc, neighbor_id)
    // ordering, which every graph consumer's joins and windows reuse
    // exchange-free — restore the same physical properties over the
    // in-memory result (one k·n-row exchange; the RDD's HashPartitioner
    // is Java-hash, not the murmur3 the SQL layer could reuse).
    val sqlParts = spark0.conf.get("spark.sql.shuffle.partitions").toInt
    val laid = spark0.createDataFrame(rows, schema)
      .repartition(sqlParts, col("node_id"))
      .sortWithinPartitions(col("node_id").asc, col("sim").desc,
        col("neighbor_id").asc)
      .localCheckpoint(true)
    // The eager checkpoint holds the last round's output, so no task reads
    // the vector map or base0 (the seed's source) again: free both now,
    // as the DataFrame loop frees base0, not at whichever later GC lets
    // the ContextCleaner find them unreachable.
    bc.destroy()
    GraftBridge.unpersistCheckpoint(base0)
    // localCheckpoint under AQE records UnknownPartitioning; re-declare
    // the layout the plan above genuinely produced so consumers reuse
    // it exchange- and sort-free (the memo stores this frame as is).
    GraftBridge.relabelCheckpointLayout(laid, Seq("node_id"),
      Seq(("node_id", true), ("sim", false), ("neighbor_id", true)),
      sqlParts)
  }

  /** GREEDY BEAM SEARCH over a prebuilt kNN graph ([[nnDescent]]) —
    * the serving half of graph ANN (the HNSW/NSG query loop,
    * flattened to a fixed hop count so it stays declarative): every
    * query starts at ONE deterministic entry node (the hash-order
    * minimum — the flat-graph analog of HNSW's entry point), and each
    * hop expands the beam's symmetrized neighbors, keeps the `beam`
    * best by cosine to the query, and repeats. After `hops` rounds
    * the top `k` of the beam are the results. Per-query cost is
    * O(hops·beam·degree) similarities — independent of corpus size,
    * which is the entire point of graph serving.
    *
    * Deterministic: fixed entry, (sim desc, id) beam selection, fixed
    * hops. Measured on the synthetic embeddings (weak structure):
    * recall@4 vs exact = 0.68/0.83/0.95 at (beam 8, hops 3)/(8, 5)/
    * (16, 5) over the k=16 nnDescent graph.
    *
    * Scale shape per hop: one beam-to-adjacency equi-join, one
    * vector join, one per-query window bounded by beam·degree. The
    * graph is the only corpus-sized input; beams are queries×beam.
    */
  private val beamMemo = new PlanMemo[DataFrame]

  def graphBeamSearch(graph: DataFrame, vecs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      beam: Int, hops: Int): DataFrame = {
    require(k >= 1 && beam >= k, s"need beam >= k >= 1, got k=$k beam=$beam")
    require(hops >= 1, s"hops must be >= 1, got $hops")
    beamMemo(graph, vecs, queries, idCol, vecCol, k, beam, hops) {
      val base = vecs.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
          .as("__n"))
      val q = broadcast(queries.select(col(idCol).cast("long").as("__q"))
        .join(base.withColumnRenamed("__id", "__q"), Seq("__q"))
        .select(col("__q"), col("__v").as("__qv"), col("__n").as("__qn")))
      val e = graph.select(col("node_id").as("__s"),
        col("neighbor_id").as("__d"))
      val adj = e.unionByName(
          e.select(col("__d").as("__s"), col("__s").as("__d")))
        .distinct()
        .localCheckpoint(true)
      val entry = base
        .select(col("__id"),
          Sampling.hashOrder(col("__id")).as("__h"))
        .orderBy(col("__h").asc, col("__id").asc)
        .limit(1)
        .select(col("__id").as("__d"))
      def score(cand: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("__q"))
          .orderBy(col("sim").desc, col("__d").asc)
        cand
          .join(base.select(col("__id").as("__d"), col("__v").as("__dv"),
            col("__n").as("__dn")), Seq("__d"))
          .join(q, Seq("__q"))
          .select(col("__q"), col("__d"),
            pairSim(col("__qv"), col("__dv"), col("__qn"), col("__dn"))
              .as("sim"))
          .withColumn("rank", row_number().over(w).cast("long"))
      }
      // the entry beam is an UNSCORED set (it may even be the query
      // itself); the self-exclusion runs at every candidate stage, so a
      // query that happens to be the entry node still seeds from its
      // own adjacency instead of an empty beam
      var bm = q.select(col("__q")).crossJoin(broadcast(entry))
      for (_ <- 1 to hops) {
        val cand = bm.select(col("__q"), col("__d"))
          .join(adj.select(col("__s").as("__d"), col("__d").as("__d2")),
            Seq("__d"))
          .select(col("__q"), col("__d2").as("__d"))
          .unionByName(bm.select(col("__q"), col("__d")))
          .filter(col("__q") =!= col("__d"))
          .distinct()
        bm = score(cand).filter(col("rank") <= beam).localCheckpoint(true)
      }
      bm.filter(col("rank") <= k)
        .select(col("__q").as("query_id"), col("__d").as("neighbor_id"),
          col("sim"), col("rank"))
        .localCheckpoint(true)
    }
  }

  /** Dimension-wise mean vector (centroid) per group — embedding pooling
    * for cluster summaries, IVF coarse quantizers, class prototypes.
    * One posexplode + a single partial-aggregable (group, dim) shuffle.
    *
    * The sum runs over decimal(25,10), not double: decimal addition is
    * exact and therefore independent of partial-aggregation order, so the
    * centroid (and every downstream ranking) is bit-deterministic across
    * runs, partitionings, and engines — a double sum would vary in the
    * last ulp with shuffle order. The divisor is count(x), not count(*):
    * sum skips null elements, so the mean must too, or it silently biases
    * toward zero. Output: (groupCol, centroid array<float>).
    */
  def groupCentroids(df: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol).as("__g"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("__g"), col("dim"))
      .agg((sum(col("x").cast("decimal(25,10)")).cast("double") /
        count(col("x"))).as("m"))
      .groupBy(col("__g"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("__g").as(groupCol),
        expr("transform(dm, s -> cast(s.m as float))").as("centroid"))

  /** Lloyd's k-means over an embedding column, bit-deterministic across
    * engines and partitionings — the clustering step that feeds IVF coarse
    * quantizers, topic balancing, and diversity sampling:
    *
    *  - init: the `k` smallest-id vectors (no RNG — reruns and engines
    *    agree);
    *  - assign: squared L2 via dot products (xx - 2·xc + cc, double
    *    accumulation in a fixed order), ROUNDED to 6 places and ranked
    *    with a cell tie-break, so equidistant points break identically
    *    everywhere;
    *  - update: `groupCentroids`' decimal-exact order-free means.
    *
    * Each iteration is one broadcast of k centroids + one corpus-keyed
    * window + one partial-aggregable centroid groupBy — no corpus
    * shuffle grows with k. Cells that lose every member vanish (standard
    * Lloyd; k can only shrink). Plans nest per iteration: for more than
    * a handful of iterations, localCheckpoint the assignment between
    * rounds. Returns the FINAL assignment (idCol, cell, dist2).
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansModel(corpus, k, iters, idCol, vecCol)._1

  /** `kmeans` returning BOTH the final assignment (idCol, cell, dist2)
    * and the codebook it was assigned against — `(cell, cvec)`, i.e. the
    * centroids after the last update step. Consumers that reconstruct
    * from codes (product quantization's ADC path) need exactly the
    * codebook the assignment distances were measured to, not one more
    * update of it.
    */
  /** Session memo ([[PlanMemo]]) for the trained k-means model — FIVE
    * catalog entries train the identical (corpus, k, iters) model
    * (q_kmeans, q_semdedup, q_mutual_knn, q_ivf_kmeans,
    * q_split_by_cluster), each re-running the full iterative chain.
    */
  private val kmMemo = new PlanMemo[(DataFrame, DataFrame)]

  def kmeansModel(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) =
    kmMemo(corpus, k, iters, idCol, vecCol) {
      val (a, c) = kmeansModelUncached(corpus, k, iters, idCol, vecCol)
      (a.localCheckpoint(true), c.localCheckpoint(true))
    }

  // private[functions]: pqModel's m CONCURRENT subspace trainings call
  // this directly — the memo's build-under-lock would serialize them
  // (pqModel is memoized as a whole instead); plan-shape assertions
  // also target this unmemoized chain
  private[functions] def kmeansModelUncached(corpus: DataFrame, k: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val wInit = Window.orderBy(col(idCol))
    // Only (id, vector) enters the per-iteration cross-join + window:
    // any other corpus column would be replicated k times through the
    // operator's heaviest shuffle before being dropped.
    val pts = corpus.select(col(idCol), col(vecCol))
    var cents = pts.orderBy(col(idCol)).limit(k)
      .select((row_number().over(wInit) - 1).cast("int").as("cell"),
        col(vecCol).as("cvec"))
    var assigned = assignCells(pts, cents, idCol, vecCol)
    for (_ <- 2 to iters) { // update-then-assign; the final step is assign
      cents = groupCentroids(assigned.select(col("cell"), col(vecCol)),
          "cell", vecCol)
        .withColumnRenamed("centroid", "cvec")
      assigned = assignCells(pts, cents, idCol, vecCol)
    }
    (assigned.select(col(idCol), col("cell"), col("dist2")), cents)
  }

  /** Serving-time nearest-centroid assignment against an EXISTING
    * centroid table `(cell, centroid)` — one broadcast of the k-row
    * table, map-only over the vectors, no retraining. The assignment
    * arithmetic is exactly `kmeans`' (rounded dist², cell tie-break),
    * so incremental ingest and training runs agree on every boundary.
    * Returns (idCol, vecCol, cell, dist2).
    */
  def assignToCentroids(vecs: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCells(vecs.select(col(idCol), col(vecCol)),
      centroids.select(col("cell"), col("centroid").as("cvec")),
      idCol, vecCol)

  /** HIERARCHICAL serving-time assignment — the extreme-kCells regime
    * [[deriveKCells]]' scaladoc documents, now built: train a coarse
    * quantizer of ceil(sqrt(k)) super-cells over the CENTROID TABLE
    * itself (k rows — model-sized work, the existing bounded-collect
    * contract), then assign each vector in two compiled hops: nProbe
    * nearest super-cells, argmin over their member centroids. Per-vector
    * cost drops from k to ~sqrt(k)·(1 + nProbe) dot products —
    * sublinear in kCells at fixed n (probe-verified) — and the pass
    * stays map-only against one broadcast table.
    *
    * Exactness contract: member scan arithmetic is bit-identical to
    * [[assignToCentroids]], so with nProbe >= kSuper the output equals
    * the flat assignment exactly (spec-pinned); smaller nProbe is the
    * standard IVF approximation — a vector whose true cell lives in an
    * unprobed super-cell gets its best PROBED cell (boundary-local, the
    * SemDedup/IVF recall trade).
    *
    * Returns (idCol, vecCol, cell, dist2), [[assignToCentroids]]'
    * exact shape.
    */
  def assignToCentroidsHier(vecs: DataFrame, centroids: DataFrame,
      nProbe: Int = 2, itersSuper: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val rows = centroids.select(col("cell").cast("int"),
      col("centroid")).collect()
    val cellIds = rows.map(_.getInt(0))
    val mat = rows.map(_.getSeq[Float](1).toArray)
    val kSuper = math.max(1, math.ceil(math.sqrt(cellIds.length.toDouble)).toInt)
    // coarse-quantize the centroids themselves (k-row frame)
    val spark = centroids.sparkSession
    import spark.implicits._
    val centFrame = cellIds.zip(mat.map(_.toSeq))
      .toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val (superAssign, superCents) =
      kmeansModel(centFrame, kSuper, itersSuper)
    val superOf = superAssign.select(col("vec_id").cast("int"), col("cell"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val superRows = superCents.select(col("cell").cast("int"), col("cvec"))
      .collect()
    val table = new graft.plans.HierCentroidTable(
      cellIds, mat, cellIds.map(superOf),
      superRows.map(_.getInt(0)),
      superRows.map(_.getSeq[Float](1).toArray), nProbe)
    val nc = graft.plans.VecExpressions.nearestCellHier(col(vecCol), table)
    vecs.select(col(idCol), col(vecCol), nc.as("__nc"))
      .select(col(idCol), col(vecCol),
        col("__nc.cell").as("cell"), col("__nc.dist2").as("dist2"))
  }

  /** Nearest-centroid assignment: (idCol, vecCol, cell, dist2).
    *
    * MAP-ONLY: the k-row centroid table is collected (the same driver +
    * executor footprint as the `broadcast(centroids)` it replaces) and
    * the whole k×d argmin runs as one compiled loop per row
    * (the nearest_cell kernel, [[graft.plans.NearestCell]]) — no n·k candidate rows are ever
    * materialized, no shuffle, no aggregate. Profiled at 32k vecs ×
    * 500 cells × 128 dims: 23.8 s as a broadcast-cross-join candidate
    * stream (whose struct-typed argmin buffer forces a sort-based
    * aggregate), sub-second compiled. A further win is structural:
    * iterating consumers (k-means) no longer nest lineage, because each
    * iteration's dependency flows through the bounded collected table,
    * not a plan subtree.
    *
    * dist² is round(greatest(0, x·x − 2·x·c + c·c), 6) with ties to the
    * smallest cell — arithmetic, rounding (HALF_UP; clamp BEFORE round
    * so float cancellation can't yield −0.0), and double ordering
    * bit-identical to the declarative form, which every k-means/IVF/PQ
    * oracle depends on.
    *
    * Regime note (100 TB): k is bounded by what one executor holds —
    * the SAME bound the broadcast form had. Beyond that (k in the
    * millions), the standard composition is hierarchical: coarse-assign
    * against a sampled/trained top level, then this again within the
    * coarse cell (see [[deriveKCells]]' scaladoc).
    */
  private[functions] def assignCells(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val rows = cents.select(col("cell").cast("int"), col("cvec")).collect()
    val cellIds = rows.map(_.getInt(0))
    val mat = rows.map(_.getSeq[Float](1).toArray)
    val nc = graft.plans.VecExpressions.nearestCell(col(vecCol), cellIds, mat)
    corpus.select(col(idCol), col(vecCol), nc.as("__nc"))
      .select(col(idCol), col(vecCol),
        col("__nc.cell").as("cell"), col("__nc.dist2").as("dist2"))
  }

  /** IVF-style ANN: coarse-quantize the corpus into cells, then probe only
    * the `nProbe` cells whose centroids are most similar to each query.
    *
    * `cellCol` names an existing coarse assignment (any clustering or
    * domain partition works — at 100 TB the cell id is typically
    * precomputed and the corpus is partitioned/bucketed by it, so a probe
    * touches only its cells' files). Centroids are computed here with one
    * posexplode + groupBy average — a single partial-aggregable shuffle of
    * (cell, dim) pairs.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      cellCol: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame =
    ivfMemo(corpus, queries, k, nProbe, cellCol, idCol, vecCol,
        excludeSelf) {
      ivfTopKUncached(corpus, queries, k, nProbe, cellCol, idCol, vecCol,
        excludeSelf).localCheckpoint(true)
    }

  private[graft] def ivfTopKUncached(corpus: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, cellCol: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val centroids = groupCentroids(
      corpus.select(col(cellCol).as("cell"), col(vecCol)), "cell", vecCol)

    val probed = probeCells(queries, centroids, nProbe, idCol, vecCol)
    // brute force only within the probed cells.
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("vc"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("nc"))
    simTopK(probedCandidates(probed, c, excludeSelf), "qv", "vc", k)
  }

  /** IVF with a LEARNED coarse quantizer: k-means cells instead of a
    * pre-existing domain partition — the standard IVF build (cluster,
    * assign, probe). `kmeans` supplies bit-deterministic cells, so the
    * whole composition stays oracle-reproducible; `ivfTopK` recomputes
    * the probe centroids from the final assignment with the same
    * decimal-exact means the training iterations used.
    *
    * At 100 TB the assignment join below is the one extra cost over a
    * precomputed cell column — one equi-join on the id, after which the
    * corpus would be written bucketed by `cell` so probes touch only
    * their cells' files. Training cost is kmeans' (broadcast k centroids
    * + one partial-aggregable groupBy per iteration); at real scale one
    * trains on a sample and assigns the full corpus in a map-only pass.
    */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, kCells: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val cells = kmeans(corpus, kCells, iters, idCol, vecCol)
      .select(col(idCol), col("cell"))
    val assigned = corpus.select(col(idCol), col(vecCol))
      .join(cells, Seq(idCol))
    ivfTopK(assigned, queries, k, nProbe, "cell", idCol, vecCol, excludeSelf)
  }

  /** IVF-PQ serving (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search" — the standard 100 TB ANN layout): the
    * coarse probe prunes to nProbe cells, candidates inside them are
    * scored by ADC — asymmetric distance computation, the query against
    * each candidate's PQ RECONSTRUCTION. Scoring against the
    * reconstruction IS the m-lookup ADC table sum (dot(q, recon) =
    * Σ_s dot(q_s, codeword_s), exactly, because the engine's dot
    * products accumulate decimal-exact — order-free), so the relational
    * form and the LUT form are the same number. The ADC shortlist
    * (top `shortlist` per query) is reranked with exact float cosine to
    * top-k — the refine step that repairs quantization-induced ordering
    * drift inside the shortlist.
    *
    * At rest the probed data is CODES — m·log2(kCodes) bits per vector
    * (m·ceil bytes here) — which is what makes the layout an index: the
    * persisted form ([[VecIndex.writeIvfPqIndex]]) stores codes
    * partitioned by cell and reads only probed partitions; only the
    * shortlist ever touches exact floats.
    *
    * Output: (query_id, neighbor_id, sim, rank) — sim the exact rerank
    * cosine, rank ≤ k.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      cellCol: String, m: Int, subDim: Int, kCodes: Int, iters: Int,
      shortlist: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val (codes, codebook) =
      Quant.pqModel(corpus, m, subDim, kCodes, iters, idCol, vecCol)
    val recon = Quant.pqReconstruct(codes, codebook, idCol)
      .withColumnRenamed("embedding", "__rv")
      .join(corpus.select(col(idCol), col(cellCol).as("cell")), Seq(idCol))
      .select(col(idCol), col("cell"), col("__rv"))
    ivfPqServe(corpus, queries, recon, k, nProbe, cellCol, shortlist,
      idCol, vecCol, excludeSelf)
  }

  /** RESIDUAL-encoded IVF-PQ (the FAISS IVFPQ default): PQ codebooks
    * are trained on the RESIDUALS x − centroid(cell(x)) rather than
    * the raw vectors — residuals concentrate near zero, so the same
    * kCodes codewords spend their resolution on the within-cell
    * geometry instead of re-encoding the coarse position the cell id
    * already carries; reconstruction adds the centroid back
    * (x̂ = c + r̂). Float truncation points (residual cast, recon cast)
    * are engine-identical REAL casts, so the whole chain stays under
    * the hash oracle. Serving (probe, ADC, shortlist, exact rerank)
    * is [[ivfPqTopK]]'s tail verbatim.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, cellCol: String, m: Int, subDim: Int, kCodes: Int,
      iters: Int, shortlist: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    // Centroids (cell-domain) and residuals (corpus-sized, narrow),
    // computed ONCE and checkpointed: the three centroid consumers
    // (residuals, reconstruction, the serve tail's coarse probe) each
    // embedded their own copy of the aggregation, and the LAZY residual
    // table fed pqModel's m concurrent sub-quantizer trainings, whose
    // per-iteration centroid collects are ACTIONS — every one re-ran
    // the corpus join + subtract. The pair is memoized on the corpus
    // plan so the residual ladder's entries (topk/recall) keep handing
    // pqModel the SAME checkpoint — its plan-keyed memo still hits
    // across entries.
    val (centroids, resid) = residMemo(corpus, cellCol, idCol, vecCol) {
      val cents = groupCentroids(
        corpus.select(col(cellCol).as("cell"), col(vecCol)), "cell", vecCol)
        .localCheckpoint(true)
      val res = corpus.select(col(idCol), col(cellCol).as("cell"),
          col(vecCol))
        .join(broadcast(cents), Seq("cell"))
        .select(col(idCol), col("cell"),
          zip_with(col(vecCol), col("centroid"),
            (x, c) => (x.cast("double") - c.cast("double")).cast("float"))
            .as(vecCol))
        .localCheckpoint(true)
      (cents, res)
    }
    val (codes, codebook) = Quant.pqModel(
      resid.select(col(idCol), col(vecCol)), m, subDim, kCodes, iters,
      idCol, vecCol)
    val recon = resid.select(col(idCol), col("cell"))
      .join(Quant.pqReconstruct(codes, codebook, idCol)
        .withColumnRenamed("embedding", "__rr"), Seq(idCol))
      .join(broadcast(centroids), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("centroid"), col("__rr"),
          (c, r) => (c.cast("double") + r.cast("double")).cast("float"))
          .as("__rv"))
    ivfPqServe(corpus, queries, recon, k, nProbe, cellCol, shortlist,
      idCol, vecCol, excludeSelf, Some(centroids))
  }

  /** The shared IVF-PQ serving tail: coarse probe over exact-corpus
    * centroids, ADC against `recon` (idCol, cell, __rv) within probed
    * cells, top-`shortlist` ADC ranks, exact-cosine rerank to top-k.
    */
  private def ivfPqServe(corpus: DataFrame, queries: DataFrame,
      recon: DataFrame, k: Int, nProbe: Int, cellCol: String,
      shortlist: Int, idCol: String, vecCol: String,
      excludeSelf: Boolean,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(groupCentroids(
      corpus.select(col(cellCol).as("cell"), col(vecCol)), "cell", vecCol))
    val probed = probeCells(queries, centroids, nProbe, idCol, vecCol)
    // ADC within the probed cells only
    val c = recon.select(col("cell"), col(idCol).as("neighbor_id"),
      col("__rv"),
      sqrt(graft.plans.VecExpressions.dotProduct(col("__rv"), col("__rv")))
        .as("nc"))
    val candidates = probedCandidates(probed, c, excludeSelf)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val sl = candidates
      .withColumn("__adc", pairSim(col("qv"), col("__rv"), col("nq"), col("nc")))
      .withColumn("__srk", row_number().over(wAdc))
      .filter(col("__srk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    // exact rerank of the shortlist (shortlist·|queries| rows only);
    // query vectors come from the QUERY frame (external query sets
    // need not exist in the corpus)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qe"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__ne"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sl.join(qv, Seq("query_id")).join(nv, Seq("neighbor_id"))
      .withColumn("sim", cosine(col("__qe"), col("__ne")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** SemDedup-style candidate pairs: cosine near-dups WITHIN k-means
    * cells only. The cell equi-join replaces the all-pairs product, so
    * compute is sum-of-cell-squares instead of corpus² — the scale-safe
    * semantic-dedup blocking (SemDedup, Abbas et al. 2023, arXiv:
    * 2303.09540): semantically close vectors land in the same cell, so
    * in-cell pairs capture the dup mass while cross-cell pairs (distant
    * by construction) are skipped. Same prefilter-then-verify shape as
    * the LSH paths, with a LEARNED partition instead of a random one.
    *
    * kCells must GROW with the corpus (cells stay ~bounded) or the
    * in-cell pair stage goes quadratic — prefer [[semDedupAuto]],
    * which derives kCells via [[deriveKCells]] instead of trusting the
    * caller to uphold that contract.
    */
  def semDedupPairs(corpus: DataFrame, threshold: Double, kCells: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semDedupPairsCelled(
      celled(corpus, kCells, iters, idCol, vecCol), threshold, idCol, vecCol)
      .select(col("id_a"), col("id_b"), col("sim"))

  /** (cell, idCol, vecCol, nrm): the corpus with its k-means cell and
    * precomputed norm — the shared front of every cell-blocked operator,
    * built ONCE so pair generation and the component universe read the
    * same assignment instead of re-training.
    */
  private def celled(corpus: DataFrame, kCells: Int, iters: Int,
      idCol: String, vecCol: String): DataFrame = {
    val cells = kmeans(corpus, kCells, iters, idCol, vecCol)
      .select(col(idCol), col("cell"))
    corpus.select(col(idCol), col(vecCol))
      .join(cells, Seq(idCol))
      .select(col("cell"), col(idCol), col(vecCol),
        sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
          .as("nrm"))
  }

  /** [[semDedupPairs]] body over a prebuilt [[celled]] frame, KEEPING the
    * cell on each pair — block-local CC consumes it directly.
    */
  private def semDedupPairsCelled(bucketed: DataFrame, threshold: Double,
      idCol: String, vecCol: String): DataFrame = {
    val a = bucketed.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = bucketed.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val sim = pairSim(col("va"), col("vb"), col("na"), col("nb"))
    // one cell per vector → each pair emitted at most once (cf.
    // lshNearDupPairs); no trailing distinct needed.
    a.join(b, a("cell") === b("cell") &&
        col("id_a") < col("id_b") && sim >= threshold)
      .withColumn("sim", sim)
      .select(a("cell"), col("id_a"), col("id_b"), col("sim"))
  }

  /** Full SemDedup assignment: cluster in-cell near-dup pairs into
    * connected components and label every vector with its dup-group id
    * (min reachable id), group size, and the keep/drop flag. Drop policy
    * = keep the smallest id per group (deterministic); filter on
    * `is_rep` (or `Cluster.representatives`) to materialize the deduped
    * corpus. Pairs come from `semDedupPairs`; the component pass is the
    * same checkpointed min-label propagation as the MinHash path — at
    * 100 TB both stages are cell-/key-blocked equi-joins, nothing
    * quadratic in the corpus.
    */
  def semDedup(corpus: DataFrame, threshold: Double, kCells: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Edges never span cells, so components are CELL-LOCAL: one grouped
    // union-find pass (Cluster.blockedAssignClusters) replaces the
    // iterative global label loop — no per-round joins or checkpoints.
    val bucketed = celled(corpus, kCells, iters, idCol, vecCol)
    val pairs = semDedupPairsCelled(bucketed, threshold, idCol, vecCol)
    Cluster.blockedAssignClusters(pairs, "cell", "id_a", "id_b",
      bucketed.select(col("cell"), col(idCol)), idCol)
  }

  /** Mutual-kNN pairs WITHIN k-means cells: an undirected edge survives
    * iff each endpoint ranks the other in its top-`k` in-cell neighbors.
    * The mutuality requirement is what makes the graph a CLUSTERING
    * topology rather than a threshold graph: hubs (vectors close to
    * everything) list many neighbors, but only reciprocated preferences
    * become edges, so dense regions stay internally connected while hub
    * chaining across unrelated groups is cut — and no similarity
    * threshold has to be tuned per corpus.
    *
    * Same cell blocking as [[semDedupPairs]] (compute is sum of
    * cell²·k, never corpus²; at 100 TB the corpus is bucketed by cell so
    * the self-join is co-located), then one query-keyed window for the
    * top-k and one self-semi-join for reciprocity — all equi-keyed.
    * Output: (id_a, id_b, sim) with id_a < id_b, each pair once.
    *
    * As with semDedupPairs, kCells must grow with the corpus — prefer
    * [[mutualKnnClustersAuto]] ([[deriveKCells]]) over a fixed kCells.
    */
  def mutualKnnPairs(corpus: DataFrame, k: Int, kCells: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    mutualKnnPairsCelled(
      celled(corpus, kCells, iters, idCol, vecCol), k, idCol, vecCol)
      .select(col("id_a"), col("id_b"), col("sim"))

  /** [[mutualKnnPairs]] body over a prebuilt [[celled]] frame, keeping
    * the cell on each pair. Reciprocity is resolved in ONE pass over the
    * directed top-k instead of a self-semi-join (which would recompute
    * the whole join + window subtree for the reversed side): cosine here
    * is orientation-symmetric bit-for-bit — dot(a,b) folds the same
    * products in the same index order as dot(b,a), and na·nb = nb·na —
    * so grouping directed edges by the unordered pair and demanding BOTH
    * orientations (count = 2) is exactly the mutual-top-k condition, at
    * one extra cell-local shuffle instead of a second plan evaluation.
    */
  private def mutualKnnPairsCelled(bucketed: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = bucketed.select(col("cell"), col(idCol).as("query_id"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = bucketed.select(col("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val directed = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", pairSim(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("cell"), col("query_id"), col("neighbor_id"), col("sim"))
    directed
      .groupBy(col("cell"),
        least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"))
      .agg(count(lit(1)).as("__orient"), max(col("sim")).as("sim"))
      .filter(col("__orient") === 2)
      .select(col("cell"), col("id_a"), col("id_b"), col("sim"))
  }

  /** Threshold-free semantic clustering: connected components over the
    * [[mutualKnnPairs]] graph, every vector labeled (idCol, component,
    * csize, is_rep). The mutual-kNN analog of [[semDedup]] — use it when
    * no cosine threshold is defensible for the corpus (clusters of
    * varying tightness); use semDedup when a near-dup threshold IS the
    * spec. Same checkpointed min-label propagation as every other
    * component pass.
    */
  def mutualKnnClusters(corpus: DataFrame, k: Int, kCells: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Cell-local edges ⇒ cell-local components: grouped union-find, not
    // the iterative loop (see semDedup).
    val bucketed = celled(corpus, kCells, iters, idCol, vecCol)
    val pairs = mutualKnnPairsCelled(bucketed, k, idCol, vecCol)
    Cluster.blockedAssignClusters(pairs, "cell", "id_a", "id_b",
      bucketed.select(col("cell"), col(idCol)), idCol)
  }

  /** Cell count for the cell-blocked operators from the corpus size:
    * ceil(n / targetCellSize), at least 1. Keeping EXPECTED cell size at
    * `targetCellSize` makes the in-cell pair stage — the shuffling,
    * materializing, quadratic-per-cell stage — strictly linear in the
    * corpus (n·targetCellSize candidate pairs), which is the contract
    * the round-5 audit found documented but unenforced: with a
    * caller-FIXED kCells, cells grow with the corpus and the pair stage
    * goes quadratic (measured 2.8/7.0/47.9 s at 1×/4×/16×).
    *
    * Honest regime note: the derivation moves cost into the ASSIGNMENT
    * pass — n·kCells = n²/targetCellSize nearest-centroid dot products.
    * That pass is map-only compute against a broadcast (no shuffle, no
    * materialization; see [[assignCells]]), so its constant is ~d fused
    * multiply-adds per candidate and it stays off the critical path for
    * corpora many multiples beyond the probe range — but it is not
    * asymptotically linear. At extreme corpus sizes the standard
    * composition is: train the centroids on a SAMPLE, then cut
    * assignment itself with a coarse quantizer over the centroid table
    * (hierarchical IVF). Both are compositions of operators already
    * here (sample → kmeansModel → assignToCentroids).
    */
  def deriveKCells(n: Long, targetCellSize: Long): Int = {
    require(targetCellSize >= 1,
      s"targetCellSize must be >= 1, got $targetCellSize")
    val k = (n + targetCellSize - 1L) / targetCellSize
    math.max(1L, math.min(k, Int.MaxValue.toLong)).toInt
  }

  /** [[semDedup]] with kCells derived from the corpus size
    * ([[deriveKCells]]) — one bounded count (a 1-row aggregate), then
    * the kCells path. Default targetCellSize = 64 reproduces the
    * catalog's kCells at the oracle scale and keeps in-cell pair mass
    * at ≤ 64·n at any corpus size.
    */
  def semDedupAuto(corpus: DataFrame, threshold: Double, iters: Int,
      targetCellSize: Long = 64L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semDedup(corpus, threshold,
      deriveKCells(corpus.count(), targetCellSize), iters, idCol, vecCol)

  /** [[mutualKnnClusters]] with auto-derived kCells (see
    * [[deriveKCells]]).
    */
  def mutualKnnClustersAuto(corpus: DataFrame, k: Int, iters: Int,
      targetCellSize: Long = 64L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    mutualKnnClusters(corpus, k,
      deriveKCells(corpus.count(), targetCellSize), iters, idCol, vecCol)

  /** Bucketed approximate top-k: brute force within each LSH bucket.
    * Recall is tunable via nBits (fewer bits = bigger buckets = higher
    * recall, more compute).
    */
  /** Self-search by construction (query set == corpus), so self-exclusion
    * is always correct here.
    */
  def lshTopK(vecs: DataFrame, k: Int, nBits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = vecs.select(col(idCol), col(vecCol),
      rpLshBucket(col(vecCol), nBits).as("bucket"),
      sqrt(graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)))
        .as("nrm"))
    val a = b.select(col("bucket"), col(idCol).as("query_id"),
      col(vecCol).as("vq"), col("nrm").as("nq"))
    val c = b.select(col("bucket"), col(idCol).as("neighbor_id"),
      col(vecCol).as("vc"), col("nrm").as("nc"))
    simTopK(a.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id")), "vq", "vc", k)
  }

  /** Greedy k-center (farthest-point-first) selection — the classic
    * 2-approximation to the metric k-center coverage problem and the
    * standard DIVERSITY-maximizing coreset/data-selection heuristic
    * (pick the point farthest from everything picked so far): where
    * k-means-stratified sampling balances cluster MASS, k-centers covers
    * cluster EXTENT, deliberately reaching outliers and rare modes.
    *
    * Deterministic end to end: seed = smallest-id vector (no RNG, same
    * convention as kmeans init); per round the squared L2 to each center
    * is rounded to 6 places (kmeans' assignment arithmetic, via the same
    * codegen'd dot products) and the farthest point wins with a min-id
    * tie-break. Points at rounded distance 0 from a chosen center (the
    * centers themselves, and their exact duplicates) are never selected;
    * if every remaining point is such a duplicate the selection stops
    * early with fewer than k rows.
    *
    * Scale shape: the min-distance state is INCREMENTAL — each round
    * broadcasts only the ONE new center, folds it into the running
    * per-point minimum with `least` (equal to the min over all chosen
    * centers, since rounding happens per-center before the fold), and
    * takes one bounded TakeOrdered(1) argmax. k rounds cost k linear
    * map passes + k single-row reductions — never corpus × k² — with
    * the state localCheckpoint'ed per round (and the superseded round's
    * blocks freed) exactly like the connected-components loop.
    *
    * Output: (sel_round 1..k, idCol, radius2) in selection order, where
    * radius2 is the chosen point's min squared distance to the earlier
    * centers at selection time — the nonincreasing coverage-radius
    * sequence (round 1 emits 0.0: no prior centers).
    */
  def kCenters(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.GraftBridge
    val dot = graft.plans.VecExpressions.dotProduct _
    val pts = corpus.select(col(idCol), col(vecCol))
    val first = pts.orderBy(col(idCol).asc).limit(1)
      .select(col(idCol), col(vecCol), lit(0.0).as("dmin"))
      .localCheckpoint(true)
    var picks = Vector(first)
    var lastPick = first
    var run: DataFrame = null
    var r = 1
    var exhausted = first.isEmpty // empty corpus: return an empty frame
    while (r < k && !exhausted) {
      val c = broadcast(lastPick.select(col(vecCol).as("cvec")))
      val d2 = round(greatest(lit(0.0),
        dot(col(vecCol), col(vecCol)) -
          lit(2.0) * dot(col(vecCol), col("cvec")) +
          dot(col("cvec"), col("cvec"))), 6)
      val upd = (if (run == null) pts.crossJoin(c).withColumn("dmin", d2)
        else run.crossJoin(c)
          .withColumn("dmin", least(col("dmin"), d2)))
        .select(col(idCol), col(vecCol), col("dmin"))
      val next = upd.localCheckpoint(true)
      if (run != null) GraftBridge.unpersistCheckpoint(run)
      run = next
      val pick = run.filter(col("dmin") > 0)
        .orderBy(col("dmin").desc, col(idCol).asc).limit(1)
        .localCheckpoint(true)
      if (pick.isEmpty) exhausted = true
      else { picks :+= pick; lastPick = pick; r += 1 }
    }
    if (run != null) GraftBridge.unpersistCheckpoint(run)
    picks.zipWithIndex.map { case (df, i) =>
      df.select(lit(i + 1).as("sel_round"), col(idCol),
        col("dmin").as("radius2"))
    }.reduce(_.union(_))
  }

  /** Linear-kernel maximum mean discrepancy between group embedding
    * distributions — the embedding-space drift card beside the token
    * layer's PSI/KS/JS: with the linear kernel, MMD² collapses to the
    * squared distance between group MEANS, ||μ_a - μ_b||², so the
    * whole statistic rides [[groupCentroids]]' order-free decimal-exact
    * means (one partial-aggregable pass) and a bounded group-pair
    * cross — no point-pair kernel matrix, which is what makes richer
    * kernels quadratic and unusable at corpus scale. Zero means no
    * distributional shift in the first moment; rising values per
    * ingest batch are the retraining signal. Distances are the
    * engine's standard rounded-6 doubles over REAL-rounded centroids.
    * Output: (g_a, g_b, n_a, n_b, mmd2) with g_a < g_b.
    */
  def mmdLinear(vecs: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val cents = groupCentroids(
      vecs.select(col(groupCol).as("__g"), col(vecCol)), "__g", vecCol)
    val n = vecs.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val g = broadcast(cents.join(n, Seq("__g")))
    val a = g.select(col("__g").as("g_a"), col("centroid").as("__ca"),
      col("__n").as("n_a"))
    val b = g.select(col("__g").as("g_b"), col("centroid").as("__cb"),
      col("__n").as("n_b"))
    val d2 = round(greatest(lit(0.0),
      graft.plans.VecExpressions.dotProduct(col("__ca"), col("__ca")) -
        lit(2.0) * graft.plans.VecExpressions.dotProduct(col("__ca"),
          col("__cb")) +
        graft.plans.VecExpressions.dotProduct(col("__cb"), col("__cb"))),
      6)
    a.join(b, col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        d2.as("mmd2"))
  }

  /** SIMPLIFIED silhouette per point over the [[kmeansModel]]
    * clustering (memo-shared with every other k-means consumer) — the
    * cluster-quality card: a2 = squared distance to the own centroid,
    * b2 = the smallest squared distance to any OTHER centroid,
    * sil = (b2 - a2) / max(a2, b2) in [-1, 1] (negative = the point
    * sits closer to a foreign centroid — a mis-clustered or boundary
    * point). The centroid-based simplification (Hartigan) keeps it
    * sqrt-free AND linear: distances go point→k centroids, never
    * point→point; the full silhouette's pairwise form is quadratic
    * and adds nothing at corpus scale. Distances are the k-means
    * assignment's own rounded-6 doubles, so a2 matches dist2
    * bit-for-bit; sil is one deterministic division rounded to 6.
    * Both-zero distances (a point ON two centroids) render sil 0.
    * Output: (idCol, cell, a2, b2, sil).
    *
    * Scale: one broadcast of the k-row codebook, map-only distance
    * fan-out (k rows per point), one point-keyed partial aggregate.
    */
  def silhouette(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (assigned, cents) = kmeansModel(corpus, k, iters, idCol, vecCol)
    val d2 = round(greatest(lit(0.0),
      graft.plans.VecExpressions.dotProduct(col(vecCol), col(vecCol)) -
        lit(2.0) * graft.plans.VecExpressions.dotProduct(col(vecCol),
          col("cvec")) +
        graft.plans.VecExpressions.dotProduct(col("cvec"), col("cvec"))),
      6)
    val all = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents.select(col("cell").as("__c"),
        col("cvec"))))
      .select(col(idCol), col("__c"), d2.as("__d2"))
    val own = assigned.select(col(idCol), col("cell"))
    all.join(own, Seq(idCol))
      .groupBy(col(idCol), col("cell"))
      .agg(min(when(col("__c") === col("cell"), col("__d2"))).as("a2"),
        min(when(col("__c") =!= col("cell"), col("__d2"))).as("b2"))
      .select(col(idCol), col("cell").cast("long").as("cell"), col("a2"),
        col("b2"),
        when(greatest(col("a2"), col("b2")) === 0.0, lit(0.0))
          .otherwise(round((col("b2") - col("a2")) /
            greatest(col("a2"), col("b2")), 6)).as("sil"))
  }

  /** Grid-blocked DBSCAN (Ester et al. 1996, KDD'96) over the first two
    * embedding dimensions — the density rung of the clustering family:
    * k-means/k-center partition EVERY point into a fixed k; DBSCAN finds
    * arbitrary-shape dense regions and labels sparse points noise, the
    * shape corpus cartography needs over a 2-D projection (the matryoshka
    * prefix plane here; a PCA projection composes the same way).
    *
    * Exact, not approximate: the grid (cell side = eps) is a BLOCKING
    * device only. Any pair within eps differs by at most eps per axis, so
    * it lands within one cell offset and the 3x3-neighborhood join
    * enumerates every eps-pair exactly once (each point probes 9 distinct
    * cells; the neighbor's home cell is unique) — the O(n²) all-pairs
    * join never happens. Neighborhood counts include the point itself
    * (|N_eps(p)| >= minPts, the paper's / sklearn's convention). Core
    * points cluster via the house checkpointed min-label connected
    * components over core-core eps-edges; a border point (non-core with a
    * core neighbor) joins its smallest neighboring core's cluster;
    * everything else is noise.
    *
    * Determinism: coordinates are float->double (exact); dist² and eps²
    * are fixed-shape double expressions the oracle repeats verbatim;
    * cluster label = min core id of the component; border tie-break =
    * min cluster label; noise labeled -1.
    *
    * Scale shape: one linear pass to cell keys, a cell-equi-join whose
    * cost is Σ products of adjacent-cell sizes — linear for bounded
    * density, which is DBSCAN's own operating contract (a cell denser
    * than minPts·O(1) is all-core and could be short-circuited; not
    * needed at these SFs) — then TWO-LEVEL components over the core
    * edges ([[Cluster.tiledComponents]]): eps-graphs percolate into thin
    * chains whose hop diameter grows with spatial extent, so the
    * iterative min-label loop alone needs diameter-driven rounds (it
    * measured past a 20-round cap on the sf0.1 graph); the per-tile
    * union-find (tiles of `tileCells`×`tileCells` cells, state bounded
    * by tile occupancy) collapses everything intra-tile in one grouped
    * pass and the loop only crosses TILE boundaries. No driver-side
    * data, no unconditionally-quadratic stage.
    *
    * Output: (idCol, role core|border|noise, cluster) — one row per
    * input vector, cluster = -1 for noise.
    */
  def dbscanGrid(vecs: DataFrame, eps: Double, minPts: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tileCells: Int = 32): DataFrame = {
    require(eps > 0.0, s"eps must be > 0, got $eps")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    require(tileCells >= 1, s"tileCells must be >= 1, got $tileCells")
    // Not checkpointed: only probes/owners read it, and re-running the
    // column-pruned scan twice inside the nbr job is cheaper than a
    // separate materialization action.
    val pts = vecs.select(
        col(idCol).cast("long").as("__id"),
        element_at(col(vecCol), 1).cast("double").as("__x"),
        element_at(col(vecCol), 2).cast("double").as("__y"))
      .withColumn("__cx", floor(col("__x") / lit(eps)).cast("long"))
      .withColumn("__cy", floor(col("__y") / lit(eps)).cast("long"))
    // Tile id of a cell: packed (tileX, tileY) longs — the per-vertex
    // blocking key for the two-level components (collision-free while
    // |cy/tileCells| < 2^31, i.e. any real coordinate range).
    def tileOf(cx: Column, cy: Column): Column =
      floor(cx / lit(tileCells.toDouble)).cast("long") *
        lit(4294967296L) +
        pmod(floor(cy / lit(tileCells.toDouble)).cast("long"),
          lit(4294967296L))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val probes = pts.select(col("__id").as("ia"), col("__x").as("xa"),
        col("__y").as("ya"),
        tileOf(col("__cx"), col("__cy")).as("tile_a"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("__cx") + dx).as("cx"), (col("__cy") + dy).as("cy"))
        }: _*)).as("__c"))
      .select(col("ia"), col("xa"), col("ya"), col("tile_a"),
        col("__c.cx").as("cx"), col("__c.cy").as("cy"))
    val owners = pts.select(col("__id").as("ib"), col("__x").as("xb"),
      col("__y").as("yb"), tileOf(col("__cx"), col("__cy")).as("tile_b"),
      col("__cx").as("cx"), col("__cy").as("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    // Directed eps-neighbor list, self included (the core test counts it).
    val nbr = probes.join(owners, Seq("cx", "cy"))
      .filter(d2 <= lit(eps * eps))
      .select(col("ia"), col("ib"), col("tile_a"), col("tile_b"))
      .localCheckpoint(true)
    // tile_a is a function of ia, so grouping by both keeps it along.
    val core = nbr.groupBy(col("ia"), col("tile_a"))
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts)
      .select(col("ia").as("__id"), col("tile_a").as("__tile"))
      .localCheckpoint(true)
    val coreEdges = nbr
      .join(core.select(col("__id").as("ia")), Seq("ia"))
      .join(core.select(col("__id").as("ib")), Seq("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        col("tile_a"), col("tile_b"))
    val comp = Cluster.tiledComponents(coreEdges, "id_a", "id_b",
      "tile_a", "tile_b", core, "__id", "__tile")
    // One assembly pass over nbr (every point self-neighbors, so every
    // point has a row): a point's min core-neighbor component (comp only
    // labels cores, so the outer join doubles as the "neighbor is core"
    // filter), then its own core component. Core label wins; a non-core
    // with a core neighbor is a border on the smallest such cluster;
    // everything else is noise. No anti-joins, no union legs.
    val out = nbr
      .join(comp.select(col("__id").as("ib"), col("component")),
        Seq("ib"), "left_outer")
      .groupBy(col("ia"))
      .agg(min(col("component")).as("__nc"))
      .join(comp.select(col("__id").as("ia"),
        col("component").as("__cc")), Seq("ia"), "left_outer")
    out.select(col("ia").as(idCol),
      when(col("__cc").isNotNull, lit("core"))
        .when(col("__nc").isNotNull, lit("border"))
        .otherwise(lit("noise")).as("role"),
      coalesce(col("__cc"), col("__nc"), lit(-1L)).cast("long")
        .as("cluster"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    * SIGIR'98): diversity-aware top-k over a cosine shortlist — the step
    * between "retrieve nearest" and "retrieve nearest that aren't k
    * copies of one passage" every RAG/hard-negative pipeline ships.
    * Greedily selects k of the `shortlist` nearest candidates; at each
    * step the pick maximizes
    *   lambda·rel(c) − (1−lambda)·max_{s∈selected} sim(c, s)
    * (rel = cosine(query, c), sim = cosine(c, s), both rounded to 6 — the
    * house cross-engine contract; the empty-set max is 0, so the first
    * pick is the plain nearest neighbor). Ties break by neighbor id.
    *
    * Determinism: both rel and sim are the rounded house cosine; the MMR
    * score is a fixed-shape double expression of those rounded inputs, so
    * it is bit-identical in any IEEE engine and the oracle replays the
    * greedy loop verbatim (unrolled k steps). The REPORTED score is
    * integer-scaled (mmr_e7 = round(score·1e7), a BIGINT): the raw score
    * is an exact multiple of 1e-7 of its decimal inputs, so rounding it
    * to 6 places is a perpetual half-way tie that double-rounding breaks
    * differently per engine — scaling to the exact grid has no midpoint.
    *
    * Scale shape: the shortlist pass is [[bruteForceTopK]] (broadcast
    * queries, one corpus map stage — swap in the IVF/graph shortlist for
    * planet-scale corpora; the MMR stage only sees shortlisted rows). The
    * greedy loop runs k driver-bounded rounds over |queries|·shortlist
    * candidate rows and a |queries|·shortlist² pairwise-sim relation —
    * both bounded by configuration, linear in query count, never in
    * corpus size. Each round's selected set is checkpointed so the plan
    * stays k-bounded.
    *
    * Output: (query_id, rank 1..k, neighbor_id, rel, mmr_e7).
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int, lambda: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= shortlist,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val rel = bruteForceTopK(queries, corpus, shortlist, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val cand = rel.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__v")), Seq("neighbor_id"))
    val a = cand.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("__v").as("__va"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("id_b"),
      col("__v").as("__vb"))
    val ps = a.join(b, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        cosine(col("__va"), col("__vb"), 6).as("psim"))
      .localCheckpoint(true)
    val relCk = rel.localCheckpoint(true)
    // The greedy loop is PER-QUERY LOCAL: each query's k picks depend
    // only on its own shortlist rel scores and pairwise sims — a
    // |shortlist|²·k computation. The former k driver rounds (anti-join
    // + penalty join + window + checkpoint per round, even in a tuned
    // child session) paid ~0.2 s/round of pure plan latency on
    // |queries|·shortlist-bounded frames; one cogroup replaces them.
    // Parity: the pick comparisons use the SAME IEEE doubles (rel and
    // psim come from the checkpoints unchanged; the score is the same
    // λ·rel − (1−λ)·mx expression), ties break by neighbor_id asc
    // exactly like the former row_number window, and the GATED integer
    // (mmr_e7) is still rendered by the same Spark SQL round(·) — the
    // local pass decides only the selection order and carries mx.
    val kk = k
    val lam = lambda
    // NULL guards (advisor round 11): the house cosine yields NULL for
    // zero-norm or null-element vectors — a primitive getDouble would
    // NPE where the former window ordered NULLs last. NULL rel rows are
    // dropped (never pickable ahead of any real score); a missing psim
    // never raises the running max, and an all-missing neighborhood
    // penalizes 0 — degenerate-input behavior only, the catalog data
    // has no zero-norm vectors.
    val relKV = relCk.rdd.filter(r => !r.isNullAt(2))
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
    val psKV = ps.rdd.filter(r => !r.isNullAt(3))
      .map(r => (r.getLong(0), ((r.getLong(1), r.getLong(2)), r.getDouble(3))))
    val picked = relKV.cogroup(psKV).flatMap { case (qid, (cs, prs)) =>
      // duplicate corpus ids would otherwise leave `used` permanently
      // short of cands.length and emit phantom rows (advisor round 11)
      val cands = cs.toArray.distinct
      val sim = prs.toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      val used = scala.collection.mutable.HashSet.empty[Long]
      val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var step = 1
      var exhausted = false
      while (!exhausted && step <= kk && used.size < cands.length) {
        var any = false
        var bid = 0L; var bscore = 0.0; var brel = 0.0; var bmx = 0.0
        for ((id, rv) <- cands if !used(id)) {
          var mx = 0.0
          if (sel.nonEmpty) {
            var m = java.lang.Double.NEGATIVE_INFINITY
            for (s <- sel) {
              val p = sim.getOrElse((id, s), java.lang.Double.NEGATIVE_INFINITY)
              if (p > m) m = p
            }
            mx = if (m == java.lang.Double.NEGATIVE_INFINITY) 0.0 else m
          }
          val sc = lam * rv - (1.0 - lam) * mx
          if (!any || sc > bscore || (sc == bscore && id < bid)) {
            any = true; bid = id; bscore = sc; brel = rv; bmx = mx
          }
        }
        if (!any) exhausted = true
        else {
          rows += org.apache.spark.sql.Row(qid, step.toLong, bid, brel, bmx)
          used += bid; sel += bid
          step += 1
        }
      }
      rows
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("__mx",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    queries.sparkSession.createDataFrame(picked.toJavaRDD(), schema)
      .localCheckpoint(true)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("rel"),
        round((lit(lambda) * col("rel") -
            (lit(1.0) - lit(lambda)) * col("__mx")) * lit(1e7), 0)
          .cast("long").as("mmr_e7"))
  }

  /** Facility-location greedy selection (the submodular-coverage coreset:
    * Nemhauser/Wolsey/Fisher 1978 greedy on F(S) = Σ_v max_{s∈S} sim(v,s),
    * the standard embedding-based data-selection objective — pick the k
    * examples that best COVER the corpus, with the classic 1−1/e
    * guarantee). The complement of [[kCenters]] (max-min spread) and
    * stratified sampling (per-cell quotas): coverage weights dense
    * regions by mass instead of spreading to outliers.
    *
    * Arithmetic contract: similarities are the rounded house cosine
    * scaled to exact 1e6-grid LONGS and clipped at 0 (facility location
    * needs a non-negative utility; anti-correlated vectors contribute no
    * coverage). All gains and coverage updates are integer sums —
    * order-free, overflow-safe to |universe| ≈ 9·10¹² at full coverage —
    * so greedy ties are EXACT and break by candidate id identically in
    * any engine; the oracle unrolls the same k steps.
    *
    * Scale shape: the sims relation is |pool| × |universe| — pool is the
    * caller-bounded candidate set (broadcast side), so this is one
    * corpus map stage, linear in the universe; each of the k greedy
    * rounds is one join + one integer aggregate over it, plus a
    * 1-row-broadcast coverage update. Nothing is driver-side; nothing is
    * quadratic in the corpus.
    *
    * Output: (rank 1..k, idCol = the picked pool id, gain_e6 = the exact
    * marginal coverage gain).
    */
  def facilityLocationSelect(pool: DataFrame, universe: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p = pool.select(col(idCol).as("__c"), col(vecCol).as("__vc"))
    val u = universe.select(col(idCol).as("__v"), col(vecCol).as("__vu"))
    val sims0 = p.join(u)
      .select(col("__c"), col("__v"),
        greatest(lit(0L),
          round(cosine(col("__vc"), col("__vu"), 6) * lit(1e6), 0)
            .cast("long")).as("__s"))
      .localCheckpoint(true)
    // Greedy rounds as an RDD pass over the sims relation GROUPED PER
    // UNIVERSE POINT (one shuffle, done once): coverage cur(v) =
    // max_{s∈sel} sim(v,s) is a lookup inside v's own pool-sized row,
    // so a round is one mapPartitions (local per-candidate marginal
    // gains, pre-aggregated per partition) + one pool-domain
    // reduceByKey + one scalar argmax reduce — zero Catalyst. The
    // former DataFrame rounds (semi-join + aggregate per round, even
    // AQE-off in a tuned session) paid ~0.2 s/round of plan latency on
    // data this shape dwarfs. Integer gain sums are order-free
    // (Math.addExact keeps the SQL's ANSI loudness), and the argmax
    // tie-breaks by candidate id ascending — exactly the former
    // row_number(gain desc, id) window — so the selection is
    // bit-identical (DbscanMmrSpec pins it against a plain-Scala
    // greedy; the oracle unrolls the same k steps).
    val simsByV = sims0.rdd
      .map(r => (r.getLong(1), (r.getLong(0), r.getLong(2))))
      .groupByKey()
      .mapValues(_.toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simsByV.count(): Unit
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (step <- 1 to k) {
      val selIds = picks.map(_._2).toSet
      val gains = simsByV.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[Long, Long]
        for ((_, arr) <- it) {
          var cur = 0L
          if (selIds.nonEmpty) {
            for ((c, s) <- arr; if selIds.contains(c); if s > cur) cur = s
          }
          for ((c, s) <- arr; if !selIds.contains(c)) {
            val g = math.max(s - cur, 0L)
            acc.update(c, Math.addExact(acc.getOrElse(c, 0L), g))
          }
        }
        acc.iterator
      }.reduceByKey((x, y) => Math.addExact(x, y))
      if (!gains.isEmpty()) {
        val (bc, bg) = gains.reduce { (x, y) =>
          if (x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)) x else y
        }
        picks += ((step.toLong, bc, bg))
      }
    }
    simsByV.unpersist(false)
    import pool.sparkSession.implicits._
    picks.toSeq.toDF("rank", "__c", "gain_e6")
      .select(col("rank"), col("__c").as(idCol), col("gain_e6"))
  }

  /** Local Outlier Factor (Breunig et al. 2000) over the memoized
    * NN-descent kNN graph — the density-relative outlier score for
    * embedding-space corpus auditing (a point deep inside ANY cluster
    * scores ~1, a point whose local density is lower than its
    * neighbors' scores >1), complementing the per-group median/MAD gate
    * (`Robust.outlierStats`) which only sees scalar columns.
    *
    * Exactness contract: cosine distance lives on the 1e6 integer grid
    * (dist_e6 = 1e6 − round(sim·1e6); NULL sim from a zero-norm vector
    * reads as the maximal distance 2e6), so k-distance, reachability
    * distance, and the reachability sums are exact integers. The two
    * divisions are positive integer floor-divides staged identically in
    * both engines: per-node inverse-lrd reciprocal r(o) = n_o·1e9 div
    * Sr(o) (Sr clamped to >= 1 — an all-duplicate neighborhood has
    * infinite density, and the clamp caps its lrd at n·1e9 instead),
    * then lof_e3(p) = (Sr_p div n_p)·(Σ_o r(o) div n_p) div 1e6 — the
    * LOF ratio at three decimals with every operand bounded well inside
    * int64 ((2e6·k)·(1e9·k) after the two div-by-n_p stages is < 2^62).
    *
    * Scale shape: the graph build is the memoized [[nnDescent]] (the
    * serving-index build shared by q_nndescent/q_graph_search/
    * q_label_spread); everything after it is three integer groupBys and
    * two equi-joins over the k·|V| edge list — linear, no pairwise
    * stage, no driver data.
    *
    * Output: (idCol, n_nbr, sr_e6 = Σ reach-dist, lof_e3), one row per
    * vector.
    */
  def lofScores(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 16, nBits: Int = 4,
      graphRounds: Int = 3, ringWindow: Int = 8): DataFrame = {
    val g = nnDescent(vecs, idCol, vecCol, k, nBits, graphRounds,
      ringWindow)
    val d = g.select(col("node_id").as("__s"), col("neighbor_id").as("__d"),
      (lit(1000000L) - round(coalesce(col("sim"), lit(-1.0)) * 1e6, 0)
        .cast("long")).as("__dist"))
    val kd = d.groupBy(col("__s").as("__id"))
      .agg(max(col("__dist")).as("__kdist"))
    val reach = d.join(kd.withColumnRenamed("__id", "__d"), Seq("__d"))
      .select(col("__s"), col("__d"),
        greatest(col("__kdist"), col("__dist")).as("__reach"))
    val sr = reach.groupBy(col("__s").as("__id"))
      .agg(greatest(lit(1L), sum(col("__reach"))).as("__sr"),
        count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val r = sr.select(col("__id").as("__d"),
      expr("(__n * 1000000000L) div __sr").as("__r"))
    val sums = d.join(r, Seq("__d"))
      .groupBy(col("__s").as("__id")).agg(sum(col("__r")).as("__sumr"))
    sr.join(sums, Seq("__id"))
      .select(col("__id").as(idCol), col("__n").as("n_nbr"),
        col("__sr").as("sr_e6"),
        expr("((__sr div __n) * (__sumr div __n)) div 1000000")
          .as("lof_e3"))
  }

  /** kNN label-noise scan (the confident-learning/"cleanlab" reading of
    * Wilson 1972's edited nearest neighbors): flag vectors whose
    * neighborhood majority label disagrees with their own — the label-
    * error detector run before any labeled corpus trains a gate. Votes
    * are integer counts over the memoized [[nnDescent]] out-lists
    * (count desc, label asc ties), so the verdict is engine-exact.
    *
    * Scale shape: the graph build is the shared memo; the scan is one
    * edge-keyed join + one (node, label) count + one degree-bounded
    * argmax window. Output: (idCol, label, maj_label, n_agree, n_nbr,
    * is_suspect), one row per vector with >= 1 neighbor.
    */
  def labelNoiseScan(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      k: Int = 16, nBits: Int = 4, graphRounds: Int = 3,
      ringWindow: Int = 8): DataFrame = {
    val g = nnDescent(vecs, idCol, vecCol, k, nBits, graphRounds,
      ringWindow)
    val lab = vecs.select(col(idCol).as("__id"),
      col(labelCol).cast("long").as("__lab"))
    val votes = g
      .join(lab.withColumnRenamed("__id", "neighbor_id")
        .withColumnRenamed("__lab", "__nl"), Seq("neighbor_id"))
      .groupBy(col("node_id"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("__c").desc, col("__nl").asc)
    val maj = votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("node_id"), col("__nl").as("maj_label"),
        col("__c").as("__cm"))
    val nb = votes.groupBy(col("node_id"))
      .agg(sum(col("__c")).as("n_nbr"))
    val agree = votes.select(col("node_id").as("__an"),
      col("__nl").as("__al"), col("__c").as("__agree"))
    maj.join(nb, Seq("node_id"))
      .join(lab.withColumnRenamed("__id", "node_id"), Seq("node_id"))
      .join(agree, col("__an") === col("node_id") &&
        col("__al") === col("__lab"), "left_outer")
      .select(col("node_id").as(idCol), col("__lab").as("label"),
        col("maj_label"),
        coalesce(col("__agree"), lit(0L)).as("n_agree"), col("n_nbr"),
        (col("maj_label") =!= col("__lab")).as("is_suspect"))
  }

  /** Deterministic DeepWalk-style walk corpus over the kNN graph
    * (Perozzi et al. 2014's data-generation step, de-randomized): from
    * each start node, `steps` hops where hop s at node v follows the
    * out-neighbor at rank mix(v·17 + s) mod deg(v) + 1 in the graph's
    * own (sim desc, id) ranking — the catalog mixer supplies the
    * "randomness", so the walk corpus is reproducible in any engine
    * (the same fixed-seed discipline as every sampler here; a single
    * affine hash would correlate consecutive steps, the mixer's square
    * step decorrelates). The emitted (start, step, node) rows are what
    * a skip-gram embedding trainer consumes.
    *
    * Scale shape: graph is the memoized [[nnDescent]]; each hop is one
    * equi-join of the walk frontier against the ranked adjacency —
    * O(starts) rows per hop, `steps` bounded.
    *
    * Output: (start_id, step 0..steps, node_id) — step 0 is the start
    * itself; walks stop early only at sink nodes (absent out-list).
    */
  def graphWalks(vecs: DataFrame, starts: DataFrame, steps: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 16, nBits: Int = 4, graphRounds: Int = 3,
      ringWindow: Int = 8): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    import org.apache.spark.sql.GraftBridge
    val spark0 = vecs.sparkSession
    val g = nnDescent(vecs, idCol, vecCol, k, nBits, graphRounds,
      ringWindow)
    val adj0 = g.select(col("node_id").as("__v"),
        col("neighbor_id").as("__nb"), col("rank").cast("long").as("__rk"))
      .localCheckpoint(true)
    // Each `out` union branch is a LAZY plan: left un-truncated, branch
    // s re-derives every hop before its own, so the unioned walk corpus
    // re-ran the hop joins quadratically in `steps` (the before-plan
    // carried 98 exchanges and 32 sort-merge joins for 4 hops — one
    // Catalyst/codegen pass per branch of driver latency even where AQE
    // rescued the execution). Every hop's frontier is therefore
    // checkpointed — one |starts|-row job per hop, linear in steps —
    // and the union reads the materialized hops. Within a hop, the
    // degree and adjacency sides are k-bounded per node but corpus-
    // sized overall: broadcast them only when they fit the session's
    // broadcast budget (restored over the stats-less checkpoint with
    // the exact count — a hop is then exchange-free); at corpus scale
    // the hop joins stay shuffles of the frontier.
    val m = adj0.count()
    val bcBudget = GraftBridge.autoBroadcastThreshold(spark0)
    val adjFits = bcBudget > 0 && m * 72L <= bcBudget
    val deg0 = adj0.groupBy(col("__v")).agg(max(col("__rk")).as("__deg"))
      .localCheckpoint(true)
    val deg = if (adjFits) broadcast(deg0) else deg0
    val adj = if (adjFits) broadcast(adj0) else adj0
    var frontier = starts.select(col(idCol).as("__start"),
      col(idCol).as("__cur"))
      .localCheckpoint(true)
    var out = frontier.select(col("__start"), lit(0L).as("step"),
      col("__cur").as("node_id"))
    for (s <- 1 to steps) {
      val pick = frontier
        .join(deg.withColumnRenamed("__v", "__cur"), Seq("__cur"))
        .withColumn("__idx",
          pmod(Sampling.hashOrder(col("__cur") * 17L + lit(s.toLong)),
            col("__deg")) + 1L)
      frontier = pick
        .join(adj, pick("__cur") === adj("__v") &&
          pick("__idx") === adj("__rk"))
        .select(col("__start"), col("__nb").as("__cur"))
        .localCheckpoint(true)
      out = out.unionByName(frontier.select(col("__start"),
        lit(s.toLong).as("step"), col("__cur").as("node_id")))
    }
    // every hop is materialized: the returned plan reads only the
    // frontier checkpoints, so the adjacency and degree ones go
    GraftBridge.unpersistCheckpoint(adj0)
    GraftBridge.unpersistCheckpoint(deg0)
    out.select(col("__start").as("start_id"), col("step"), col("node_id"))
  }

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"; the CCMatrix/LASER alignment step): for each source
    * vector x, score its forward nearest neighbors y by the RATIO margin
    *   margin(x,y) = cos(x,y) / ((Σ_{z∈NNk(x)} cos(x,z) +
    *                              Σ_{z∈NNk(y)} cos(y,z)) / 2k)
    * — raw cosine normalized by the average similarity of each side's
    * own neighborhood, which cancels the hubness that makes absolute
    * thresholds unusable across density regimes — and keep the best y
    * per x with its margin.
    *
    * Exactness contract: cosines ride the 1e6 integer grid, so both
    * neighborhood sums are exact integers and the margin is ONE positive
    * integer floor-divide, margin_e6 = c_e6·2k·1e6 div (sum_x + sum_y),
    * identical in any engine (a non-positive denominator — conceivable
    * only when every top-k cosine is negative — yields NULL, excluded
    * from ranking like a NULL sim).
    *
    * Scale shape: the forward pass is the memoized [[bruteForceTopK]]
    * of the bounded query set (at corpus scale: any rung of the ANN
    * ladder — the margin only needs each side's top-k list); the
    * backward sums are computed ONLY for the |queries|·k candidate
    * targets (the standard mined-candidate restriction), so the second
    * pass is bounded by the first. No corpus×corpus stage anywhere.
    *
    * Output: (query_id, target_id, cos_e6, margin_e6, accepted), one
    * row per query (its argmax-margin candidate; margin desc, id asc
    * ties).
    */
  def bitextMarginMine(queries: DataFrame, targets: DataFrame,
      sources: DataFrame, k: Int, acceptE6: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val simE6 = round(col("sim") * 1e6, 0).cast("long")
    val fwd = bruteForceTopK(queries, targets, k, idCol, vecCol,
        excludeSelf = false)
      .select(col("query_id"), col("neighbor_id"), simE6.as("c_e6"))
      .localCheckpoint(true)
    val sumX = fwd.groupBy(col("query_id"))
      .agg(sum(col("c_e6")).as("__sx"))
    val candIds = fwd.select(col("neighbor_id").as(idCol)).distinct()
    val bwd = bruteForceTopK(targets.join(candIds, Seq(idCol)), sources,
        k, idCol, vecCol, excludeSelf = false)
      .select(col("query_id").as("neighbor_id"), simE6.as("c_e6"))
    val sumY = bwd.groupBy(col("neighbor_id"))
      .agg(sum(col("c_e6")).as("__sy"))
    val den = col("__sx") + col("__sy")
    // The numerator clamps at 0 (a negative cosine has no useful margin
    // and mining thresholds sit well above 1.0 anyway) so the single
    // divide only ever sees non-negative operands — Spark's `div`
    // truncates toward zero while DuckDB's `//` floors, and they agree
    // exactly on the non-negative domain.
    val scored = fwd.join(sumX, Seq("query_id"))
      .join(sumY, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_e6"),
        when(den > 0,
          (greatest(col("c_e6"), lit(0L)) * lit(2L * k) * lit(1000000L))
            .cast("long"))
          .otherwise(lit(null)).as("__num"),
        when(den > 0, den).otherwise(lit(null)).as("__den"))
      .withColumn("margin_e6", expr("__num div __den"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("margin_e6").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("target_id"),
        col("c_e6"), col("margin_e6"),
        (col("margin_e6") >= acceptE6).as("accepted"))
  }

  /** Exact KNN-Shapley data valuation (Jia et al. 2019, "Efficient
    * Task-Specific Data Valuation for Nearest Neighbor Algorithms"):
    * the Shapley value of every training vector for a KNN classifier
    * admits a closed form over the distance-sorted ranking —
    *   s_(N) = m_N/N,   s_(j) = s_(j+1) + (m_j − m_{j+1})/max(j, K)
    * with m_j = 1[label_j = label_test] — i.e. ONE suffix sum per test
    * point, no 2^N coalitions. This is the data-selection signal that
    * prices each candidate document/example against a probe set:
    * negative-value points are the ones a curation pass drops first.
    *
    * Integer staging both engines replay exactly: each term is
    * sign(m_j − m_{j+1}) · (1e9 div max(j, K)) — the divide always on
    * positives — and the rank-N base term is m_N·1e9 div N; the suffix
    * sum and the per-train aggregation are plain integer sums.
    *
    * Scale shape: |tests| is probe-sized by contract, so the pair stage
    * is |tests|·N with the test side broadcast (at corpus scale the
    * ranking feeds from the ANN ladder's top-M with the tail's
    * contribution collapsing to the base term — the standard truncation,
    * since terms vanish as 1/j past the neighborhood). The suffix sum
    * runs per test partition, never globally.
    *
    * Output: (idCol, shap_sum_e9, n_tests) — the summed value of each
    * training vector over all probe tests (self-pairs excluded).
    */
  def knnShapley(tests: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = broadcast(withNorm(tests, idCol, vecCol, "q")
      .withColumnRenamed("id_q", "__qid")
      .join(tests.select(col(idCol).as("__qid"),
        col(labelCol).cast("long").as("__ql")), Seq("__qid")))
    val c = withNorm(corpus, idCol, vecCol, "c")
      .withColumnRenamed("id_c", "__cid")
      .join(corpus.select(col(idCol).as("__cid"),
        col(labelCol).cast("long").as("__cl")), Seq("__cid"))
    val scored = q.join(c, col("__qid") =!= col("__cid"))
      .withColumn("__sim", pairSim(col("vq"), col("vc"),
        col("nq"), col("nc")))
      .select(col("__qid"), col("__cid"),
        when(col("__cl") === col("__ql"), 1L).otherwise(0L).as("__m"),
        col("__sim"))
    val wr = Window.partitionBy(col("__qid"))
      .orderBy(col("__sim").desc_nulls_last, col("__cid"))
    val wp = Window.partitionBy(col("__qid"))
    val ranked = scored
      .withColumn("__rn", row_number().over(wr).cast("long"))
      .withColumn("__np", count(lit(1)).over(wp))
      .withColumn("__mn", lead(col("__m"), 1).over(wr))
    val terms = ranked.withColumn("__term",
      when(col("__mn").isNull,
        expr("(__m * 1000000000L) div __np"))
        .otherwise((col("__m") - col("__mn")) *
          expr(s"1000000000L div greatest(__rn, ${k}L)")))
    val ws = Window.partitionBy(col("__qid")).orderBy(col("__rn"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    terms.withColumn("__s", sum(col("__term")).over(ws))
      .groupBy(col("__cid").as(idCol))
      .agg(sum(col("__s")).as("shap_sum_e9"),
        count(lit(1)).as("n_tests"))
  }

  /** Frontier majority-vote label densification over the kNN graph — the
    * semi-supervised step that turns a small labeled subset into corpus
    * coverage (weak supervision for quality/domain/topic tags; the
    * deterministic cousin of Zhu/Ghahramani 2002 label propagation).
    * Each round, every UNLABELED node adjacent to a labeled one takes the
    * majority label of its labeled neighbors over the symmetrized
    * NN-descent graph (count desc, label asc tie-break); assigned labels
    * FREEZE (seed clamping extended to the spread fringe), so the sweep
    * is monotone — no oscillation, convergence within graph-diameter
    * rounds, and every round's frontier is reproducible in any engine
    * (integer votes, exact ties).
    *
    * Scale shape: the graph build is the memoized [[nnDescent]] (shared
    * with the ANN serving rungs); each spread round is one edge-keyed
    * equi-join + one integer-count groupBy over edges incident to the
    * frozen label set — O(edges) per round, `spreadRounds` bounded.
    *
    * Output: (idCol, label — -1 where never reached, src
    * seed|spread|none), one row per vector.
    */
  def labelSpread(vecs: DataFrame, seeds: DataFrame, spreadRounds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", k: Int = 16, nBits: Int = 4,
      graphRounds: Int = 3, ringWindow: Int = 8): DataFrame = {
    require(spreadRounds >= 1, s"spreadRounds must be >= 1, got $spreadRounds")
    val g = nnDescent(vecs, idCol, vecCol, k, nBits, graphRounds,
      ringWindow)
    val e = g.select(col("node_id").as("__s"), col("neighbor_id").as("__d"))
      .unionByName(g.select(col("neighbor_id").as("__s"),
        col("node_id").as("__d")))
      .distinct()
      .localCheckpoint(true)
    var lab = seeds
      .select(col(idCol).as("__id"), col(labelCol).cast("long").as("__lab"))
      .localCheckpoint(true)
    val seedIds = lab.select(col("__id"))
    for (_ <- 1 to spreadRounds) {
      val w = Window.partitionBy(col("__s"))
        .orderBy(col("__c").desc, col("__lab").asc)
      val maj = e
        .join(lab.select(col("__id").as("__d"), col("__lab")), Seq("__d"))
        .groupBy(col("__s"), col("__lab"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__s").as("__id"), col("__lab"))
      lab = lab
        .unionByName(maj.join(lab.select(col("__id")), Seq("__id"),
          "left_anti"))
        .localCheckpoint(true)
    }
    vecs.select(col(idCol).as("__id"))
      .join(lab, Seq("__id"), "left_outer")
      .join(seedIds.select(col("__id"), lit(true).as("__seed")),
        Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("__lab"), lit(-1L)).as("label"),
        when(col("__seed"), lit("seed"))
          .when(col("__lab").isNotNull, lit("spread"))
          .otherwise(lit("none")).as("src"))
  }

  /** Vector column on the integer grid, kept as an ARRAY:
    * (__id, __xs = transform(vec, v → round(v·grid) as long)). Keeping
    * the whole vector in its row lets [[ckaFro2]] generate the
    * d²-fanout INTRA-ROW — the shared scan of [[linearCka]]'s three
    * moment passes.
    */
  private def ckaVecs(df: DataFrame, idCol: String, vecCol: String,
      grid: Double): DataFrame =
    df.select(col(idCol).as("__id"),
      transform(col(vecCol), v =>
        round(v.cast("double") * grid, 0).cast("long")).as("__xs"))

  /** Squared Frobenius norm of the n²-scaled centered cross-moment
    * matrix C[i,j] = n·Σxᵢyⱼ − Σxᵢ·Σyⱼ — one exact decimal integer.
    * `uCol`/`vCol` are grid-integer ARRAY columns of `comps` (one row
    * per id, both views in the row): the (i,j) product fan-out is two
    * CHAINED posexplodes in the scan stage feeding the partial
    * aggregate directly — zero exchanges before the d²-group fold,
    * where the former component-level formulation shuffled n·d rows
    * per side into an id-keyed self-join. `symmetric = true` declares
    * vCol ≡ uCol (the two SELF passes): only the upper triangle is
    * generated (the inner posexplode runs over slice(vs, i, d) — HALF
    * the d²-fanout never exists, not filtered away) and off-diagonal
    * squares count twice — identical integer by symmetry, not
    * approximation.
    *
    * Σxy accumulates in LONG, not decimal(38): the decimal accumulator
    * was measured 5-6× slower across the whole n·d² stream (the one
    * hot aggregate of the query), while grid integers keep n·max|x·y|
    * inside long far past the documented ~10⁶-row decimal headroom of
    * the FINAL combine (|x|≈10³ at the default grid → Σxy fits long to
    * ~10¹² rows); ANSI mode (Spark 4 default) makes any violation a
    * loud ArithmeticException, never a silent wrap. The n²-scaled
    * combine below stays in decimal(38,0).
    */
  private def ckaFro2(comps: DataFrame, uCol: String, vCol: String,
      symmetric: Boolean): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs =
      if (symmetric) comps
        .select(col(uCol).as("__vs"),
          posexplode(col(uCol)).as(Seq("__i0", "__x")))
        .select((col("__i0") + 1).cast("long").as("__i"), col("__x"),
          posexplode(slice(col("__vs"), col("__i0") + 1,
            greatest(size(col("__vs")) - col("__i0"), lit(0))))
            .as(Seq("__j0", "__y")))
        .select(col("__i"), (col("__j0") + col("__i")).cast("long").as("__j"),
          col("__x"), col("__y"))
      else comps
        .select(col(vCol).as("__vs"),
          posexplode(col(uCol)).as(Seq("__i0", "__x")))
        .select((col("__i0") + 1).cast("long").as("__i"), col("__x"),
          posexplode(col("__vs")).as(Seq("__j0", "__y")))
        .select(col("__i"), (col("__j0") + 1).cast("long").as("__j"),
          col("__x"), col("__y"))
    val sxy = pairs
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__x") * col("__y")).cast(dec).as("__sxy"))
    val sx = comps
      .select(posexplode(col(uCol)).as(Seq("__i0", "__x")))
      .groupBy((col("__i0") + 1).cast("long").as("__i"))
      .agg(sum(col("__x")).cast(dec).as("__sx"))
    val sy = comps
      .select(posexplode(col(vCol)).as(Seq("__j0", "__y")))
      .groupBy((col("__j0") + 1).cast("long").as("__j"))
      .agg(sum(col("__y")).cast(dec).as("__sy"))
    val n = comps.select(col("__id")).distinct()
      .agg(count(lit(1)).cast(dec).as("__n"))
    sxy.join(sx, Seq("__i")).join(sy, Seq("__j"))
      .crossJoin(broadcast(n))
      .select(((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
        .cast(dec)).as("__c"),
        (if (symmetric) when(col("__i") === col("__j"), 1L).otherwise(2L)
         else lit(1L)).as("__w"))
      .agg(coalesce(sum((col("__c") * col("__c") * col("__w")).cast(dec)),
        lit(0).cast(dec)).cast(dec).as("__fro2"))
  }

  /** LINEAR CKA between two views of the same rows (Kornblith et al.,
    * ICML 2019) — the representation-similarity scalar of the ML-ops
    * layer: does a transformed embedding (truncated, quantized,
    * re-trained) preserve the GEOMETRY of the original, invariant to
    * rotation and isotropic scale. Components land on an integer grid
    * (round(v·grid) — the catalog's fixed-point vector convention), so
    * all three centered moment matrices and their Frobenius norms are
    * EXACT integers; the single approximation is the final
    * double-precision ratio, reported as cka² (sqrt-free, the z²
    * convention): cka² = ‖C_ab‖⁴/(‖C_aa‖²·‖C_bb‖²), rounded to 6
    * decimals from two exact-integer divisions.
    * One row: (n_rows, d_a, d_b, cka2) — cka² ∈ [0, 1], 1 = identical
    * geometry.
    *
    * Scale: three moment passes over one row-level checkpoint of both
    * views (the d_a·d_b product fan-out is chained posexplodes in the
    * scan stage — no component-level exchange; the only shuffles are
    * the d²-group partial aggregates) — d²-sized state, linear in
    * rows. decimal(38,0) clears n²·Σxy up to ~10⁶
    * rows on the default grid; beyond that coarsen `grid` (the
    * statistic is scale-invariant, the contract re-derives).
    */
  def linearCka(a: DataFrame, b: DataFrame, idCol: String,
      vecColA: String, vecColB: String, grid: Double = 1000.0): DataFrame = {
    val va = ckaVecs(a, idCol, vecColA, grid)
    val vb = ckaVecs(b, idCol, vecColB, grid)
      .select(col("__id"), col("__xs").as("__ys"))
    // ONE row-level join pairs the two views (n array rows — the former
    // shape joined the EXPLODED components, n·d rows per side, once per
    // Frobenius pass); all three moment passes read this checkpoint.
    val comps = va.join(vb, Seq("__id")).localCheckpoint(true)
    val dims = comps.agg(
        max(nullif(size(col("__xs")), lit(0))).cast("long").as("d_a"),
        max(nullif(size(col("__ys")), lit(0))).cast("long").as("d_b"))
      .crossJoin(comps.select(col("__id")).distinct()
        .agg(count(lit(1)).as("n_rows")))
    val fab = ckaFro2(comps, "__xs", "__ys", symmetric = false)
      .select(col("__fro2").as("__fab"))
    val faa = ckaFro2(comps, "__xs", "__xs", symmetric = true)
      .select(col("__fro2").as("__faa"))
    val fbb = ckaFro2(comps, "__ys", "__ys", symmetric = true)
      .select(col("__fro2").as("__fbb"))
    dims.crossJoin(broadcast(fab)).crossJoin(broadcast(faa))
      .crossJoin(broadcast(fbb))
      .select(col("n_rows"), col("d_a"), col("d_b"),
        when(col("__faa") > 0 && col("__fbb") > 0,
          round((col("__fab").cast("double") / col("__faa").cast("double")) *
            (col("__fab").cast("double") / col("__fbb").cast("double")), 6))
          .as("cka2"))
  }
}
