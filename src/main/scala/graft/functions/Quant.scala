package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic int8 affine embedding quantization — the storage-scale
  * vector path: a float32 corpus column compresses 4× to one byte per
  * dimension plus two per-vector doubles, which at 100 TB of embeddings
  * is the difference between scanning 25 TB and scanning 100 TB for
  * every ANN probe. Re-expresses the vector-compression step a
  * training-data pipeline runs before indexing (cf. the reference's
  * plain float pipelines — /root/reference/Batch_notebook/operations/
  * operations.py has no vector layer; this extends it).
  *
  * Per-vector affine map (no RNG, no codebook training):
  *   lo = min(v), scale = (max(v) - lo) / 255
  *   q_i = round((v_i - lo) / scale) - 128        ∈ [-128, 127]
  *   v̂_i = lo + (q_i + 128) · scale
  * All arithmetic is double (floats widened first, exact), the round is
  * half-up on a non-negative operand, and the clamp is explicit — every
  * step reproducible by the DuckDB oracle bit-for-bit. A constant vector
  * (scale = 0) quantizes to -128 everywhere and reconstructs exactly.
  *
  * The reconstruction error is bounded by scale/2 per element (half a
  * quantization step, QuantSpec asserts it), so downstream cosine/L2
  * degrade gracefully and rerank-on-exact stays available: the standard
  * IVF layout stores int8 vectors in the cells and recomputes exact
  * similarity only for the top candidates.
  *
  * Everything is per-row `transform`/scalar arithmetic inside codegen —
  * no shuffle, no UDF; quantization runs at parquet-scan speed.
  */
object Quant {

  private def loOf(vec: Column): Column = array_min(vec).cast("double")
  private def scaleOf(vec: Column): Column =
    (array_max(vec).cast("double") - array_min(vec).cast("double")) / 255.0

  /** Unclamped-then-clamped code in DOUBLE (pre-cast): round maps
    * [0, 255]±ulp into exactly [0, 255]; the clamp guards the ulp edge
    * identically in every engine.
    */
  private def codeOf(x: Column, lo: Column, scale: Column): Column =
    when(scale === 0.0, lit(-128.0))
      .otherwise(least(lit(127.0), greatest(lit(-128.0),
        round((x.cast("double") - lo) / scale) - 128.0)))

  /** Quantize an `array<float>` (or numeric array) column to a struct
    * `(q: array<tinyint>, lo: double, scale: double)` — the codes plus
    * the two affine params reconstruction needs. 4× smaller at rest;
    * the params travel with the row, so dequantization is map-only.
    */
  def quantizeInt8(vec: Column): Column = {
    val lo = loOf(vec)
    val scale = scaleOf(vec)
    struct(
      transform(vec, x => codeOf(x, lo, scale)).cast("array<tinyint>").as("q"),
      lo.as("lo"),
      scale.as("scale"))
  }

  /** Reconstruct the double-precision approximation from `quantizeInt8`'s
    * struct: v̂_i = lo + (q_i + 128) · scale.
    */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"),
      q => qs.getField("lo") +
        (q.cast("double") + 128.0) * qs.getField("scale"))

  /** Per-element reconstruction error |v_i - v̂_i| as `array<double>` —
    * the quality signal one thresholds before trusting quantized
    * similarity scores.
    */
  def reconstructionError(vec: Column, qs: Column): Column =
    zip_with(vec, dequantizeInt8(qs),
      (x, r) => abs(x.cast("double") - r))

  /** Product quantization codes: split each vector into `m` contiguous
    * `subDim`-wide subspaces, train a deterministic k-means codebook of
    * `k` codewords per subspace (Vec.kmeans — smallest-id init,
    * rounded-distance assignment, decimal-exact centroid updates), and
    * emit one `(idCol, subspace, code, dist2)` row per (vector,
    * subspace): `code` is the assigned codeword and `dist2` that
    * subspace's squared reconstruction error (PQ's total distortion is
    * the per-vector sum). Storage: m × ceil(log2 k) bits per vector —
    * for m=16, k=256 a 64-dim float32 vector compresses 16× — against
    * the affine path's fixed 4×.
    *
    * Each subspace's training is the same broadcast-k + partial-
    * aggregable-groupBy loop as `Vec.kmeans`; m runs are independent
    * (at scale: train on a sample, then one map-only assign pass).
    * Every step is bit-deterministic, so the full train→assign chain
    * sits under the DuckDB oracle gate (m unrolled k-means CTE chains).
    */
  def pqCodes(corpus: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqModel(corpus, m, subDim, k, iters, idCol, vecCol)._1
      .select(col(idCol), col("subspace"), col("code"), col("dist2"))

  /** `pqCodes` returning BOTH the code table and the trained codebook
    * `(subspace, code, centroid)` — the pair the ADC serving path needs:
    * codes are the stored corpus, the codebook is the (m·k)-row lookup
    * table broadcast to reconstruct or score against.
    */
  /** Session memo ([[PlanMemo]]) for the trained PQ model — FOUR
    * catalog entries (q_pq_codes, q_pq_adc, q_ivfpq_topk,
    * q_ivfpq_recall) train the identical (corpus, m, subDim, k, iters)
    * codebooks, each paying the m sub-quantizer chains.
    */
  private val pqMemo = new PlanMemo[(DataFrame, DataFrame)]

  def pqModel(corpus: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) =
    pqMemo(corpus, m, subDim, k, iters, idCol, vecCol) {
      val (codes, cb) = pqModelUncached(corpus, m, subDim, k, iters,
        idCol, vecCol)
      (codes.checkpointed, cb.checkpointed)
    }

  // private[graft]: plan-shape assertions target the unmemoized chain
  private[graft] def pqModelUncached(corpus: DataFrame, m: Int,
      subDim: Int, k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(m >= 1 && subDim >= 1, s"need m, subDim >= 1, got $m, $subDim")
    // The m sub-quantizers are INDEPENDENT trainings over disjoint
    // dimension slices, and each is a chain of small driver-blocking
    // jobs (per-iteration centroid collects). Submitting them from
    // concurrent threads — the standard Spark multi-job pattern — lets
    // the scheduler overlap their stages instead of serializing m
    // latency chains; results are deterministic per subspace, and the
    // union order is fixed by the index.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perSub = Await.result(
      Future.sequence((0 until m).map { s => Future {
        val sub = corpus.select(col(idCol),
          slice(col(vecCol), s * subDim + 1, subDim).as(vecCol))
        val (asg, cents) = Vec.kmeansModelUncached(sub, k, iters, idCol, vecCol)
        (asg.select(col(idCol), lit(s).as("subspace"),
            col("cell").as("code"), col("dist2")),
          cents.select(lit(s).as("subspace"), col("cell").as("code"),
            col("cvec").as("centroid")))
      }}.toSeq), Duration.Inf)
    (perSub.map(_._1).reduce(_ unionByName _),
      perSub.map(_._2).reduce(_ unionByName _))
  }

  /** Reconstruct approximate vectors from PQ codes: per id, look the m
    * codes up in the broadcast codebook and concatenate the centroids in
    * subspace order. One broadcast join + one partial-aggregable groupBy
    * — the map-side expansion a PQ-compressed corpus pays to be scored.
    */
  def pqReconstruct(codes: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    codes.join(broadcast(codebook), Seq("subspace", "code"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("subspace"), col("centroid")))),
        s => s.getField("centroid"))).as("embedding"))

  // ------------------------------------------------------------------
  // 1-bit (sign) quantization + Hamming search
  // ------------------------------------------------------------------

  /** Binary (sign-bit) quantization: dimension i contributes bit 1 iff
    * v_i >= 0, packed into 32-dimension long words — 32× smaller at
    * rest than float32, the coarsest rung of the compression ladder
    * (float32 → int8 → PQ → 1-bit), and the one whose distance (Hamming)
    * is pure integer xor+popcount. The classic shortlist layout: scan
    * the bit corpus, keep a Hamming shortlist, rerank the survivors on
    * exact floats (cf. the int8/IVF and PQ/ADC paths above).
    *
    * Packing is a REVERSED-slice fold (acc·2 + bit), so element
    * (w·32 + j) lands on bit j of word w with no shift-by-column
    * gymnastics — one codegen'd fold per word, and the same
    * list_reduce renders it in the oracle. 32 bits per word keeps every
    * word positive in a signed 64-bit long in both engines (a 64-bit
    * pack would need the sign bit). The last word of a non-multiple-of-
    * 32 dimension simply folds a shorter slice.
    */
  def binarize(vec: Column): Column = {
    val nWords = ceil(size(vec).cast("double") / 32.0).cast("int")
    transform(sequence(lit(0), nWords - 1), w =>
      aggregate(
        reverse(slice(vec, w * 32 + 1, lit(32))),
        lit(0L),
        (acc, x) => acc * 2L + when(x >= 0.0f, 1L).otherwise(0L)))
  }

  /** Hamming distance between two packed bit arrays: sum of popcounts of
    * per-word xors — exact integer arithmetic end to end.
    */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
}
