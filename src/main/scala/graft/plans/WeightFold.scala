package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** `bias + Σ weights(b)` over a bucket-id array — the row-local margin of
  * a linear model whose weight vector lives on the DRIVER
  * (graft.functions.Classifier's perceptron rounds).
  *
  * Exists for PLAN-BUILD latency, not row throughput: the equivalent
  * `aggregate(bkts, bias, (acc, b) -> acc + element_at(map, b))` fold
  * re-enters Catalyst each training round with a fresh lambda and a
  * 2·|model|-literal map in the expression tree — analysis + lambda
  * resolution + optimizer passes over that tree were ~half the measured
  * wall of a 12-round training at sf0.1. Here the model is a kernel
  * PARAMETER (one tree node; the vector rides codegen's reference-object
  * table, so every round generates byte-identical source and the
  * codegen cache stays hot), so per-round planning touches a constant-
  * size tree, and the fold itself stays inside whole-stage codegen.
  *
  * Long arithmetic with an explicit overflow trap (`Math.addExact` —
  * loud failure, never a silent wrap): the budget is |margin| ≤
  * (distinct buckets per doc + 1) · max|w|, and max|w| is bounded by
  * rounds × corpus docs — ~10^15-scale at a 10^12-doc corpus, three
  * orders under 2^63. Bucket ids must sit in [0, weights.length): the
  * builder hashes with pmod, and anything else throws with the id in
  * the message.
  */
final class WeightVector(bias: Long, weights: Array[Long])
    extends Serializable {
  def margin(bkts: ArrayData): Long = {
    var s = bias
    var i = 0
    val n = bkts.numElements()
    while (i < n) {
      val b = bkts.getLong(i)
      if (b < 0 || b >= weights.length)
        throw new IllegalArgumentException(
          s"weight_fold_sum: bucket id $b outside [0, ${weights.length})")
      s = Math.addExact(s, weights(b.toInt))
      i += 1
    }
    s
  }
}

object WeightFold {
  /** Column builder: margin of `bkts` (array<bigint> of bucket ids)
    * under a dense weight vector with a bias term. */
  def margin(bkts: Column, bias: Long, weights: Array[Long]): Column =
    Kernels.weightFoldSum(Seq(bkts), bias, weights)
}
