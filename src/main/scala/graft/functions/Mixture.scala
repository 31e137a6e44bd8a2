package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.FixLog

/** DATA-MIXTURE OPTIMIZATION — DoReMi-style multiplicative-weights
  * domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
  * Mixtures Speeds Up Language Model Pretraining", arXiv:2305.10429):
  * given a per-domain loss (here: any per-domain score, e.g. the KN
  * LM's mean perplexity bits), iterate
  *
  *   excess_d(t) = max(0, loss_d − weighted mean_w(t) loss)
  *   lw_d(t+1)   = lw_d(t) + eta · excess_d(t)
  *   w_d(t+1)    = exp2(lw_d(t+1)),  renormalized
  *
  * — domains losing more than the current mixture average get
  * exponentially more weight, clipped at zero like DoReMi's
  * per-domain excess clip. The loop is the method's proxy-model outer
  * loop with the loss table held fixed (the engine recomputes the loss
  * table between calls at deployment; each call is one epoch of
  * weight updates).
  *
  * Arithmetic is the house fixed-point pair: exponentials through
  * [[FixLog.exp2q]] (16.16 exponent in, 2^20 scale out), the weighted
  * mean an integer division, eta a 16.16 quantity — every step
  * bit-identical in both engines, the oracle unrolling the rounds as
  * mixture-sized CTE stages.
  *
  * Scale: the loss table is MIXTURE-SIZED (one row per domain); each
  * round is a 1-row aggregate cross-joined back — bounded work
  * regardless of corpus size (the corpus-sized pass is whatever
  * produced the loss table). Output: (domainCol, loss_q, lw_q, w_ppm)
  * with w_ppm the exact normalized parts-per-million weight.
  */
object Mixture {

  /** The max 16.16 log-weight exp2q can exponentiate (exponent 41 —
    * its documented long-result domain). Accumulated lw is CLAMPED
    * here before exp2: a clamped domain already holds ~2^41 of the
    * weight mass (normalization makes it w_ppm ≈ 1e6 regardless), so
    * saturating is the right semantics — an executor-side require
    * mid-round is not. Only reachable at large losses × eta × rounds,
    * far outside the catalog's operating range (oracle parity there is
    * unaffected).
    */
  private val MaxLwQ = 41L * 65536L

  def doremiWeights(domainLoss: DataFrame, domainCol: String,
      lossQCol: String, rounds: Int = 4,
      etaQ: Long = 65536L): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(etaQ >= 0, s"etaQ must be >= 0, got $etaQ")
    var cur = domainLoss
      .select(col(domainCol), col(lossQCol).cast("long").as("__loss"))
      .withColumn("__lw", lit(0L))
      .withColumn("__w", FixLog.exp2qCol(col("__lw")))
      .checkpointed
    for (_ <- 1 to rounds) {
      val tot = cur.agg(sum(col("__w")).as("__sw"),
        sum((col("__w").cast("decimal(19,0)") * col("__loss"))
          .cast("decimal(38,0)")).as("__swl"))
      // checkpoint per round (the bradleyTerry pattern): the self-
      // referential cross-join otherwise doubles the logical plan each
      // round — 2^rounds analysis cost for callers passing rounds >> 4
      cur = Checkpoints.replace(cur)(cur.crossJoin(broadcast(tot))
        // weighted mean loss under the CURRENT weights (integer div)
        .withColumn("__mean",
          expr("CAST(__swl div CAST(__sw AS decimal(38,0)) AS BIGINT)"))
        .withColumn("__exc",
          greatest(col("__loss") - col("__mean"), lit(0L)))
        // eta·excess in 16.16: both are 16.16-scaled quantities when
        // loss_q is bits·2^16, so the product needs one descale;
        // saturate at exp2q's domain edge instead of throwing
        .withColumn("__lw",
          least(col("__lw") + expr(s"(__exc * $etaQ) div 65536"),
            lit(MaxLwQ)))
        .withColumn("__w", FixLog.exp2qCol(col("__lw")))
        .select(col(domainCol), col("__loss"), col("__lw"), col("__w"))
        .checkpointed)
    }
    val norm = cur.agg(sum(col("__w")).as("__sw"))
    cur.crossJoin(broadcast(norm))
      .select(col(domainCol), col("__loss").as("loss_q"),
        col("__lw").as("lw_q"),
        // widened: __w * 1e6 wraps a raw long once a domain's weight
        // exceeds ~2^43 (24+ bits of accumulated excess at eta=1); the
        // oracle computes this product in HUGEINT
        expr("""CAST((CAST(__w AS decimal(38,0)) * 1000000)
                div CAST(__sw AS decimal(38,0)) AS BIGINT)""")
          .as("w_ppm"))
  }
}
