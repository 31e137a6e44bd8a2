package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed batch-perceptron training over hashed token features — the
  * supervised linear-classifier primitive of LLM data curation (the role
  * the fastText quality/domain classifier plays in GPT-3/LLaMA-style
  * pipelines: score every document by "does it look like the positive
  * class"), trained at corpus scale in exact integer arithmetic.
  *
  * Model: labels y ∈ {+1, −1}; features are hashed-unigram bucket COUNTS
  * (the Importance.bucketStream scheme) plus a bias pseudo-bucket −1 with
  * count 1 on every labeled doc; weights are integers. Batch update per
  * round: w ← w + Σ over misclassified docs of y·x, with w₀ = 0 — so the
  * first round's update is exactly the class-difference vector and every
  * later round is a deterministic integer fold. No learning rate (the
  * sign classifier is scale-free), no rand(), no floats: bit-identical
  * across engines and partitionings, oracle-gateable by unrolling the
  * fixed round count in a CTE (the kmeans/BPE precedent). A doc is
  * misclassified when y·score ≤ 0, so the all-zero start counts every
  * doc as misclassified — the standard batch-perceptron bootstrap.
  *
  * Scale shape: a document's whole feature vector is ROW-LOCAL (its
  * distinct bucket array), and the model is a dense (B+1)-long array
  * riding the plan's codegen reference table — so each round is ONE
  * pass over the checkpointed (id, y, buckets) frame: the margin folds
  * at the scan stage (the compiled weight_fold_sum kernel, whole-stage codegen),
  * misclassified docs explode into (bkt, y)
  * pairs, and the only shuffle is the partial-aggregable ≤(B+1)-group
  * bucket fold. No doc-keyed shuffle anywhere in training — the
  * k-means-round shape (broadcast model, map-side-combined gradient).
  * Rounds are a fixed hyperparameter, not data-dependent. Margins run
  * in exact long arithmetic behind a LOUD overflow trap
  * (WeightVector.margin's addExact): |margin| ≤ (buckets-per-doc + 1)·max|w|
  * and max|w| ≤ rounds × corpus docs — ~10^15-scale at a 10^12-doc
  * corpus, three orders under 2^63, and a corpus that somehow crossed
  * it fails with the offending value, never a silent wrap. The dense
  * model array assumes nBuckets small enough to ship per task (the
  * classifier regime, ≤~10^6); a wider sparse model scores through
  * [[scoreWith]]'s broadcast join instead.
  *
  * Training dynamics, measured: the full-batch update overshoots, so
  * early rounds predict the majority class and the weights walk a limit
  * cycle while the concept's bucket accumulates weight monotonically
  * (only ever reinforced, never contradicted, when the concept is a
  * bucket-expressible predicate); on the gate corpora the
  * contains-token concept reaches the exact fixpoint (zero
  * misclassifications, weights frozen) by round ~10. `rounds` is a
  * training BUDGET: past the fixpoint further rounds are no-ops, and an
  * unconverged budget still yields the deterministic fixed-R model.
  */
object Classifier {

  /** (idCol, bkt, cnt): hashed-unigram bucket PRESENCE per doc (cnt is
    * always 1). Binary features, not counts, on purpose: perceptron
    * convergence scales with (R/γ)² where R bounds the feature norm —
    * with counts R is the document LENGTH and contains-style concepts
    * need thousands of rounds; with presence R² is at most the distinct
    * buckets per doc, and the same concepts separate in a handful.
    */
  private def features(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    // Per-doc presence is ROW-LOCAL: dedup the bucket ids inside each
    // document's token array (array_distinct) instead of a corpus-wide
    // distinct — the same (idCol, bkt) set with zero shuffle. The token
    // array is projected once before the lambda (the LangModel
    // discipline: a tokenizer referenced inside a per-element lambda
    // re-evaluates the split per element).
    val tk = docs.select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
    tk.select(col(idCol),
        explode(array_distinct(transform(col("__tk"),
          t => pmod(graft.plans.TextExpressions.polyHash(t),
            lit(nBuckets.toLong))))).as("bkt"))
      .withColumn("cnt", lit(1L))
  }

  /** Train `rounds` batch-perceptron rounds on `docs` × `labels`
    * ((idCol, y) with y ∈ {+1, −1}) and return the weight table
    * (bkt, w) — bucket −1 is the bias. Feed it to [[scoreWith]] to
    * classify a DIFFERENT corpus (the GPT-3-style quality-gate flow:
    * train on a labeled seed, score everything).
    */
  def perceptronTrain(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, nBuckets: Int = 256, rounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainAndX(docs, idCol, textCol, labels, nBuckets, rounds)._1
      .toSeq.toDF("bkt", "w")
  }

  /** Score `docs` under a trained weight table: (idCol, score,
    * predicted) with predicted = +1 iff the integer margin is > 0 (ties
    * predict −1, deterministically). `nBuckets` must match training.
    * Every doc is scored — zero-token docs through the bias alone.
    */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, nBuckets: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val x = features(docs, idCol, textCol, nBuckets)
      .unionByName(docs.select(col(idCol), lit(-1L).as("bkt"),
        lit(1L).as("cnt")))
    x.join(broadcast(weights), Seq("bkt"), "left")
      .withColumn("__p", (coalesce(col("w"), lit(0L)) * col("cnt")).cast(dec))
      .groupBy(col(idCol))
      .agg(sum(col("__p")).cast(dec).as("__s"))
      .withColumn("score", col("__s").cast("long"))
      .withColumn("predicted", when(col("score") > 0, 1L).otherwise(-1L))
      .select(col(idCol), col("score"), col("predicted"))
  }

  /** Train and score the SAME labeled corpus (training-error view).
    * Output: (idCol, y, score, predicted).
    */
  def perceptronScores(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, nBuckets: Int = 256, rounds: Int = 2): DataFrame = {
    val (w, xa) = trainAndX(docs, idCol, textCol, labels, nBuckets, rounds)
    xa.withColumn("score", marginCol(w, nBuckets))
      .withColumn("predicted",
        when(col("score") > 0, 1L).otherwise(-1L))
      .select(col(idCol), col("y"), col("score"), col("predicted"))
  }

  /** Row-local margin of a bucket-array doc under the driver-held model:
    * bias + Σ w(b) over the doc's `__bkts`, folded at the SCAN stage by
    * the compiled [[graft.plans.WeightFold]] kernel (the model array rides
    * codegen's reference table — one tree node per round, so per-round
    * Catalyst work is constant-size; the HOF-lambda fold it replaced
    * cost ~half the training wall in per-round analysis). Per-doc
    * scoring with zero shuffle and zero joins; exact long arithmetic
    * with a loud overflow trap (see the object doc's budget).
    */
  private def marginCol(
      wMap: scala.collection.immutable.SortedMap[Long, Long],
      nBuckets: Int): org.apache.spark.sql.Column = {
    val bias = wMap.getOrElse(-1L, 0L)
    val dense = Array.tabulate(nBuckets)(b => wMap.getOrElse(b.toLong, 0L))
    graft.plans.WeightFold.margin(col("__bkts"), bias, dense)
  }

  private def trainAndX(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, nBuckets: Int, rounds: Int)
      : (scala.collection.immutable.SortedMap[Long, Long], DataFrame) = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lab = labels.select(col(idCol), col("y").cast("long").as("y"))
    // Feature vectors stay ROW-LOCAL: (id, y, distinct-bucket array),
    // materialized once (the kmeans lineage discipline — the rounds
    // re-read this frame, never its upstream). Labels LEFT-join docs so
    // a label without a document still trains through its bias, exactly
    // as the former bias-row union did.
    val tk = docs.select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
    val feats = tk.select(col(idCol),
      array_distinct(transform(col("__tk"),
        t => pmod(graft.plans.TextExpressions.polyHash(t),
          lit(nBuckets.toLong)))).as("__bkts"))
    val xa = lab.join(feats, Seq(idCol), "left")
      .select(col(idCol), col("y"),
        coalesce(col("__bkts"), typedLit(Seq.empty[Long])).as("__bkts"))
      .checkpointed

    // The model lives on the DRIVER (a ≤(B+1)-entry map — the same
    // class of bounded artifact as k-means' collected centroids) and
    // enters each round's plan as a LITERAL, so a round is ONE job over
    // xa: scan-stage margin fold, filter to misclassified, explode the
    // bias-prefixed bucket array, partial-aggregable ≤(B+1)-group sum,
    // collect the delta. The only exchange in the whole round is the
    // (B+1)-key bucket fold — no doc-keyed shuffle, no semi-join, no
    // per-round weight broadcast.
    //
    // Rounds run in the TUNED child session ([[Serving]]): the per-round
    // exchange is ≤(B+1) keys, so AQE's per-stage re-plan (an extra job
    // + driver optimization pass per round) and a full-width shuffle
    // fan-out are pure driver latency — measured at sf0.1 as ~half the
    // entry's wall. Scan parallelism is untouched (the checkpoint keeps
    // its partitioning); integer sums are partitioning-independent, so
    // the gradient is bit-identical in either session.
    val ts = Serving.tuned(docs.sparkSession, "classifier-rounds",
      shufflePartitions = 8)(_ => Nil)._1
    val xaT = org.apache.spark.sql.GraftBridge.dataFrame(ts,
      org.apache.spark.sql.GraftBridge.logicalPlan(xa))
    var wMap = scala.collection.immutable.SortedMap.empty[Long, Long]
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val delta = xaT
        .filter(col("y") * marginCol(wMap, nBuckets) <= 0)
        .select(col("y"),
          explode(concat(array(lit(-1L)), col("__bkts"))).as("bkt"))
        .groupBy(col("bkt"))
        .agg(sum(col("y")).cast("long").as("__d"))
        .collect()
      // Every misclassified doc carries its bias element, so the delta
      // has rows exactly when misclassifications exist (a zero-VALUED
      // delta still emits its group row) — empty delta is the FIXPOINT:
      // every later round is a no-op, so stopping early changes nothing.
      if (delta.isEmpty) converged = true
      else delta.foreach { row =>
        val b = row.getLong(0)
        wMap = wMap.updated(b, wMap.getOrElse(b, 0L) + row.getLong(1))
      }
      r += 1
    }
    (wMap, xa)
  }

  /** DECISION STUMP by exact Gini impurity — the one-split tree
    * learner (and the inner loop of every distributed GBDT/random-
    * forest split finder): scan the candidate thresholds t of an
    * integer feature and pick the split `value <= t` minimizing the
    * mass-weighted Gini of the two sides,
    *
    *   imp(t) = [(nL² − pL² − qL²)·nR + (nR² − pR² − qR²)·nL]
    *            / (n·nL·nR)
    *
    * (p/q = positive/negative counts; nL·gini_L = (nL²−pL²−qL²)/nL) —
    * one exact rational per threshold, ppm-rendered, argmin broken by
    * the smaller threshold. Candidate thresholds ride the DISTINCT
    * value domain with cumulative class counts (the ksTest cumulative
    * machinery: bounded domains by construction, never rows); the max
    * value is excluded (its right side is empty — not a split).
    *
    * One row: (threshold, n_left, n_right, imp_ppm, root_ppm) with
    * root_ppm the unsplit Gini — gain = root − imp is the split's
    * purchase. Empty input or a single distinct value yields the
    * no-split row (NULL threshold, root only).
    */
  def giniStump(df: DataFrame, valueCol: String,
      posPred: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val counts = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("__v"),
        when(posPred, 1L).otherwise(0L).as("__p"))
      .groupBy(col("__v"))
      .agg(sum(col("__p")).as("__pv"),
        sum(lit(1L) - col("__p")).as("__qv"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__PL", sum(col("__pv")).over(w))
      .withColumn("__QL", sum(col("__qv")).over(w))
    val tot = cum.agg(coalesce(max(col("__PL")), lit(0L)).as("__P"),
      coalesce(max(col("__QL")), lit(0L)).as("__Q"))
    def sq(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(19,0)") * c).cast(dec)
    val root = tot.select(col("__P"), col("__Q"),
      (col("__P") + col("__Q")).as("__n"),
      when(col("__P") + col("__Q") === 0L, lit(null).cast("long"))
        .otherwise(Stats.fixedPointExact(
          (sq(col("__P") + col("__Q")) - sq(col("__P")) - sq(col("__Q")))
            .cast(dec),
          sq(col("__P") + col("__Q")))).as("root_ppm"))
    val cand = cum.crossJoin(broadcast(root))
      .filter(col("__PL") + col("__QL") < col("__n")) // right side non-empty
      .select(col("__v"), col("root_ppm"),
        (col("__PL") + col("__QL")).as("__nl"),
        (col("__n") - col("__PL") - col("__QL")).as("__nr"),
        ((sq(col("__PL") + col("__QL")) - sq(col("__PL")) - sq(col("__QL")))
          .cast(dec) * (col("__n") - col("__PL") - col("__QL")) +
         (sq(col("__n") - col("__PL") - col("__QL")) -
          sq(col("__P") - col("__PL")) - sq(col("__Q") - col("__QL")))
          .cast(dec) * (col("__PL") + col("__QL"))).cast(dec).as("__num"),
        (col("__n").cast("decimal(19,0)") *
          (col("__PL") + col("__QL")).cast("decimal(19,0)") *
          (col("__n") - col("__PL") - col("__QL")).cast("decimal(19,0)"))
          .cast(dec).as("__den"))
      .select(col("__v"), col("root_ppm"), col("__nl"), col("__nr"),
        Stats.fixedPointExact(col("__num"), col("__den")).as("imp_ppm"))
    val best = cand
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("imp_ppm").asc, col("__v").asc)))
      .filter(col("__rn") === 1)
      .select(col("__v").as("threshold"), col("__nl").as("n_left"),
        col("__nr").as("n_right"), col("imp_ppm"), col("root_ppm"))
    // no candidate split (empty or single-value input): the root row
    val guard = cand.agg(count(lit(1)).as("__nc"))
      .filter(col("__nc") === 0L)
    val noSplit = root.crossJoin(broadcast(guard))
      .select(lit(null).cast("long").as("threshold"),
        col("__n").as("n_left"), lit(0L).as("n_right"),
        lit(null).cast("long").as("imp_ppm"), col("root_ppm"))
    best.unionByName(noSplit)
  }
}
