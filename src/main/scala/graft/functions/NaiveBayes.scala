package graft.functions

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.FixLog

/** Multinomial naive Bayes over token occurrences (Laplace add-one),
  * with ALL log-domain arithmetic in [[FixLog]]'s fixed-point integer
  * log2 — the second classifier family next to the perceptron (margin
  * learner) and Fellegi-Sunter (generative pairwise): a closed-form
  * generative text classifier whose training is two partial-aggregable
  * counts, no iteration. The catalog instance predicts `lang` from
  * tokens — naive-Bayes language ID, the statistical sibling of the
  * marker-list langId heuristic.
  *
  * Per class c and token t: weight(t, c) = log2q(n_tc + 1) -
  * log2q(N_c + V), the Laplace-smoothed log-likelihood; a document
  * scores score_c = sum over its token OCCURRENCES of weight(t, c) +
  * log2q(n_docs_c) (the prior, up to the class-free -log2q(n_docs)
  * term argmax ignores). Prediction is argmax with ties to the
  * lexicographically smallest class. Tokens outside the training
  * vocabulary are ignored at inference (standard NB OOV handling);
  * within-vocabulary tokens unseen for a PARTICULAR class get that
  * class's unseen weight via the full class x vocabulary grid.
  *
  * Integer audit: log2q values top out near 63 * 2^16 ~ 4.1e6; a
  * document contributes |tokens| of them — long-safe past 10^12-token
  * documents.
  *
  * Scale (100 TB): the model is CLASS x VOCABULARY — aggregate data,
  * built by one partial-aggregable count over the corpus; the grid and
  * priors are model-sized. Scoring is one equi-join of the token
  * occurrence stream against the broadcast-worthy weight table and a
  * partial-aggregable per-(doc, class) sum; the argmax window runs on
  * nClasses rows per document, never a corpus-wide sort.
  */
object NaiveBayes {

  /** (class, token, n) occurrence counts — the sufficient statistics. */
  def tokenClassCounts(docs: DataFrame, textCol: String,
      classCol: String): DataFrame =
    docs.select(col(classCol).as("class"),
        explode(Text.tokens(col(textCol))).as("token"))
      .where(col("token").rlike("^[a-z]+$"))
      .groupBy(col("class"), col("token"))
      .agg(count(lit(1)).as("n"))

  /** The full class x vocabulary weight grid:
    * (class, token, n, w_q = log2q(n+1) - log2q(N_c + V)).
    */
  def weights(counts: DataFrame): DataFrame = {
    val classes = counts.groupBy(col("class")).agg(sum(col("n")).as("__nc"))
    val vocab = counts.select(col("token")).distinct()
    val v = vocab.agg(count(lit(1)).as("__v"))
    classes.crossJoin(v).crossJoin(vocab)
      .join(counts, Seq("class", "token"), "left")
      .select(col("class"), col("token"),
        coalesce(col("n"), lit(0L)).as("n"),
        (FixLog.log2qCol(coalesce(col("n"), lit(0L)) + 1L) -
          FixLog.log2qCol(col("__nc") + col("__v"))).as("w_q"))
  }

  /** Token-class MUTUAL INFORMATION — the classical feature-selection
    * score for the classifier family (which tokens carry class signal
    * at all): MI(T; C) restricted to token t is
    * sum_c (n_tc / N) * log2((n_tc * N) / (n_t * n_c)), computed here
    * as the exact integer numerator mi_num(t) = sum_c n_tc *
    * (log2q(n_tc * N) - log2q(n_t * n_c)) — scaled by N * 2^16, the
    * [[graft.functions.Entropy]] convention. Products stay far under
    * long range for any vocabulary-bounded count table (n_tc * N <
    * N^2; rescale QScale-style past 2^31 occurrences). Top-k by
    * (mi_num desc, token) — model-sized work end to end after one
    * partial-aggregable corpus count.
    *
    * Output: (token, n_t, mi_num, mi_bits).
    */
  def tokenClassMi(docs: DataFrame, textCol: String, classCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = tokenClassCounts(docs, textCol, classCol)
    val byTok = counts.groupBy(col("token")).agg(sum(col("n")).as("__nt"))
    val byCls = counts.groupBy(col("class")).agg(sum(col("n")).as("__nc"))
    val total = counts.agg(sum(col("n")).as("__nn"))
    counts
      .join(broadcast(byTok), Seq("token"))
      .join(broadcast(byCls), Seq("class"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("__nt"), col("__nn"),
        (col("n") * (FixLog.log2qCol(col("n") * col("__nn")) -
          FixLog.log2qCol(col("__nt") * col("__nc")))).as("__term"))
      .groupBy(col("token"), col("__nt"), col("__nn"))
      .agg(sum(col("__term")).as("mi_num"))
      .select(col("token"), col("__nt").as("n_t"), col("mi_num"),
        round(col("mi_num").cast("double") /
          (col("__nn").cast("double") * 65536.0), 6).as("mi_bits"))
      .orderBy(col("mi_num").desc, col("token").asc)
      .limit(k)
  }

  /** Train on `docs` and classify every document of `score` (usually the
    * same frame — self-classification): (idCol, pred_class, score_q).
    * Documents with zero in-vocabulary tokens drop out (inner-join
    * semantics, like lmFit).
    */
  def classify(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, classCol: String): DataFrame =
    rankedScores(train, score, idCol, textCol, classCol)
      .filter(col("__rn") === 1)
      .select(col(idCol), col("class").as("pred_class"), col("score_q"))

  /** [[classify]] plus the CONFIDENCE MARGIN — the argmax score minus
    * the runner-up's (the standard selective-classification /
    * active-learning confidence signal; a small margin flags documents
    * whose language call is a coin flip). margin_q is NULL when only
    * one class scored the document. The extra work over classify is
    * keeping rank 2 and one id-keyed left join; the per-document window
    * partitions stay bounded by the CLASS count — model-sized.
    * Output: (idCol, pred_class, score_q, margin_q).
    */
  def classifyWithMargin(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, classCol: String): DataFrame = {
    val ranked = rankedScores(train, score, idCol, textCol, classCol)
      .filter(col("__rn") <= 2)
    val first = ranked.filter(col("__rn") === 1)
      .select(col(idCol), col("class").as("pred_class"), col("score_q"))
    val second = ranked.filter(col("__rn") === 2)
      .select(col(idCol), col("score_q").as("__s2"))
    first.join(second, Seq(idCol), "left")
      .select(col(idCol), col("pred_class"), col("score_q"),
        (col("score_q") - col("__s2")).as("margin_q"))
  }

  /** Session memo ([[PlanMemo]]) of the scoring chain — the eval
    * layer runs classify/margin/reliability/calibration/AUC/AP over the
    * SAME (train, score) pair, and each rebuilt the identical
    * tokenize-join-score pipeline (measured: the six NB-chain catalog
    * entries pay ~2 s each at sf0.1 rebuilding it). The checkpointed
    * result is documents x classes — corpus-sized but narrow.
    */
  private val memo = new PlanMemo[DataFrame]

  /** The SHARED scoring chain of [[classify]] and
    * [[classifyWithMargin]]: every (document, class) posterior
    * (score_q) with its per-document rank `__rn` (score desc, class
    * tie-break — window partitions bounded by the class count). One
    * definition so smoothing, the token regex, and the tie-break can
    * never drift between the two entry points.
    */
  /** The full (idCol, class, score_q) posterior table — every class's
    * log-posterior per document, the raw material for prediction SETS
    * (conformal classification) rather than argmax points. Same
    * memo-shared chain as [[classify]]/[[classifyWithMargin]]; `rank`
    * is the per-document score rank (1 = argmax, class tie-break).
    */
  def posteriors(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, classCol: String): DataFrame =
    rankedScores(train, score, idCol, textCol, classCol)
      .select(col(idCol), col("class"), col("score_q"),
        col("__rn").as("rank"))

  private def rankedScores(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String, classCol: String): DataFrame =
    memo(train, score, idCol, textCol, classCol) {
      rankedScoresUncached(train, score, idCol, textCol, classCol)
        .checkpointed
    }

  // private[graft]: PlanSpec asserts the scoring chain's plan shape
  // here — the memoized entry point's visible plan is just the
  // checkpoint scan
  private[graft] def rankedScoresUncached(train: DataFrame,
      score: DataFrame, idCol: String, textCol: String,
      classCol: String): DataFrame = {
    // SEEN-PAIR DECOMPOSITION of the score sum: with
    // w_q(t,c) = log2q(n_tc + 1) − log2q(N_c + V) and log2q(1) the
    // in-vocabulary-but-unseen-for-c weight's first term,
    //   score_c = Σ_{seen occ} log2q(n_tc + 1)
    //           + (#in-vocab occ − #seen occ) · log2q(1)
    //           − (#in-vocab occ) · log2q(N_c + V) + prior_c
    // — an exact rearrangement of the commutative integer sum that
    // shrinks the broadcast model from the dense class×vocabulary grid
    // to the SEEN (class, token) pairs and the scoring fan-out from
    // |occ|·|classes| to |occ|·(classes that saw the token).
    // The catalog's self-classification case (train and score are the
    // same frame) additionally tokenizes the corpus ONCE into a shared
    // checkpoint instead of once for the counts and once for the
    // occurrence stream.
    val sameCorpus = GraftBridge.logicalPlan(train).canonicalized ==
      GraftBridge.logicalPlan(score).canonicalized
    val (counts, occ) =
      if (sameCorpus) {
        val toks = train.select(col(idCol), col(classCol).as("class"),
            explode(Text.tokens(col(textCol))).as("token"))
          .where(col("token").rlike("^[a-z]+$"))
          .checkpointed
        (toks.groupBy(col("class"), col("token"))
           .agg(count(lit(1)).as("n")),
         toks.select(col(idCol), col("token")))
      } else
        (tokenClassCounts(train, textCol, classCol),
         score.select(col(idCol),
             explode(Text.tokens(col(textCol))).as("token"))
           .where(col("token").rlike("^[a-z]+$")))
    val classes = counts.groupBy(col("class")).agg(sum(col("n")).as("__nc"))
    val v = counts.select(col("token")).distinct()
      .agg(count(lit(1)).as("__v"))
    val base = classes.crossJoin(v)
      .select(col("class"),
        FixLog.log2qCol(col("__nc") + col("__v")).as("__base_q"))
    val prior = train.groupBy(col(classCol).as("class"))
      .agg(count(lit(1)).as("__nd"))
      .select(col("class"), FixLog.log2qCol(col("__nd")).as("__prior_q"))
    val seen = counts.select(col("token"), col("class"),
      FixLog.log2qCol(col("n") + 1L).as("__wq"))
    val vocab = counts.select(col("token")).distinct()
    val inv = occ.join(broadcast(vocab), Seq("token"))
    val cnt = inv.groupBy(col(idCol)).agg(count(lit(1)).as("__cnt"))
    val seenSum = inv.join(broadcast(seen), Seq("token"))
      .groupBy(col(idCol), col("class"))
      .agg(sum(col("__wq")).as("__ssum"), count(lit(1)).as("__scnt"))
    val perClass = cnt
      .crossJoin(broadcast(classes.select(col("class"))))
      .join(seenSum, Seq(idCol, "class"), "left")
      .join(broadcast(base), Seq("class"))
      .join(broadcast(prior), Seq("class"))
      .select(col(idCol), col("class"),
        (coalesce(col("__ssum"), lit(0L)) +
          (col("__cnt") - coalesce(col("__scnt"), lit(0L))) *
            FixLog.log2qCol(lit(1L)) -
          col("__cnt") * col("__base_q") +
          col("__prior_q")).as("score_q"))
    val pick = Window.partitionBy(col(idCol))
      .orderBy(col("score_q").desc, col("class").asc)
    perClass.withColumn("__rn", row_number().over(pick))
  }
}
