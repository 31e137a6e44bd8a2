package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CLASSIFIER EVALUATION over corpus-scale prediction frames — the
  * measurement side of the quality/language/seed-classifier gates:
  * confusion matrix, per-class precision/recall/F1, and the
  * reliability (calibration) table. Everything is exact integer
  * counting with [[Stats.fixedPointExact]] ppm renderings — no
  * doubles, no DECIMAL finals, the gate-type contract by construction.
  *
  * Scale: one equi-join of predictions to truth on the id, then
  * class-squared (confusion) or bin-count (reliability) sized
  * aggregates — partial-aggregable throughout, no windows.
  */
object Eval {

  /** Confusion matrix: (true_class, pred_class, n) over the id-joined
    * prediction/truth frames — inner join, so ids missing a prediction
    * (operators that drop unscorable rows) simply don't count.
    */
  def confusion(pred: DataFrame, idCol: String, predCol: String,
      truth: DataFrame, truthCol: String): DataFrame =
    pred.select(col(idCol), col(predCol).as("pred_class"))
      .join(truth.select(col(idCol), col(truthCol).as("true_class")),
        Seq(idCol))
      .groupBy(col("true_class"), col("pred_class"))
      .agg(count(lit(1)).as("n"))

  /** Per-class metrics from a confusion matrix: (class, tp, fp, fn,
    * precision_ppm, recall_ppm, f1_ppm) with exact-integer ppm
    * renderings (F1 = 2tp/(2tp+fp+fn) — the harmonic mean collapsed to
    * one rational). Zero denominators render NULL. Classes are the
    * UNION of true and predicted labels, so a class the model never
    * predicts (or that never occurs) still gets its row.
    */
  def classMetrics(conf: DataFrame): DataFrame = {
    val classes = conf.select(col("true_class").as("class"))
      .union(conf.select(col("pred_class"))).distinct()
    val tp = conf.filter(col("true_class") === col("pred_class"))
      .select(col("true_class").as("class"), col("n").as("tp"))
    val fp = conf.filter(col("true_class") =!= col("pred_class"))
      .groupBy(col("pred_class").as("class")).agg(sum(col("n")).as("fp"))
    val fn = conf.filter(col("true_class") =!= col("pred_class"))
      .groupBy(col("true_class").as("class")).agg(sum(col("n")).as("fn"))
    def ppm(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("long"))
        .otherwise(Stats.fixedPointExact(num, den))
    classes
      .join(tp, Seq("class"), "left")
      .join(fp, Seq("class"), "left")
      .join(fn, Seq("class"), "left")
      .select(col("class"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(col("class"), col("tp"), col("fp"), col("fn"),
        ppm(col("tp"), col("tp") + col("fp")).as("precision_ppm"),
        ppm(col("tp"), col("tp") + col("fn")).as("recall_ppm"),
        ppm(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1_ppm"))
  }

  /** ROUGE-N (Lin 2004, "ROUGE: A Package for Automatic Evaluation of
    * Summaries") between candidate/reference document pairs — the
    * standard n-gram-overlap eval for summaries/generations, computed
    * with CLIPPED multiset counts (each reference n-gram credits at
    * most its own multiplicity — the property plain set-Jaccard
    * misses: a candidate repeating one reference phrase fifty times
    * scores the phrase once). With P = overlap/|cand grams| and
    * R = overlap/|ref grams|, F1 collapses to the single rational
    * 2·overlap/(cand+ref) — one quantization, engine-exact.
    *
    * Scale shape: the clipped-MULTISET intersection is reduced to a
    * SET intersection by occurrence-indexing — the k-th occurrence of
    * gram g becomes the element (g, k), so |indexed(A) ∩ indexed(B)| =
    * Σ_g min(c_A(g), c_B(g)) exactly. Each doc then ships ONE compact
    * sorted array onto the bounded candidate-pair set (two id-keyed
    * joins) and the overlap is one array_intersect per pair — the
    * verifyJaccardArrays discipline; the re-expansion form (joining
    * gram ROWS per pair) was measured ~5× slower at sf0.1 because it
    * shuffles pairs × grams-per-doc rows. Pairs where either side has
    * fewer than n tokens (no n-grams) drop — inner-join semantics like
    * the other verify stages.
    *
    * Input `pairs` needs (id_a = candidate, id_b = reference). Output:
    * (id_a, id_b, n_overlap, n_cand, n_ref, rouge_p_ppm, rouge_r_ppm,
    * rouge_f_ppm).
    */
  def rougeN(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // occurrence-indexed HASHED gram sets built by ONE compiled pass
    // per document ([[graft.plans.RougeGrams]]): grams hash at the
    // scan (the engine's shared polynomial hash — collisions merge
    // identically in both engines, the standard contract), the k-th
    // occurrence of hash h becomes the long h·2^20 + k, and the sorted
    // long array ships straight to the pair join — zero shuffles
    // before it (the relational groupBy/collect_list form paid two
    // corpus shuffles for the same arrays).
    val sets = docs.select(col(idCol),
      graft.plans.RougeGrams.gramSetCol(col(textCol), n).as("__set"))
    gramOverlap(pairs, sets, idCol)
      .select(col("id_a"), col("id_b"), col("n_overlap"), col("n_cand"),
        col("n_ref"),
        Stats.fixedPointExact(col("n_overlap"), col("n_cand"))
          .as("rouge_p_ppm"),
        Stats.fixedPointExact(col("n_overlap"), col("n_ref"))
          .as("rouge_r_ppm"),
        Stats.fixedPointExact(lit(2L) * col("n_overlap"),
          col("n_cand") + col("n_ref")).as("rouge_f_ppm"))
  }

  /** The multiset overlap of [[rougeN]] and [[chrF]]: each document's
    * occurrence-indexed gram set `__set` (gram-less documents dropped)
    * fanned onto the pairs — id_a's as (`__sa`, n_cand), id_b's as
    * (`__sb`, n_ref) — and `n_overlap` = |__sa ∩ __sb|.
    */
  private def gramOverlap(pairs: DataFrame, sets: DataFrame,
      idCol: String): DataFrame =
    Dedup.withDocColumns(pairs,
        sets.withColumn("__t", size(col("__set")).cast("long"))
          .filter(col("__t") > 0L),
        idCol, Seq(("__set", "__sa", "__sb"), ("__t", "n_cand", "n_ref")))
      .withColumn("n_overlap",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))

  /** Sentence BLEU-4 between candidate/reference pairs (Papineni et
    * al. 2002) — the classic MT/generation metric completing the eval
    * deck beside [[rougeN]] (recall-oriented) and [[chrF]]
    * (character-level): clipped modified n-gram precisions p_1..p_4,
    * add-1 smoothing on the higher orders (Lin & Och 2004 — a zero
    * 4-gram match must dampen, not annihilate), and the brevity
    * penalty min(1, e^(1-r/c)).
    *
    * No-libm discipline: the gated score is the LOG-domain integer
    *
    *   bleu_log2x4_q = sum_{n=1..4} [log2q(num_n) - log2q(den_n)]
    *                   + bp4_q
    *
    * (= 4·log2(BLEU) in 2^16 units) with num_1 = m_1, den_1 = t_1,
    * num_n = m_n+1, den_n = t_n+1 for n >= 2, and bp4_q = 0 when
    * c >= r else -round((r-c)·4·log2(e)·2^16 / c) (one exact
    * half-away rounding, [[Stats.fixedPointExact]] at scale 1; the
    * log2(e) constant is the shared integer 94548). Summing the four
    * log-ratios instead of averaging keeps the whole score
    * division-free except BP — no floor-vs-truncate divergence
    * anywhere. The convenience double `bleu_log2` = q/(4·2^16).
    *
    * Gram counting rides the compiled occurrence-indexed hashed sets
    * ([[graft.plans.RougeGrams]], one scan-stage pass per
    * order); the clipped overlap is one array_intersect per order.
    * Pairs need c >= 4 (all four orders defined) and m_1 >= 1 (BLEU
    * is 0 = log -inf otherwise) — others drop, documented.
    * Output: (id_a, id_b, c, r, m1..m4, bleu_log2x4_q, bleu_log2).
    *
    * Scale: scan-stage gram sets, ONE pair join shipping the four
    * arrays per side — [[rougeN]]'s shape; candidates-bounded.
    */
  def bleu4(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val Log2eQ4 = 378192L // 4 * round(log2(e) * 2^16)
    def gset(nn: Int) = graft.plans.RougeGrams.gramSetCol(col(textCol), nn)
    val sets = docs.select(
      col(idCol) +: (1 to 4).map(nn => gset(nn).as(s"__g$nn")): _*)
    val lg = graft.plans.FixLog.log2qCol _
    val joined = Dedup.withDocColumns(pairs, sets, idCol,
        (1 to 4).map(nn => (s"__g$nn", s"__a$nn", s"__b$nn")))
      .withColumn("c", size(col("__a1")).cast("long"))
      .withColumn("r", size(col("__b1")).cast("long"))
      .filter(col("c") >= 4L && col("r") >= 1L)
    val withM = (1 to 4).foldLeft(joined) { (df, nn) =>
      df.withColumn(s"m$nn",
        size(array_intersect(col(s"__a$nn"), col(s"__b$nn"))).cast("long"))
        .withColumn(s"__t$nn", size(col(s"__a$nn")).cast("long"))
    }.filter(col("m1") >= 1L)
    val s = (1 to 4).map { nn =>
      if (nn == 1) lg(col("m1")) - lg(col("__t1"))
      else lg(col(s"m$nn") + 1L) - lg(col(s"__t$nn") + 1L)
    }.reduce(_ + _)
    val bp4 = when(col("c") >= col("r"), lit(0L))
      .otherwise(-Stats.fixedPointExact(
        (col("r") - col("c")) * lit(Log2eQ4), col("c"), scale = 1L))
    withM.select(
      Seq(col("id_a"), col("id_b"), col("c"), col("r")) ++
        (1 to 4).map(nn => col(s"m$nn")) :+
        (s + bp4).as("bleu_log2x4_q"): _*)
      .withColumn("bleu_log2", col("bleu_log2x4_q").cast("double") / 262144.0)
  }

  /** chrF between candidate/reference pairs (Popović, WMT 2015) — the
    * CHARACTER n-gram F_β companion of [[rougeN]], the MT/generation
    * eval metric that survives tokenizer and morphology differences
    * word grams are blind to. Whitespace is stripped before gramming
    * (the chrF convention: word boundaries carry no char-gram mass);
    * the multiset char-gram overlap comes from one compiled
    * occurrence-indexed set per document
    * ([[graft.plans.CharGrams]] — the RougeGrams packing at char
    * level) intersected per pair. P = o/c, R = o/r, and the reported
    * score is the exact rational F_β for β² = `beta2`:
    * F = (1+β²)·o / (β²·r + c) (β = 2 default: recall-weighted, the
    * published chrF2). Pairs with a gram-less side drop.
    * Output: (id_a, id_b, n_overlap, n_cand, n_ref, chrf_p_ppm,
    * chrf_r_ppm, chrf_ppm).
    *
    * Scale: scan-stage gram sets, one broadcast-able pair join —
    * [[rougeN]]'s exact shape.
    */
  def chrF(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int, beta2: Long = 4L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(beta2 >= 0, s"beta2 must be >= 0, got $beta2")
    val sets = docs.select(col(idCol),
      graft.plans.CdcColumns.charGramSet(
        regexp_replace(col(textCol), "\\s+", ""), n).as("__set"))
    gramOverlap(pairs, sets, idCol)
      .select(col("id_a"), col("id_b"), col("n_overlap"), col("n_cand"),
        col("n_ref"),
        Stats.fixedPointExact(col("n_overlap"), col("n_cand"))
          .as("chrf_p_ppm"),
        Stats.fixedPointExact(col("n_overlap"), col("n_ref"))
          .as("chrf_r_ppm"),
        Stats.fixedPointExact(lit(1L + beta2) * col("n_overlap"),
          lit(beta2) * col("n_ref") + col("n_cand")).as("chrf_ppm"))
  }

  /** ROUGE-L between candidate/reference pairs — the LCS-based member
    * of the ROUGE family ([[rougeN]]'s scaladoc; [[graft.plans.Lcs]]):
    * in-order but non-contiguous agreement over BOUNDED token prefixes
    * (`cap` — candidates × cap² cost). P = LCS/|cand|, R = LCS/|ref|
    * over the capped counts, F = 2·LCS/(cand+ref). SPEC-VERIFIED, not
    * oracle-gated: the LCS DP has no SQL replay (the Lcs scaladoc
    * records the split). Pairs with a token-less side drop.
    * Output: (id_a, id_b, lcs, n_cand, n_ref, rougel_p_ppm,
    * rougel_r_ppm, rougel_f_ppm).
    */
  def rougeL(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, cap: Int = 256): DataFrame = {
    Dedup.withDocColumns(pairs, docs.select(col(idCol), col(textCol)), idCol,
        Seq((textCol, "__ta", "__tb")))
      .select(col("id_a"), col("id_b"),
        graft.plans.Lcs.tokenLcsCol(col("__ta"), col("__tb"), cap)
          .cast("long").as("lcs"),
        least(Text.tokenCount(col("__ta")).cast("long"), lit(cap.toLong))
          .as("n_cand"),
        least(Text.tokenCount(col("__tb")).cast("long"), lit(cap.toLong))
          .as("n_ref"))
      .filter(col("n_cand") > 0L && col("n_ref") > 0L)
      .select(col("id_a"), col("id_b"), col("lcs"), col("n_cand"),
        col("n_ref"),
        Stats.fixedPointExact(col("lcs"), col("n_cand")).as("rougel_p_ppm"),
        Stats.fixedPointExact(col("lcs"), col("n_ref")).as("rougel_r_ppm"),
        Stats.fixedPointExact(lit(2L) * col("lcs"),
          col("n_cand") + col("n_ref")).as("rougel_f_ppm"))
  }

  /** AVERAGED metrics from a confusion matrix — the one-row summary a
    * model card reports beside [[classMetrics]]' per-class table, in
    * sklearn's three averaging conventions:
    *
    *  - accuracy_ppm (= micro precision = micro recall = micro F1 in
    *    single-label multi-class): diagonal mass over total mass;
    *  - macro_*: the UNWEIGHTED mean of the per-class ppm metrics —
    *    every class counts equally, the minority-class-sensitive view.
    *    Undefined per-class metrics (zero denominators) count as 0,
    *    sklearn's zero_division=0 convention;
    *  - weighted_f1_ppm: the support-weighted mean (support = tp + fn),
    *    the majority-weighted view.
    *
    * Means average the ALREADY-QUANTIZED per-class ppms (one extra
    * half-up rounding — deterministic and engine-identical, since the
    * per-class ppms are themselves gated integers). Everything is
    * class-count-sized aggregate work.
    */
  def macroMetrics(conf: DataFrame): DataFrame = {
    val m = classMetrics(conf)
    val acc = conf.agg(
      sum(when(col("true_class") === col("pred_class"), col("n"))
        .otherwise(0L)).as("__diag"),
      sum(col("n")).as("__tot"))
    m.agg(
        count(lit(1)).as("n_classes"),
        sum(coalesce(col("precision_ppm"), lit(0L))).as("__sp"),
        sum(coalesce(col("recall_ppm"), lit(0L))).as("__sr"),
        sum(coalesce(col("f1_ppm"), lit(0L))).as("__sf"),
        sum(((col("tp") + col("fn")).cast("decimal(19,0)") *
          coalesce(col("f1_ppm"), lit(0L))).cast("decimal(38,0)"))
          .as("__swf"),
        sum(col("tp") + col("fn")).as("__supp"))
      .crossJoin(broadcast(acc))
      .select(col("n_classes"),
        Stats.fixedPointExact(col("__diag"), col("__tot")).as("accuracy_ppm"),
        Stats.fixedPointExact(col("__sp"), col("n_classes"), 1L)
          .as("macro_precision_ppm"),
        Stats.fixedPointExact(col("__sr"), col("n_classes"), 1L)
          .as("macro_recall_ppm"),
        Stats.fixedPointExact(col("__sf"), col("n_classes"), 1L)
          .as("macro_f1_ppm"),
        Stats.fixedPointExact(col("__swf"), col("__supp"), 1L)
          .as("weighted_f1_ppm"))
  }

  /** EXACT ROC-AUC of an integer score against a binary label — the
    * Mann-Whitney U form with standard tie handling (a tied pair
    * counts half): 2U = Σ over positives of (2·negatives_below +
    * negatives_tied), AUC = 2U / (2·n_pos·n_neg). Computed without a
    * pairwise join OR a global sort: scores aggregate to per-score
    * (pos, neg) counts, the running negative count below each score is
    * [[GroupRank.withPrefixSum]]'s exclusive prefix sum over
    * the score order — so the statistic holds at any corpus size with
    * one range exchange, never an O(n²) comparison. Output: one row
    * (n_pos, n_neg, u2, auc_ppm), NULL auc when either class is empty.
    * 2U <= 2·n_pos·n_neg bounds the long at ~2.1e9 rows per class —
    * the engine's documented wide-sum audit.
    */
  def aucExact(pred: DataFrame, scoreCol: String,
      positive: Column): DataFrame = {
    val pre = GroupRank.withPrefixSum(
      scoreCounts(pred, scoreCol, positive), Nil, Seq(col("__sc").asc),
      "__nn", "__negBelow", "__negTot")
    pre.agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__negBelow") + col("__nn")))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("u2"),
            (lit(2L).cast("decimal(19,0)") * col("n_pos") * col("n_neg"))
              .cast("decimal(38,0)"))).as("auc_ppm"))
  }

  /** The per-score table of [[aucExact]] and [[prAuc]]: per distinct
    * non-NULL integer score `__sc`, its positive (`__np`) and negative
    * (`__nn`) counts — distinct-score-domain sized, never row sized.
    */
  private def scoreCounts(pred: DataFrame, scoreCol: String,
      positive: Column): DataFrame =
    pred.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("long").as("__sc"),
        when(positive, 1L).otherwise(0L).as("__p"))
      .groupBy(col("__sc"))
      .agg(sum(col("__p")).as("__np"),
        (count(lit(1)) - sum(col("__p"))).as("__nn"))

  /** RECALL@K of an approximate top-k retrieval against the exact one
    * — the serving-quality number every ANN index ships with (the
    * set-overlap companion of the rank-aware RBO): per query,
    * |approx ∩ exact| / |exact|. Output: (queryCol, k_true, n_hit,
    * recall_ppm), one row per query present in the EXACT frame
    * (queries the approximate index dropped entirely score 0, not
    * missing). Equi-joins + per-query counts only — corpus-scale safe.
    */
  def topkRecall(approx: DataFrame, exact: DataFrame, queryCol: String,
      neighborCol: String): DataFrame = {
    val a = approx.select(col(queryCol), col(neighborCol))
    val e = exact.select(col(queryCol), col(neighborCol))
    val kTrue = e.groupBy(col(queryCol)).agg(count(lit(1)).as("k_true"))
    val hits = a.join(e, Seq(queryCol, neighborCol))
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    kTrue.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("k_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col(queryCol), col("k_true"), col("n_hit"),
        Stats.fixedPointExact(col("n_hit"), col("k_true"))
          .as("recall_ppm"))
  }

  /** MRR@K — mean-reciprocal-rank's per-query form (the navigational
    * retrieval metric beside recall@k/AP/NDCG/RBO: only the FIRST
    * relevant hit matters, discounted by its rank): rr = 1/rank of the
    * first approx result that appears in the exact/relevant set, 0 if
    * none lands in the top k. Exact arithmetic: rr_num = lcm(1..k) div
    * first_hit — an exact integer over the fixed denominator
    * lcm(1..k), the RBO dyadic-lcm discipline; rr_ppm quantizes once.
    * Queries present in the EXACT frame always emit a row (a total
    * miss IS the signal). Bounded-k rank joins only.
    * Output: (queryCol, first_hit — 0 on miss, rr_num, rr_ppm).
    */
  def mrrAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
      neighborCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val lcmK = (1 to k).foldLeft(1L)((l, d) => l / gcd(l, d) * d)
    val firstHit = approx
      .filter(col(rankCol) <= k)
      .select(col(queryCol), col(neighborCol), col(rankCol))
      .join(exact.select(col(queryCol), col(neighborCol)),
        Seq(queryCol, neighborCol))
      .groupBy(col(queryCol))
      .agg(min(col(rankCol)).cast("long").as("first_hit"))
    exact.select(col(queryCol)).distinct()
      .join(firstHit, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("first_hit"), lit(0L)).as("first_hit"))
      .withColumn("rr_num",
        when(col("first_hit") === 0L, lit(0L))
          .otherwise(GroupRank.intDiv(lit(lcmK), col("first_hit"))))
      .withColumn("rr_ppm",
        Stats.fixedPointExact(col("rr_num"), lit(lcmK)))
  }

  /** AP@K per query — average precision of an approximate top-k
    * ranking against the exact/relevant set (the area-under-PR
    * companion of [[mrrAtK]]'s first-hit view and [[topkRecall]]'s set
    * view): AP = (Σ over relevant positions i of P@i) / k_true, with
    * P@i = hits_so_far/i. Exact arithmetic over the fixed denominator
    * lcm(1..k)·k_true: each relevant position contributes the integer
    * c_i·(lcm div i) (i divides lcm — exact), quantized once to
    * ap_ppm. Queries with no hit score 0; every exact-side query emits
    * a row. Cumulative hits ride a k-bounded per-query window only.
    * Output: (queryCol, k_true, n_hit, ap_num, ap_ppm); the corpus MAP
    * is the caller's mean over ap_ppm.
    */
  def mapAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
      neighborCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val lcmK = (1 to k).foldLeft(1L)((l, d) => l / gcd(l, d) * d)
    val rel = approx.filter(col(rankCol) <= k)
      .select(col(queryCol), col(neighborCol),
        col(rankCol).cast("long").as("__rk"))
      .join(exact.select(col(queryCol), col(neighborCol))
        .withColumn("__rel", lit(1L)), Seq(queryCol, neighborCol), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0L)))
    val w = Window.partitionBy(col(queryCol)).orderBy(col("__rk"))
    val perQ = rel
      .withColumn("__c", sum(col("__rel")).over(w)) // k-bounded window
      .groupBy(col(queryCol))
      .agg(sum(col("__rel")).as("n_hit"),
        sum(when(col("__rel") === 1L,
          col("__c") * GroupRank.intDiv(lit(lcmK), col("__rk")))
          .otherwise(0L)).as("ap_num"))
    exact.groupBy(col(queryCol)).agg(count(lit(1)).as("k_true"))
      .join(perQ, Seq(queryCol), "left")
      .select(col(queryCol), col("k_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("ap_num"), lit(0L)).as("ap_num"))
      .withColumn("ap_ppm", Stats.fixedPointExact(col("ap_num"),
        (lit(lcmK).cast("decimal(19,0)") * col("k_true"))
          .cast("decimal(38,0)")))
  }

  /** NDCG@K — graded ranking quality (Järvelin & Kekäläinen 2002),
    * completing the metric set (ROC-AUC, AP, recall@k, RBO):
    * DCG = Σ rel_i / log2(i+1) over the ranking's first k positions,
    * normalized by the ideal ordering's IDCG. Logarithms are
    * [[graft.plans.FixLog.log2q]] (the no-libm discipline), each term
    * quantized ONCE to exact ppm — rel_i·2^16 / log2q(i+1) IS
    * rel_i/log2(i+1) in ppm under [[Stats.fixedPointExact]] — so both
    * engines sum identical integers; ndcg_ppm is the exact ppm ratio
    * of the two sums. Items the judgment frame doesn't cover score
    * relevance 0; queries with no positive judgments emit NULL ndcg.
    * Output per query: (queryCol, dcg_sum_ppm, idcg_sum_ppm,
    * ndcg_ppm). Per-query windows are bounded by the judgment list
    * (top-k lists — model-sized).
    */
  def ndcg(ranked: DataFrame, judgments: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def term(rel: Column, pos: Column): Column =
      when(rel > 0L,
        Stats.fixedPointExact(rel * lit(65536L),
          graft.plans.FixLog.log2qCol((pos + 1L).cast("long"))))
        .otherwise(0L)
    val judged = judgments.select(col(queryCol),
      col(itemCol), col(relCol).cast("long").as("__rel"))
    val dcg = ranked.filter(col(rankCol) <= k)
      .select(col(queryCol), col(itemCol),
        col(rankCol).cast("long").as("__pos"))
      .join(judged, Seq(queryCol, itemCol), "left")
      .select(col(queryCol),
        term(coalesce(col("__rel"), lit(0L)), col("__pos")).as("__t"))
      .groupBy(col(queryCol)).agg(sum(col("__t")).as("dcg_sum_ppm"))
    val wIdeal = Window.partitionBy(col(queryCol))
      .orderBy(col("__rel").desc, col(itemCol).asc)
    val idcg = judged.filter(col("__rel") > 0L)
      .withColumn("__pos", row_number().over(wIdeal).cast("long"))
      .filter(col("__pos") <= k)
      .select(col(queryCol), term(col("__rel"), col("__pos")).as("__t"))
      .groupBy(col(queryCol)).agg(sum(col("__t")).as("idcg_sum_ppm"))
    dcg.join(idcg, Seq(queryCol), "left")
      .select(col(queryCol), col("dcg_sum_ppm"),
        coalesce(col("idcg_sum_ppm"), lit(0L)).as("idcg_sum_ppm"))
      .withColumn("ndcg_ppm",
        when(col("idcg_sum_ppm") === 0L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("dcg_sum_ppm"),
            col("idcg_sum_ppm"))))
  }

  /** AVERAGE PRECISION (the PR-curve summary) of an integer score
    * against a binary label, deterministic cross-engine: rank all rows
    * by (score desc, tie-break id asc) with [[GroupRank]]'s exact rank,
    * and AP = mean over positives of precision@rank. Each
    * precision@rank is quantized ONCE to exact ppm (truncating-free
    * half-away rendering via [[Stats.fixedPointExact]] — a sum of
    * rationals with unrelated denominators has no single exact form,
    * so the DETERMINISTIC per-term quantization is the contract, the
    * FixLog bit-stability convention). Output: one row
    * (n_pos, n_rows, ap_sum_ppm, ap_ppm) — ap_ppm = ap_sum_ppm div
    * n_pos; NULL when no positives. The id tie-break makes ranks (and
    * therefore AP under score ties) reproducible — the pessimistic/
    * optimistic tie conventions bracket it. With no positive rows the
    * result is EMPTY (there is no mean to take).
    */
  def averagePrecision(pred: DataFrame, scoreCol: String, idCol: String,
      positive: Column): DataFrame = {
    val labeled = pred.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("long").as("__sc"),
        col(idCol).as("__id"),
        when(positive, 1L).otherwise(0L).as("__p"))
    val ranked = GroupRank.withRankAndCount(labeled, Nil,
      Seq(col("__sc").desc, col("__id").asc), "__rk", "__nr")
    // cumulative positives AT the rank = exclusive prefix + own label
    val pre = GroupRank.withPrefixSum(ranked, Nil,
      Seq(col("__sc").desc, col("__id").asc), "__p", "__posBefore",
      "__posTot")
    pre.filter(col("__p") === 1L)
      .select(Stats.fixedPointExact(col("__posBefore") + 1L, col("__rk"))
        .as("__prec"), col("__nr"), col("__posTot"))
      .groupBy(col("__nr"), col("__posTot"))
      .agg(sum(col("__prec")).as("ap_sum_ppm"))
      .select(col("__posTot").as("n_pos"), col("__nr").as("n_rows"),
        col("ap_sum_ppm"),
        expr("ap_sum_ppm div __posTot").as("ap_ppm"))
  }

  /** EXACT ISOTONIC CALIBRATION of a reliability table — weighted
    * isotonic regression (the PAV fit) of per-bucket accuracy on the
    * bucket index, computed NOT by the sequential pool-adjacent-
    * violators loop but by its geometric characterization: the
    * calibrated values are the left slopes of the GREATEST CONVEX
    * MINORANT of the cumulative (weight, correct) curve (Barlow &
    * Brunk 1972). Hull membership is a pure integer predicate — point
    * m lies on the minorant iff NO chord (j, k) passes strictly below
    * it: (S_m − S_j)(W_k − W_j) <= (S_k − S_j)(W_m − W_j), products in
    * decimal(38,0) — so the whole fit is relational (a triple join on
    * the BIN table) and replays exactly in the oracle; no sequential
    * merging, no floats.
    *
    * Input: a [[reliability]] frame (bin, n, n_correct). Output: +
    * (acc_ppm recomputed, cal_ppm) with cal_ppm nondecreasing in bin —
    * the monotone accuracy estimate to threshold on instead of raw
    * bucket accuracy. Bins are model-sized (<= domain of conf/bin); a
    * table above [[IsotonicMaxBins]] rows fails with a message instead
    * of flooding the driver.
    */
  def isotonicCalibrate(rel: DataFrame): DataFrame = {
    // The bin table is bounded by CONTRACT (one row per occupied
    // confidence bucket — model-sized at any corpus scale), yet the
    // relational hull fit ran it through ~30 bounded-data Spark jobs
    // per calibration (triple chord join, anti-join, two segment
    // aggregates, a no-partition cumulative window) — measured ~2-3 s
    // of pure scheduling/planning floor per consumer at sf0.1 for ~20
    // rows of arithmetic. The fit now collects the bin table (the
    // CentroidTable discipline: bounded aggregate to the driver, the
    // same bytes a broadcast would hold) and computes the greatest
    // convex minorant with the SAME integer arithmetic the relational
    // form ran — BigInt products replay decimal(38,0) exactly, and
    // fpExact below replays [[Stats.fixedPointExact]]'s half-up
    // rendering bit for bit (IsotonicParitySpec pins both against the
    // relational form). The corpus-sized work (reliability's aggregate)
    // stays distributed; downstream consumers read a LocalRelation.
    val spark = rel.sparkSession
    val rows = rel.select(col("bin").cast("long"), col("n").cast("long"),
        col("n_correct").cast("long"))
      .limit(IsotonicMaxBins + 1).collect()
    if (rows.length > IsotonicMaxBins) throw new IllegalArgumentException(
      "isotonicCalibrate: the bin table exceeds IsotonicMaxBins " +
        s"($IsotonicMaxBins rows); use a wider bin")
    val pts = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var wAcc = 0L
    var sAcc = 0L
    val cum = pts.map { case (b, n, c) =>
      wAcc += n; sAcc += c; (b, n, c, wAcc, sAcc)
    }
    // Vertex m is ON the minorant iff no chord (j, k) passes strictly
    // below it — the predicate the triple join evaluated. Vertices
    // arrive in strictly increasing W (counts are positive), so a
    // monotone-chain lower hull finds the same set in O(B): a vertex is
    // popped only when it lies STRICTLY above the chord from its
    // predecessor to the new vertex, so collinear vertices stay.
    val hull = scala.collection.mutable.ArrayBuffer((0L, 0L))
    cum.foreach { t =>
      val (wk, sk) = (t._4, t._5)
      def above: Boolean = hull.length >= 2 && {
        val (wj, sj) = hull(hull.length - 2)
        val (wm, sm) = hull.last
        BigInt(sm - sj) * BigInt(wk - wj) > BigInt(sk - sj) * BigInt(wm - wj)
      }
      while (above) hull.remove(hull.length - 1)
      hull += ((wk, sk))
    }
    // round-half-up of |num|*scale/den with the sign reapplied —
    // fixedPointExact's decimal staging verbatim (den > 0 throughout:
    // bin counts and hull spans are positive)
    def fpExact(num: Long, den: Long, scale: Long = 1000000L): Long = {
      val q = ((BigInt(num).abs * BigInt(2L * scale) + BigInt(den)) /
        BigInt(2L * den)).toLong
      if (num < 0) -q else q
    }
    // bin i sits on the hull segment (a, b] with Wa < W_i <= Wb: a the
    // greatest vertex strictly below, b the least at-or-above. W rises
    // with i, so one forward pointer walks the hull (the origin and the
    // last vertex are always on it, so both ends exist).
    var seg = 1
    val outRows: Seq[org.apache.spark.sql.Row] = cum.toSeq.map {
      case (b, n, c, w, _) =>
        while (hull(seg)._1 < w) seg += 1
        val ((wa, sa), (wb, sb)) = (hull(seg - 1), hull(seg))
        org.apache.spark.sql.Row(b, n, c, fpExact(c, n),
          fpExact(sb - sa, wb - wa))
    }
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("bin", LongType, nullable = true),
      StructField("n", LongType, nullable = true),
      StructField("n_correct", LongType, nullable = true),
      StructField("acc_ppm", LongType, nullable = true),
      StructField("cal_ppm", LongType, nullable = true)))
    spark.createDataFrame(outRows.asJava, schema)
  }

  /** Largest bin table [[isotonicCalibrate]] collects to the driver. */
  val IsotonicMaxBins = 100000

  /** MURPHY DECOMPOSITION of the Brier score over the calibrated
    * reliability table (Murphy 1973): with the isotonic fit's cal_ppm
    * as the forecast probability f_b and each bin's empirical accuracy
    * o_b,
    *
    *   BS = REL - RES + UNC,
    *   REL = (1/N) sum_b n_b (f_b - o_b)^2   (residual miscalibration
    *                                          after the PAV pooling),
    *   RES = (1/N) sum_b n_b (o_b - obar)^2  (resolution/discrimination),
    *   UNC = obar (1 - obar)                 (base-rate uncertainty)
    *
    * — the card separating "the scores can't rank" (low RES) from "the
    * probabilities are off" (high REL). Raw classifier margins aren't
    * probabilities, so graft decomposes the CALIBRATED forecaster —
    * REL measures what survives PAV (within-segment deviation, plus
    * ppm rounding), the honest residual.
    *
    * All terms are exact integers in ppm^2 units (ppm inputs, decimal-
    * widened squares, [[Stats.fixedPointExact]] at scale 1 for the
    * weighted means; round-half rendering). Input: an
    * [[isotonicCalibrate]] frame (bin, n, n_correct, acc_ppm,
    * cal_ppm) — bin-domain-sized, so every aggregate here is bounded
    * regardless of corpus size (one broadcast totals row, no windows).
    * Output: one row (n, base_ppm, rel_ppm2, res_ppm2, unc_ppm2,
    * brier_ppm2).
    */
  def brierDecomposition(cal: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tot = broadcast(cal.agg(sum(col("n")).as("__N"),
        sum(col("n_correct")).as("__NC"))
      .select(col("__N"),
        Stats.fixedPointExact(col("__NC"), col("__N")).as("__obar")))
    cal.crossJoin(tot)
      .agg(max(col("__N")).as("n"), max(col("__obar")).as("base_ppm"),
        sum((col("cal_ppm") - col("acc_ppm")).cast(dec) *
          (col("cal_ppm") - col("acc_ppm")).cast(dec) * col("n"))
          .as("__rel"),
        sum((col("acc_ppm") - col("__obar")).cast(dec) *
          (col("acc_ppm") - col("__obar")).cast(dec) * col("n"))
          .as("__res"))
      .select(col("n"), col("base_ppm"),
        Stats.fixedPointExact(col("__rel"), col("n"), scale = 1L)
          .as("rel_ppm2"),
        Stats.fixedPointExact(col("__res"), col("n"), scale = 1L)
          .as("res_ppm2"),
        Stats.fixedPointExact(
          col("base_ppm") * (lit(1000000L) - col("base_ppm")),
          lit(1000000L), scale = 1L).as("unc_ppm2"))
      .withColumn("brier_ppm2",
        col("rel_ppm2") - col("res_ppm2") + col("unc_ppm2"))
  }

  /** EXPECTED CALIBRATION ERROR over the calibrated reliability table
    * — the L1 twin of [[brierDecomposition]]'s quadratic REL term and
    * the single number calibration dashboards report:
    * ECE = Σ_b n_b·|f_b − o_b| / N with f the isotonic forecast and o
    * the empirical bin accuracy, both already exact ppm integers, so
    * ECE is one exact weighted mean in ppm. Input:
    * [[isotonicCalibrate]] output. Output: one row (n, ece_ppm).
    */
  def ece(cal: DataFrame): DataFrame =
    cal.agg(sum(col("n")).as("n"),
        sum(abs(col("cal_ppm") - col("acc_ppm")) * col("n")).as("__l1"))
      .select(col("n"),
        Stats.fixedPointExact(col("__l1"), col("n"), scale = 1L)
          .as("ece_ppm"))

  /** Reliability (calibration) table: predictions bucketed by an
    * integer confidence column (truncating division by `binWidth`),
    * each bucket's exact count, correct count, and accuracy ppm —
    * accuracy rising with the bucket index IS calibration. NULL
    * confidences (e.g. single-class margins) drop out.
    * Output: (bin, n, n_correct, acc_ppm), one row per occupied bin.
    */
  def reliability(pred: DataFrame, confCol: String, correct: Column,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    pred.filter(col(confCol).isNotNull)
      .select(GroupRank.intDiv(col(confCol).cast("long"), lit(binWidth))
        .as("bin"), when(correct, 1L).otherwise(0L).as("__c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("n_correct"))
      .select(col("bin"), col("n"), col("n_correct"),
        Stats.fixedPointExact(col("n_correct"), col("n")).as("acc_ppm"))
  }

  /** Classification by retrieval: majority vote over a top-k neighbor
    * table — the k-NN classifier that turns any ANN index into a label
    * propagator for weakly-labeled corpora (and, run self-supervised
    * over the training set, the leave-self-out sanity check of the
    * embedding space: can labels be recovered from neighbors alone?).
    * Vote ties break by label order — deterministic cross-engine.
    * Output: (queryCol, pred_label, true_label, correct).
    *
    * Scale: neighbor tables are k-bounded per query, so both the vote
    * count and the top-1 window ride queries×labels-sized data; the
    * label joins are id-equi-joins against the (broadcastable) label
    * frame.
    */
  def knnClassify(neighbors: DataFrame, labels: DataFrame,
      queryCol: String, neighborCol: String, idCol: String,
      labelCol: String): DataFrame = {
    val votes = neighbors
      .join(labels.select(col(idCol).as(neighborCol),
        col(labelCol).cast("long").as("__nl")), Seq(neighborCol))
      .groupBy(col(queryCol), col("__nl"))
      .agg(count(lit(1)).as("__v"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("__v").desc, col("__nl").asc)
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(labels.select(col(idCol).as(queryCol),
        col(labelCol).cast("long").as("true_label")), Seq(queryCol))
      .select(col(queryCol), col("__nl").as("pred_label"),
        col("true_label"),
        (col("__nl") === col("true_label")).as("correct"))
  }

  /** Selective-prediction risk/coverage curve — the deployment
    * thresholding card (El-Yaniv & Wiener 2010): for every confidence
    * bin b, accepting ONLY predictions with confidence >= b yields
    * coverage = accepted/total and selective risk = errors/accepted.
    * Reading the curve top-down gives the operating point for any
    * target risk — the number a gated quality classifier ships with.
    * Computed as cumulative-from-the-top sums over the
    * [[reliability]] bin table, so the window rides the BOUNDED bin
    * domain, never rows. Output per occupied bin:
    * (bin, n_bin, n_accepted, n_correct, coverage_ppm, risk_ppm).
    */
  def selectiveRisk(pred: DataFrame, confCol: String, correct: Column,
      binWidth: Long): DataFrame = {
    val rel = reliability(pred, confCol, correct, binWidth)
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rel.agg(sum(col("n")).as("__t"))
    rel.select(col("bin"), col("n").as("n_bin"), col("n_correct"))
      .withColumn("n_accepted", sum(col("n_bin")).over(w))
      .withColumn("__ca", sum(col("n_correct")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_bin"), col("n_accepted"),
        col("__ca").as("n_correct"),
        Stats.fixedPointExact(col("n_accepted"), col("__t"))
          .as("coverage_ppm"),
        Stats.fixedPointExact(col("n_accepted") - col("__ca"),
          col("n_accepted")).as("risk_ppm"))
  }

  /** Cluster purity per cell — an unsupervised clustering graded
    * against reference labels: each cell's majority label share,
    * purity = n_top / n in exact ppm (the corpus-level purity is the
    * support-weighted mean; per-cell rows expose WHICH cells are
    * mixed). Majority ties break by label order — deterministic
    * cross-engine. Output: (cell, n, top_label, n_top, purity_ppm).
    *
    * Scale: one id-equi-join of assignment to labels, then
    * cells×labels-sized aggregates and a cell-keyed top-1 window over
    * that bounded table.
    */
  def clusterPurity(assigned: DataFrame, labels: DataFrame,
      idCol: String, cellCol: String, labelCol: String): DataFrame = {
    val joined = assigned.select(col(idCol),
        col(cellCol).cast("long").as("cell"))
      .join(labels.select(col(idCol),
        col(labelCol).cast("long").as("__lab")), Seq(idCol))
      .groupBy(col("cell"), col("__lab"))
      .agg(count(lit(1)).as("__n"))
    val tot = joined.groupBy(col("cell")).agg(sum(col("__n")).as("n"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("__n").desc, col("__lab").asc)
    val top = joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cell"), col("__lab").as("top_label"),
        col("__n").as("n_top"))
    tot.join(top, Seq("cell"))
      .select(col("cell"), col("n"), col("top_label"), col("n_top"),
        Stats.fixedPointExact(col("n_top"), col("n")).as("purity_ppm"))
  }

  /** Expected reciprocal rank at `k` (Chapelle et al. 2009) — the
    * cascade-model serving metric completing the retrieval family
    * (recall = set view, MRR = first hit, MAP/NDCG = graded area,
    * RBO = rank agreement): ERR = sum_r (1/r)·R_r·prod_{i<r}(1-R_i)
    * with R = (2^g - 1)/2^gmax, modeling a user who stops at the first
    * satisfying result. All R are dyadic rationals, so the stop-mass
    * product is EXACT integer arithmetic (numerator over 2^(gmax·r));
    * each term is quantized ONCE to exact ppm (the [[averagePrecision]]
    * convention: a sum of unrelated-denominator rationals has no single
    * exact form, so deterministic per-term quantization is the
    * contract). The per-query fold runs over the sorted ≤k-element
    * gain list inside ONE codegen'd `aggregate` HOF — no recurrence
    * join, no window. Unjudged ranked items carry gain 0 (full mass
    * passes through). Output: (queryCol, err_ppm).
    *
    * Long audit (k ≤ 10, gmax ≤ 5): stop-mass numerator ≤ 2^(gmax·k)
    * = 2^50 at the extreme; the shipped gmax=5/k=5 keeps every
    * intermediate under 2^52.
    */
  def errAtK(ranked: DataFrame, judgments: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, relCol: String, k: Int,
      gmax: Int): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in [1,10], got $k")
    require(gmax >= 1 && gmax <= 5, s"gmax must be in [1,5], got $gmax")
    val d = 1L << gmax
    val judged = judgments.select(col(queryCol), col(itemCol),
      col(relCol).cast("long").as("__rel"))
    ranked.filter(col(rankCol) <= k)
      .join(judged, Seq(queryCol, itemCol), "left")
      .select(col(queryCol), struct(col(rankCol).cast("long").as("r"),
        coalesce(col("__rel"), lit(0L)).as("g")).as("__s"))
      .groupBy(col(queryCol))
      .agg(sort_array(collect_list(col("__s"))).as("__lst"))
      .select(col(queryCol),
        // state: array(p_num over D^r, r, acc_ppm); term_ppm is the
        // half-away rendering of rel_num·p_num / (D^r·r) at 1e6
        expr(s"""
          aggregate(transform(__lst, s -> s.g),
            array(1L, 0L, 0L),
            (acc, g) -> array(
              acc[0] * (${d}L - (shiftleft(1L, cast(g as int)) - 1L)),
              acc[1] + 1L,
              acc[2] +
                (2L * (shiftleft(1L, cast(g as int)) - 1L) * acc[0]
                   * 1000000L
                 + shiftleft(1L, $gmax * cast(acc[1] + 1L as int))
                   * (acc[1] + 1L))
                div (2L * shiftleft(1L, $gmax * cast(acc[1] + 1L as int))
                     * (acc[1] + 1L))))[2]
        """).as("err_ppm"))
  }

  /** Cohen's kappa — chance-corrected agreement from a [[confusion]]
    * matrix: kappa = (p_o - p_e) / (1 - p_e) with p_o = trace/N and
    * p_e = sum_c rowTotal(c)·colTotal(c) / N², collapsed to ONE exact
    * rational: kappa = (N·agree - pe_num) / (N² - pe_num),
    * pe_num = sum_c rowTotal(c)·colTotal(c). The inter-annotator /
    * classifier-vs-gold agreement statistic accuracy alone overstates
    * under class imbalance. One row: (n, agree, pe_num, kappa_ppm);
    * a degenerate matrix (p_e = 1: both sides constant) renders NULL.
    *
    * Scale: class-squared inputs, class-sized marginals — aggregate
    * data end to end. Products accumulate in decimal(38,0); the
    * BIGINT renderings are valid to ~3e9 evaluated rows (N² in the
    * long domain), far past any eval table.
    */
  def cohenKappa(conf: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tot = conf.agg(sum(col("n")).as("n"),
      sum(when(col("true_class") === col("pred_class"), col("n"))
        .otherwise(0L)).as("agree"))
    val rows = conf.groupBy(col("true_class").as("__c"))
      .agg(sum(col("n")).as("__rt"))
    val cols = conf.groupBy(col("pred_class").as("__c"))
      .agg(sum(col("n")).as("__ct"))
    // inner join: a class absent from either margin contributes 0
    val pe = rows.join(cols, Seq("__c"))
      .agg(coalesce(sum((col("__rt").cast("decimal(19,0)") * col("__ct"))
        .cast(dec)), lit(0).cast(dec)).cast(dec).as("__pe"))
    tot.crossJoin(pe)
      .select(col("n"), col("agree"), col("__pe").cast("long").as("pe_num"),
        (expr(s"CAST(n AS $dec) * n").cast(dec) - col("__pe")).cast(dec)
          .as("__den"),
        (expr(s"CAST(n AS $dec) * agree").cast(dec) - col("__pe")).cast(dec)
          .as("__num"))
      .select(col("n"), col("agree"), col("pe_num"),
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("__num"), col("__den")))
          .as("kappa_ppm"))
  }

  /** PER-SLICE ACCURACY — the fairness/robustness audit a single
    * aggregate accuracy hides: the same classifier can be 95% on the
    * majority slice and 60% on a minority one, and the aggregate
    * won't say so. One partial-aggregable pass; exact counts and ppm
    * per slice. The max−min gap across the returned rows is the
    * standard worst-slice fairness reading. Output:
    * (sliceCol, n, n_correct, acc_ppm), one row per slice.
    */
  def sliceAccuracy(pred: DataFrame, sliceCol: String,
      correct: Column): DataFrame =
    pred.groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(correct, 1L).otherwise(0L)), lit(0L))
          .as("n_correct"))
      .select(col(sliceCol), col("n"), col("n_correct"),
        Stats.fixedPointExact(col("n_correct"), col("n")).as("acc_ppm"))

  /** SPLIT CONFORMAL prediction sets over a (id, class, score_q)
    * posterior table — the distribution-free coverage machinery
    * (Vovk et al.; Angelopoulos & Bates 2022): calibrate the
    * nonconformity a(x, c) = top_score(x) − score(x, c) on held-out
    * labeled rows (τ = the ceil-rank (1−α) quantile of the true
    * class's nonconformity), then the prediction set on new rows is
    * every class within τ of the top — and coverage ≥ 1 − α holds by
    * exchangeability, for ANY underlying scorer. The audit this
    * computes: empirical coverage and mean set size on the eval half
    * (the efficiency/validity trade every conformal deployment
    * reports). A calibration row whose true class never scored
    * (vocabulary miss) carries infinite nonconformity — it counts in
    * the quantile denominator and can push τ to NULL (degenerate
    * calibration) but never shrinks it.
    *
    * Exact integers end to end: scores are the house log-posterior
    * integers, τ a rank-selected value ([[Robust.groupQuantiles]]'
    * ceil-rank convention), coverage/set sizes exact counts in ppm.
    * One row: (n_cal, m_cal, tau_q, n_eval, covered, coverage_ppm,
    * avg_set_ppm).
    *
    * Scale shape: one exact rank over the calibration nonconformities,
    * id-keyed equi-joins, class-count-bounded per-doc set counting —
    * no row-domain windows.
    */
  def conformalSplit(posteriors: DataFrame, truth: DataFrame,
      idCol: String, truthCol: String, calPred: Column,
      alphaBps: Int = 1000): DataFrame = {
    require(alphaBps >= 1 && alphaBps <= 9999,
      s"alphaBps must be in [1, 9999], got $alphaBps")
    val top = posteriors.filter(col("rank") === 1)
      .select(col(idCol), col("score_q").as("__top"))
    // Materialized once: the nonconformity table feeds FOUR consumers
    // (calibration counts, the τ rank, the eval coverage fold, and the
    // set-size semi-join), and each used to re-execute the top/truth/
    // posterior join chain — measured as 60 warm jobs, none above
    // 0.13 s, for one ~n-row narrow relation. Linear storage (id, a,
    // cal), the NB-chain checkpoint discipline.
    val aTrue = top
      .join(truth.select(col(idCol), col(truthCol).as("__y")), Seq(idCol))
      .join(posteriors.select(col(idCol), col("class").as("__y"),
        col("score_q").as("__sy")), Seq(idCol, "__y"), "left")
      .select(col(idCol), (col("__top") - col("__sy")).as("__a"),
        calPred.as("__cal"))
      .checkpointed
    val cal = aTrue.filter(col("__cal"))
    val calCnt = cal.agg(count(lit(1)).as("n_cal"),
      count(col("__a")).as("m_cal"))
    val tau = GroupRank.withRankAndCount(
        cal.filter(col("__a").isNotNull).select(col("__a")),
        Nil, Seq(col("__a").asc), "__rn", "__m")
      .crossJoin(broadcast(calCnt))
      .filter(col("__rn") === GroupRank.intDiv(
        col("n_cal") * (10000L - alphaBps) + 9999L, lit(10000L)))
      .select(col("__a").as("tau_q"))
    val tauRow = calCnt.join(broadcast(tau), lit(true), "left")
    val evalRows = aTrue.filter(!col("__cal"))
    val evalAgg = evalRows.crossJoin(broadcast(tauRow))
      .agg(count(lit(1)).as("n_eval"),
        coalesce(sum(when(col("__a").isNotNull &&
          col("__a") <= col("tau_q"), 1L).otherwise(0L)), lit(0L))
          .as("covered"))
    val setSizes = posteriors
      .join(evalRows.select(col(idCol)), Seq(idCol), "left_semi")
      .join(top, Seq(idCol))
      .crossJoin(broadcast(tauRow.select(col("tau_q"))))
      .filter(col("__top") - col("score_q") <= col("tau_q"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("__sizes"))
    broadcast(tauRow).crossJoin(evalAgg).crossJoin(broadcast(setSizes))
      .select(col("n_cal"), col("m_cal"), col("tau_q"), col("n_eval"),
        col("covered"),
        when(col("n_eval") === 0L || col("tau_q").isNull,
          lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("covered"), col("n_eval")))
          .as("coverage_ppm"),
        when(col("n_eval") === 0L || col("tau_q").isNull,
          lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("__sizes"), col("n_eval")))
          .as("avg_set_ppm"))
  }

  /** AREA UNDER THE PRECISION-RECALL CURVE (average precision over
    * score thresholds) of a binary scorer — the imbalance-native
    * companion of [[aucExact]]: where ROC-AUC stays rosy when
    * negatives dominate, AP prices every false positive against the
    * positive count. Threshold convention: one PR point per DISTINCT
    * score (descending — ties enter together, the deterministic
    * cross-engine form of the curve),
    *
    *   AP = Σ_g ΔTP_g · precision_g / n_pos,
    *   precision_g = TP_≥g / (TP_≥g + FP_≥g)
    *
    * quantized per threshold at 10^6 by integral division (the chi2
    * cell discipline), summed exactly, rendered once. One row:
    * (n_pos, n_neg, ap_ppm). Scale shape: the cumulative scan rides
    * the distinct-score domain, never rows.
    */
  def prAuc(pred: DataFrame, scoreCol: String,
      positive: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val perScore = scoreCounts(pred, scoreCol, positive)
      .withColumn("__nt", col("__np") + col("__nn"))
    val withTp = GroupRank.withPrefixSum(perScore, Nil,
      Seq(col("__sc").desc), "__np", "__tpAbove", "__tpTot")
    val withCum = GroupRank.withPrefixSum(
      withTp, Nil, Seq(col("__sc").desc), "__nt", "__ctAbove",
      "__ctTot")
    val terms = withCum
      .select(col("__np"), col("__nn"),
        ((col("__tpAbove") + col("__np")).cast("decimal(19,0)") *
          col("__np") * lit(1000000L)).cast(dec).as("__num"),
        (col("__ctAbove") + col("__nt")).cast(dec).as("__den"))
      .select(col("__np"), col("__nn"),
        ((col("__num") - (col("__num") % col("__den"))) / col("__den"))
          .cast(dec).as("__t"))
    terms.agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        coalesce(sum(col("__t")), lit(0).cast(dec)).cast(dec).as("__s"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("__s"),
            (col("n_pos").cast("decimal(19,0)") * lit(1000000L))
              .cast(dec))).as("ap_ppm"))
  }

  /** McNEMAR's test on PAIRED classifier correctness — the right way
    * to ask "is model A actually better than model B on the same
    * rows": only the DISCORDANT pairs carry information (b = A right
    * where B wrong, c = the reverse), and χ² = (b−c)²/(b+c) under the
    * null that flips are symmetric. Comparing two accuracies with an
    * unpaired test wastes the pairing and overstates significance.
    * Exact integers; chi2_ppm vs 3.84·10^6 is the two-sided 5% read.
    * NULL when there are no discordant pairs (the models are
    * indistinguishable on this data — that IS the answer). One row:
    * (n, b, c, chi2_ppm); one partial-aggregable pass.
    */
  def mcnemar(paired: DataFrame, aCorrect: Column,
      bCorrect: Column): DataFrame = {
    val a = coalesce(aCorrect, lit(false))
    val b = coalesce(bCorrect, lit(false))
    paired.agg(count(lit(1)).as("n"),
        coalesce(sum(when(a && !b, 1L).otherwise(0L)), lit(0L)).as("b"),
        coalesce(sum(when(!a && b, 1L).otherwise(0L)), lit(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") === 0L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            (col("b") - col("c")).cast("decimal(19,0)") *
              (col("b") - col("c")),
            col("b") + col("c"))).as("chi2_ppm"))
  }

  /** Matthews correlation coefficient of a one-vs-rest binarization of
    * a multi-class confusion matrix — the single-number binary-quality
    * summary that, unlike accuracy or F1, stays honest under class
    * imbalance (it needs all four confusion cells to be good to be
    * high). Sqrt-free exact rendering: the gated columns are the four
    * cells, the covariance numerator mcc_num = tp·tn − fp·fn (its sign
    * IS MCC's sign), and mcc2_ppm = ppm of
    * MCC² = mcc_num² / ((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — NULL when any
    * margin is empty (the textbook 0/0). One row.
    */
  def mcc(conf: DataFrame, posClass: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = conf.agg(
      coalesce(sum(when(col("true_class") === posClass &&
        col("pred_class") === posClass, col("n"))), lit(0L)).as("tp"),
      coalesce(sum(when(col("true_class") =!= posClass &&
        col("pred_class") === posClass, col("n"))), lit(0L)).as("fp"),
      coalesce(sum(when(col("true_class") === posClass &&
        col("pred_class") =!= posClass, col("n"))), lit(0L)).as("fn"),
      coalesce(sum(when(col("true_class") =!= posClass &&
        col("pred_class") =!= posClass, col("n"))), lit(0L)).as("tn"))
    cells
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("decimal(19,0)") * col("tn") -
          col("fp").cast("decimal(19,0)") * col("fn")).cast(dec)
          .as("__num"),
        ((col("tp") + col("fp")).cast("decimal(19,0)") *
          (col("tp") + col("fn"))).cast(dec).as("__m1"),
        ((col("tn") + col("fp")).cast("decimal(19,0)") *
          (col("tn") + col("fn"))).cast(dec).as("__m2"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        col("__num").cast("long").as("mcc_num"),
        when(col("__m1") === 0 || col("__m2") === 0,
          lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            (col("__num") * col("__num")).cast(dec),
            (col("__m1") * col("__m2")).cast(dec))).as("mcc2_ppm"))
  }

  /** Exposure parity of a ranking (Singh & Joachims 2018's
    * fairness-of-exposure reading, with the integer-exact 1/rank
    * exposure model): per group, the share of total exposure its
    * members receive in a ranked result vs the share of the corpus the
    * group makes up — the audit that catches a retrieval stack
    * systematically amplifying one source/domain/language. Groups with
    * NO ranked member still emit a row (exposure share 0, corpus share
    * real — the worst finding this report exists to surface).
    *
    * exposure(rank r) = 1e6 div r (integer), shares are
    * [[Stats.fixedPointExact]] ppm, gap = exposure share − corpus
    * share (signed ppm; positive = over-exposed).
    *
    * Scale: ranked results are top-k bounded by construction; the only
    * corpus-sized work is one group count. Output: one row per group —
    * (groupCol, n_ranked, exp_sum_e6, exp_share_ppm, corpus_share_ppm,
    * parity_gap_ppm).
    */
  def exposureParity(ranked: DataFrame, idCol: String, rankCol: String,
      universe: DataFrame, groupCol: String): DataFrame = {
    val ex = ranked
      .select(col(idCol), expr(s"1000000L div $rankCol").as("__e"))
      .join(universe.select(col(idCol), col(groupCol).as("__grp")),
        Seq(idCol))
    val ge = ex.groupBy(col("__grp"))
      .agg(count(lit(1)).as("n_ranked"), sum(col("__e")).as("__es"))
    val tote = ex.agg(sum(col("__e")).as("__te"))
    val cs = universe.groupBy(col(groupCol).as("__grp"))
      .agg(count(lit(1)).as("__nd"))
    val totd = universe.agg(count(lit(1)).as("__ndall"))
    cs.join(ge, Seq("__grp"), "left")
      .crossJoin(tote).crossJoin(totd)
      .select(col("__grp").as(groupCol),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("__es"), lit(0L)).as("exp_sum_e6"),
        Stats.fixedPointExact(coalesce(col("__es"), lit(0L)), col("__te"))
          .as("exp_share_ppm"),
        Stats.fixedPointExact(col("__nd"), col("__ndall"))
          .as("corpus_share_ppm"))
      .withColumn("parity_gap_ppm",
        col("exp_share_ppm") - col("corpus_share_ppm"))
  }

  /** Equalized-odds audit of a binary-ized classifier across groups
    * (Hardt et al. 2016): per group, TPR = P(pred = + | y = +) and
    * FPR = P(pred = + | y = −) in exact ppm, plus the whole-table
    * max−min gaps repeated on every row — a classifier is
    * equalized-odds fair when both gaps are ~0. The fairness gate for
    * any model-based corpus filter (quality classifier, language gate):
    * a filter whose TPR differs by group throttles that group's data.
    *
    * Degenerate groups (no positives / no negatives) render NULL rates
    * and are excluded from the gaps by max/min's NULL semantics (same
    * in both engines).
    *
    * Output: (groupCol, tp, fp, fn, tn, tpr_ppm, fpr_ppm,
    * eo_tpr_gap_ppm, eo_fpr_gap_ppm), one row per group.
    */
  def equalizedOdds(pred: DataFrame, idCol: String, predCol: String,
      truth: DataFrame, labelCol: String, groupCol: String,
      positive: String): DataFrame = {
    val j = pred.select(col(idCol), col(predCol).as("__p"))
      .join(truth.select(col(idCol), col(labelCol).as("__y"),
        col(groupCol).as("__grp")), Seq(idCol))
      .select(col("__grp"),
        when(col("__p") === positive, 1L).otherwise(0L).as("__pp"),
        when(col("__y") === positive, 1L).otherwise(0L).as("__yy"))
    val g = j.groupBy(col("__grp")).agg(
      sum(col("__pp") * col("__yy")).as("tp"),
      sum(col("__pp") * (lit(1L) - col("__yy"))).as("fp"),
      sum((lit(1L) - col("__pp")) * col("__yy")).as("fn"),
      sum((lit(1L) - col("__pp")) * (lit(1L) - col("__yy"))).as("tn"))
    val r = g.select(col("__grp"), col("tp"), col("fp"), col("fn"),
      col("tn"),
      when(col("tp") + col("fn") === 0L, lit(null).cast("long"))
        .otherwise(Stats.fixedPointExact(col("tp"),
          col("tp") + col("fn"))).as("tpr_ppm"),
      when(col("fp") + col("tn") === 0L, lit(null).cast("long"))
        .otherwise(Stats.fixedPointExact(col("fp"),
          col("fp") + col("tn"))).as("fpr_ppm"))
    val gaps = r.agg(
      (max(col("tpr_ppm")) - min(col("tpr_ppm"))).as("eo_tpr_gap_ppm"),
      (max(col("fpr_ppm")) - min(col("fpr_ppm"))).as("eo_fpr_gap_ppm"))
    r.crossJoin(gaps)
      .withColumnRenamed("__grp", groupCol)
  }
}
