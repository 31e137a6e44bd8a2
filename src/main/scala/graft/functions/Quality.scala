package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for training-data pipelines: heuristic
  * document-quality gating (Gopher/C4-style rules) and PII redaction.
  *
  * Everything here is per-row, scan-stage column arithmetic — no shuffle,
  * no UDFs — so the filters run at parquet-scan speed and push down where
  * the planner allows. Arithmetic follows the repo's oracle-parity rules:
  * integer counts cast to double with a fixed evaluation order, no
  * transcendentals, and regexes restricted to the Java∩RE2 common subset
  * so DuckDB reproduces every value bit-for-bit.
  */
object Quality {

  /** Fraction of word `n`-grams that are repeats of an earlier gram in the
    * same document: 1 - distinct/total (0 for docs shorter than n tokens).
    * The classic boilerplate/spam signal ("repetition ratio") from the
    * Gopher quality rules.
    */
  def repetitionRatio(text: Column, n: Int): Column =
    // coalesce preserves the composed HOF form's 0.0-on-NULL contract
    // (wordNgrams folds a NULL doc to an empty gram list); the codegen'd
    // expression itself is null-intolerant. Semantically
    // `1 - size(array_distinct(wordNgrams))/size(wordNgrams)`, whose
    // interpreted per-gram lambdas were the corpus scan's dominant cost.
    coalesce(graft.plans.TextExpressions.repetitionRatio(text, n), lit(0.0))

  /** Gopher/C4-style keep decision from the five scan-stage signals.
    * Bounds are inclusive; callers tune them per corpus.
    */
  def keepRule(nTokens: Column, avgTokLen: Column, stopRatio: Column,
      punctRatio: Column, repRatio: Column,
      minTokens: Long = 10L, maxTokens: Long = 100000L,
      minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
      maxStopRatio: Double = 0.6, maxPunctRatio: Double = 0.2,
      maxRepRatio: Double = 0.3): Column =
    nTokens.between(minTokens, maxTokens) &&
      avgTokLen.between(minAvgTokLen, maxAvgTokLen) &&
      (stopRatio <= maxStopRatio) &&
      (punctRatio <= maxPunctRatio) &&
      (repRatio <= maxRepRatio)

  /** Keep the top `keepBps`/10000 fraction of each group, ranked by
    * `scoreCol` descending with `tieCol` as the deterministic tie-break —
    * the RELATIVE quality gate (keep the best 25% of every source) where
    * [[keepRule]] is the absolute one. Relative gating self-adapts to
    * per-source score distributions: a threshold tuned on one source
    * over- or under-prunes another, but a percentile never does.
    *
    * Exact integer keep rule — rank·10000 <= group_count·keepBps,
    * i.e. rank <= floor(n·bps/10000) — no floating-point percentile
    * boundary to disagree across engines, in LONG arithmetic (a 32-bit
    * rank·10000 wraps negative past ~214k rows per group — exactly the
    * per-source sizes this gate exists for). Ties in the score are
    * broken by `tieCol`, so the kept set is deterministic under any
    * partitioning.
    *
    * Ranking is [[GroupRank.withRankAndCount]], so a 30 TB source is
    * many parallel sort slices — never one group-keyed sort task.
    */
  def percentileGate(df: org.apache.spark.sql.DataFrame, groupCol: String,
      scoreCol: String, keepBps: Int, tieCol: String): org.apache.spark.sql.DataFrame = {
    require(keepBps >= 0 && keepBps <= 10000,
      s"keepBps must be in [0, 10000], got $keepBps")
    GroupRank.withRankAndCount(df, Seq(groupCol),
        Seq(col(scoreCol).desc, col(tieCol).asc), "__rn", "__n")
      .filter(col("__rn") * lit(10000L) <= col("__n") * lit(keepBps.toLong))
      .drop("__rn", "__n")
  }

  /** SAMPLED-THRESHOLD percentile gate — the 100 TB form of
    * [[percentileGate]], completing the sampled order-statistic family
    * ([[LangModel.lmBucketsSampled]], [[Robust.winsorizeSampled]]):
    * the per-group keep threshold is the score at sample ceil-rank
    * K = (n_s · keepBps) div 10000 of a deterministic hash sample
    * ([[Sampling.hashOrder]] mod 1000 < samplePerMille, replayed
    * bit-exact by the oracle), and every row passes SCAN-STAGE against
    * the broadcast (group, threshold) table — no corpus-wide rank.
    *
    * Keep rule: score >= threshold (a whole tie run at the boundary
    * keeps together — thresholds cannot split ties the way the exact
    * gate's rank tie-break does; on tie-free scores a FULL sample
    * reproduces [[percentileGate]] exactly, spec-pinned). A sampled
    * group whose K is 0 keeps nothing, like the exact gate at
    * n·keepBps < 10000; a group with ZERO sampled rows falls back to
    * the exact ranking over its own rows (cheap by construction).
    */
  def percentileGateSampled(df: org.apache.spark.sql.DataFrame,
      groupCol: String, scoreCol: String, keepBps: Int, tieCol: String,
      idCol: String, samplePerMille: Int = 100): org.apache.spark.sql.DataFrame = {
    require(keepBps >= 0 && keepBps <= 10000,
      s"keepBps must be in [0, 10000], got $keepBps")
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille must be in [1, 1000], got $samplePerMille")
    val ranked = GroupRank.withRankAndCount(
      df.filter(pmod(Sampling.hashOrder(col(idCol)), lit(1000L))
          < samplePerMille)
        .select(col(groupCol), col(scoreCol), col(tieCol)),
      Seq(groupCol), Seq(col(scoreCol).desc, col(tieCol).asc), "__rn", "__n")
    val thr = ranked.groupBy(col(groupCol))
      .agg(max(when(col("__rn") ===
          GroupRank.intDiv(col("__n") * keepBps.toLong, lit(10000L)),
        col(scoreCol))).as("__thr"))
      .withColumn("__smp", lit(true))
    val assigned = df.join(broadcast(thr), Seq(groupCol), "left")
    val covered = assigned.filter(col("__smp"))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr", "__smp")
    val fallback = percentileGate(
      assigned.filter(col("__smp").isNull).drop("__thr", "__smp"),
      groupCol, scoreCol, keepBps, tieCol)
    covered.unionByName(fallback)
  }

  // ------------------------------------------------------------------
  // PII redaction
  // ------------------------------------------------------------------

  /** Regexes in the Java∩RE2 common subset (no backreferences, no
    * lookaround), so Spark and the DuckDB oracle match identical spans.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{7,15}"

  /** QUANTILE NORMALIZATION across groups — map every row's value onto
    * the POOLED distribution at its within-group relative rank (the
    * cross-source score-calibration standard: after it, "top 10% of
    * source A" and "top 10% of source B" mean the same pooled value, so
    * one global threshold treats heterogeneous sources fairly). Exact
    * integer arithmetic: within-group rank r of n rows maps to pooled
    * position p = ceil(r * N / n) = (r*N + n - 1) div n, and the
    * normalized value is the pooled order statistic at p (pooled order
    * = (value, group, id) — a deterministic total order).
    *
    * Both rankings are [[GroupRank.withRankAndCount]], and the lookup is
    * one equi-join on the pooled rank — never a single-task sort.
    *
    * Output: the input columns plus (rank_in_group, norm_v).
    */
  def quantileNormalize(df: org.apache.spark.sql.DataFrame,
      groupCol: String, valueCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ranked = GroupRank.withRankAndCount(df, Seq(groupCol),
      Seq(col(valueCol).asc, col(idCol).asc), "rank_in_group", "__qn")
    val pooled = GroupRank.withRankAndCount(df, Nil,
        Seq(col(valueCol).asc, col(groupCol).asc, col(idCol).asc),
        "__qpr", "__qpn")
      .select(col("__qpr"), col(valueCol).as("norm_v"))
    val total = df.agg(count(lit(1)).as("__qNtot"))
    ranked.crossJoin(broadcast(total))
      // rank * N widened to decimal(38,0): the long product wraps
      // silently (non-ANSI) past ~3e9 total rows; IntegralDivide on
      // decimal still returns BIGINT, and p <= N always fits it
      .withColumn("__qpr", GroupRank.intDiv(
        (col("rank_in_group").cast("decimal(19,0)") * col("__qNtot"))
          .cast("decimal(38,0)") + col("__qn") - 1L,
        col("__qn")))
      .join(pooled, Seq("__qpr"))
      .drop("__qpr", "__qn", "__qNtot")
  }

  /** Keep at most `k` rows of each group, best-first — the per-domain cap
    * of crawl curation (RefinedWeb/Falcon caps documents per registered
    * domain so no single site dominates the mixture; the same gate caps
    * per-source contributions before mixing). Ranked by `scoreCol`
    * descending with `tieCol` as the deterministic tie-break; emits the
    * within-group rank as `rankCol`.
    *
    * Rides [[GroupRank]], so a 30 TB domain never becomes one sort task
    * (a `row_number()` window would be one task per group).
    */
  def groupCap(df: org.apache.spark.sql.DataFrame, groupCol: String,
      scoreCol: String, tieCol: String, k: Long,
      rankCol: String = "rnk"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    GroupRank.withRankAndCount(df, Seq(groupCol),
        Seq(col(scoreCol).desc, col(tieCol).asc), rankCol, "__gcn")
      .filter(col(rankCol) <= k)
      .drop("__gcn")
  }

  /** Redact emails, IPv4 addresses, and +international phone numbers to
    * typed placeholder tags. Email first: its character class covers
    * digits and dots, so redacting narrower patterns first could split an
    * address and leave fragments behind.
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val i = regexp_replace(e, Ipv4Re, "<IP>")
    regexp_replace(i, PhoneRe, "<PHONE>")
  }

  /** Match counts per PII class on the ORIGINAL text (for audit columns
    * alongside the redacted output).
    */
  def emailCount(text: Column): Column = size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def ipv4Count(text: Column): Column = size(regexp_extract_all(text, lit(Ipv4Re), lit(0)))
  def phoneCount(text: Column): Column = size(regexp_extract_all(text, lit(PhoneRe), lit(0)))

  /** Per-group corpus DATA CARD — the datasheet row a dataset release
    * publishes per source/shard: document and token mass, short-doc and
    * PII-bearing-doc counts, and the mean quality score. One scan-stage
    * projection (token counts, quality, PII flags are all per-row
    * expressions) into ONE partial-aggregable groupBy — the cheapest
    * possible full-corpus audit at 100 TB.
    *
    * The quality mean hash-matches across engines because each per-row
    * score is quantized to an integer (floor of 10^6 × score) BEFORE
    * summing — integer sums are order-free where double sums are not —
    * and divided once at the end.
    *
    * Output: (groupCol, n_docs, n_tokens, short_docs, pii_docs,
    * mean_quality).
    */
  def corpusCard(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, stopwords: Seq[String],
      minTokens: Int = 10): org.apache.spark.sql.DataFrame = {
    docs.select(col(groupCol),
        Text.tokenCount(col(textCol)).cast("long").as("__nt"),
        floor(Text.qualityScore(col(textCol), stopwords) *
          lit(1000000.0)).cast("long").as("__q"),
        (emailCount(col(textCol)) + ipv4Count(col(textCol)) +
          phoneCount(col(textCol)) > 0).as("__pii"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(when(col("__nt") < minTokens, 1L).otherwise(0L)).as("short_docs"),
        sum(when(col("__pii"), 1L).otherwise(0L)).as("pii_docs"),
        sum(col("__q")).as("__sum_q"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("short_docs"), col("pii_docs"),
        round(col("__sum_q").cast("double") /
          (col("n_docs") * lit(1000000L)).cast("double"), 6)
          .as("mean_quality"))
  }

  /** Template/boilerplate detection per source — the share of a
    * source's documents opening with the source's single most common
    * `n`-token prefix (polyHash'd): crawl sources whose docs share a
    * boilerplate header/navigation block score high and get a
    * prefix-stripping pass before training (the C4/CCNet boilerplate
    * concern at the document level, complementing line-level dedup's
    * within-doc view). Modal-prefix ties break by hash — deterministic.
    * Output: (groupCol, n_docs, top_prefix_hash, n_top, share_ppm).
    *
    * Scale: one scan-stage prefix hash, two partial-aggregable
    * groupBys, a group-keyed top-1 window over the group×prefix-type
    * table.
    */
  def boilerplateShare(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val prefix = concat_ws(" ",
      slice(Text.tokens(col(textCol)), 1, n))
    val cnt = docs
      .select(col(groupCol).as("__g"),
        graft.plans.TextExpressions.polyHash(prefix).as("__p"))
      .groupBy(col("__g"), col("__p"))
      .agg(count(lit(1)).as("__n"))
    val tot = cnt.groupBy(col("__g")).agg(sum(col("__n")).as("n_docs"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__n").desc, col("__p").asc)
    val top = cnt.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__g"), col("__p").as("top_prefix_hash"),
        col("__n").as("n_top"))
    tot.join(top, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_docs"),
        col("top_prefix_hash"), col("n_top"),
        Stats.fixedPointExact(col("n_top"), col("n_docs"))
          .as("share_ppm"))
  }

  /** k-anonymity / l-diversity audit over quasi-identifier groups —
    * the privacy screen a corpus gets before release (Sweeney 2002;
    * Machanavajjhala et al. 2007): every combination of the
    * quasi-identifier columns with fewer than `k` records is
    * re-identifiable by linkage, and one whose records share too few
    * DISTINCT sensitive values (l < `l`) leaks the sensitive attribute
    * even when k holds. Exact counts; both flags per group.
    * Output: (qiCols..., n, l, k_risk, l_risk).
    *
    * Scale: one partial-aggregable groupBy with an exact
    * count_distinct — group-domain-sized output; at petascale swap
    * the distinct for the house HLL ladder (documented trade: the
    * audit then over-reports l, never under).
    */
  def kAnonymity(df: org.apache.spark.sql.DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long,
      l: Long): org.apache.spark.sql.DataFrame = {
    require(qiCols.nonEmpty, "qiCols must not be empty")
    require(k >= 1 && l >= 1, s"k and l must be >= 1, got k=$k l=$l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("l"))
      .select(qiCols.map(col) ++ Seq(col("n"), col("l"),
        (col("n") < k).as("k_risk"), (col("l") < l).as("l_risk")): _*)
  }

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the
    * release screen [[kAnonymity]] still misses: a quasi-identifier
    * group can be large (k holds) and diverse (l holds) yet SKEWED —
    * its sensitive-value distribution far from the table's — letting
    * an observer sharpen beliefs about every member. t is the earth
    * mover's distance between the group's and the global sensitive
    * distribution over the ORDERED value domain with unit ground
    * distance (the paper's numeric-attribute form):
    *
    *   t = sum_v |C_g(v)/n_g - C(v)/N| / (D - 1)
    *
    * (C = cumulative counts, D = domain size) — computed as the exact
    * integer rational sum_v |C_g(v)*N - C(v)*n_g| / (n_g*N*(D-1)),
    * decimal-widened, rendered as t_ppm; `t_risk` flags groups above
    * `thresholdPpm`. Degenerate single-value domains render t = 0.
    * The sensitive column must be integer-ordinal (bucket upstream).
    *
    * Scale shape: one (QI, value) count shuffle with map-side combine;
    * the cumulative sums ride the BOUNDED value domain (global: one
    * domain-sized window; per group: a domain-bounded partition window
    * over the groups x domain grid) — never corpus rows. The grid is
    * groups x domain, both aggregate-sized; the domain table is one
    * broadcast.
    * Output: (qiCols..., n, t_num, t_ppm, t_risk), t_num the exact
    * EMD numerator.
    */
  def tCloseness(df: org.apache.spark.sql.DataFrame, qiCols: Seq[String],
      sensitiveCol: String,
      thresholdPpm: Long): org.apache.spark.sql.DataFrame = {
    require(qiCols.nonEmpty, "qiCols must not be empty")
    require(thresholdPpm >= 0,
      s"thresholdPpm must be >= 0, got $thresholdPpm")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val qi = qiCols.map(col)
    val rows = df.select(qi :+ col(sensitiveCol).cast("long").as("__v"): _*)
    val cnt = rows.groupBy(qi :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val glob = rows.groupBy(col("__v")).agg(count(lit(1)).as("__cg"))
    val wg = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // domain-bounded global window (the binned-KS discipline)
    val dom = glob.withColumn("__cumall", sum(col("__cg")).over(wg))
      .select(col("__v"), col("__cumall"))
    val tot = broadcast(glob.agg(sum(col("__cg")).as("__N"),
      count(lit(1)).as("__D")))
    val groups = cnt.groupBy(qi: _*).agg(sum(col("__c")).as("__ng"))
    val grid = groups.crossJoin(broadcast(dom))
      .join(cnt, qiCols :+ "__v", "left")
    val wgrp = Window.partitionBy(qi: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("__cumgrp", sum(coalesce(col("__c"), lit(0L))).over(wgrp))
      .crossJoin(tot)
      .groupBy(qi: _*)
      .agg(max(col("__ng")).as("n"), max(col("__N")).as("__N2"),
        max(col("__D")).as("__D2"),
        sum(abs(col("__cumgrp").cast(dec) * col("__N") -
          col("__cumall").cast(dec) * col("__ng"))).as("t_num_d"))
      .select(qi ++ Seq(col("n"), col("t_num_d").cast("long").as("t_num"),
        when(col("__D2") <= 1L, lit(0L)).otherwise(
          Stats.fixedPointExact(col("t_num_d"),
            col("n").cast(dec) * col("__N2").cast(dec) *
              (col("__D2") - 1L).cast(dec))).as("t_ppm")): _*)
      .withColumn("t_risk", col("t_ppm") > thresholdPpm)
  }

  /** Per-document CHARACTER ENTROPY in bits/char — the compressibility
    * proxy of the quality suite (gzip-ratio's deterministic stand-in):
    * near-zero flags repeated-character/template floods, natural text
    * sits ~4 bits, id/hash floods push toward log2(charset). Shannon
    * entropy through [[graft.plans.FixLog.log2q]] (no libm):
    *
    *   h2_q = n·log2q(n) − Σ_c c·log2q(c)   (2^16-scaled bit units)
    *
    * — exact integers; bits_per_char = h2_q/(n·2^16) is the rounded
    * convenience double. Empty documents drop out (no characters, no
    * distribution). BMP-only contract: Spark's split("") walks UTF-16
    * units while the oracle's substr walks code points — identical on
    * BMP text, divergent on astral chars (the corpus has none; a
    * surrogate-aware splitter is the extension point).
    * Output: (idCol, n_chars_h, h2_q, bits_per_char).
    *
    * Scale shape: scan-stage char explode + two partial-aggregable
    * groupBys keyed by (doc, char) then doc — charset-bounded fanout.
    */
  def charEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val cc = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .filter(length(col("__ch")) === 1)
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
    cc.groupBy(col(idCol))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c") * graft.plans.FixLog.log2qCol(col("__c")))
          .as("__sl"))
      .select(col(idCol), col("__n").as("n_chars_h"),
        (col("__n") * graft.plans.FixLog.log2qCol(col("__n")) -
          col("__sl")).as("h2_q"))
      .withColumn("bits_per_char",
        round(col("h2_q").cast("double") /
          (col("n_chars_h").cast("double") * 65536.0), 6))
  }

  /** RANDOMIZED RESPONSE frequency estimation (Warner 1965 — the
    * local-DP mechanism under RAPPOR): each record reports its binary
    * attribute FLIPPED with probability 1/denom, and the aggregator
    * debiases the per-group tally,
    *
    *   E[reported] = true·(1 − p) + (n − true)·p,  p = 1/denom
    *   est = (denom·reported − n) / (denom − 2)
    *
    * — so no individual row's report reveals its attribute (plausible
    * deniability at ε = ln(denom − 1)) while group counts stay
    * consistent. Flips ride [[Sampling.hashOrder]]'s deterministic
    * cross-engine mixer over the id (`mix(id) % denom == 0`), the
    * catalog's replayable stand-in for the mechanism's coin — so the
    * oracle replays the exact mechanism and the gate hashes real
    * estimates next to the true counts they approximate. Exact
    * integers end to end. Output per group: (group, n, true_cnt,
    * reported_cnt, est_cnt, err) — est_cnt truncates toward zero on
    * the debias division (`div` here = `//` in the oracle, both
    * C-style). `denom` >= 3 (denom = 2 has zero signal).
    *
    * Scale shape: scan-stage hash + one partial-aggregable groupBy.
    */
  def randomizedResponse(df: org.apache.spark.sql.DataFrame,
      groupCol: String, idCol: String,
      attr: org.apache.spark.sql.Column,
      denom: Long = 3L): org.apache.spark.sql.DataFrame = {
    require(denom >= 3, s"denom must be >= 3, got $denom")
    val flip = Sampling.hashOrder(col(idCol)) % denom === 0L
    df.select(col(groupCol).as("__g"),
        when(attr, 1L).otherwise(0L).as("__b"),
        when(flip, 1L).otherwise(0L).as("__f"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__b")).as("true_cnt"),
        sum((col("__b") + col("__f")) % 2L).as("reported_cnt"))
      .select(col("__g").as(groupCol), col("n"), col("true_cnt"),
        col("reported_cnt"),
        GroupRank.intDiv(lit(denom) * col("reported_cnt") - col("n"),
          lit(denom - 2L)).as("est_cnt"))
      .withColumn("err", col("est_cnt") - col("true_cnt"))
  }

  /** Flesch reading ease per document, from the three classic counts —
    * words (the whitespace tokenizer), sentences (runs of [.!?],
    * floored at 1), syllables (runs of [aeiouy] in the lowercased
    * text: vowel groups never cross whitespace, so the text-level count
    * IS the per-word sum) — collapsed to ONE exact rational in
    * micro-units:
    *   score = 206.835 - 1.015·W/S - 84.6·Syl/W
    *         = (206835·S·W - 1015·W² - 84600·Syl·S) / (1000·S·W),
    * rendered by [[Stats.fixedPointExact]]. Docs with zero words render
    * NULL. Output: (idCol, n_words, n_sentences, n_syllables,
    * flesch_ppm). Regexes stay in the Java∩RE2 subset; scan-stage
    * column arithmetic, no shuffle.
    */
  def fleschReadability(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val w = Text.tokenCount(col(textCol)).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val syl = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col(idCol), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") === 0L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            lit(206835L) * col("n_sentences") * col("n_words") -
              lit(1015L) * col("n_words") * col("n_words") -
              lit(84600L) * col("n_syllables") * col("n_sentences"),
            lit(1000L) * col("n_sentences") * col("n_words")))
          .as("flesch_ppm"))
  }

  /** READABILITY PANEL — the three classic grade-level formulas beside
    * [[fleschReadability]]'s ease score, each the exact milli-graded
    * integer (round(1000·index), [[Stats.fixedPointExact]] at scale 1
    * over the cleared-denominator rational; the formulas' decimal
    * constants become integer coefficients):
    *
    *   ARI  = 4.71·chars/words + 0.5·words/sentences − 21.43
    *          (Automated Readability Index — character-counting)
    *   CLI  = 5.88·chars/words − 29.6·sentences/words − 15.8
    *          (Coleman–Liau — per-100-words form cleared)
    *   Fog  = 0.4·(words/sentences + 100·complex/words)
    *          (Gunning fog — complex = 3+ vowel-group words)
    *
    * Counting conventions shared with Flesch: whitespace words,
    * [.!?]+ runs as sentences (min 1), chars = alphanumeric count
    * ([A-Za-z0-9]), complex words detected by the 3-vowel-group
    * contains-regex on lowercased tokens (the Java∩RE2 subset). The
    * three formulas disagree on exactly the documents whose difficulty
    * is channel-specific (long words vs long sentences) — shipping
    * them as one panel is the point. Zero-word documents render NULL.
    * Output: (idCol, n_words, n_sentences, n_chars_an, n_complex,
    * ari_milli, cli_milli, fog_milli). Scan-stage only, no shuffle.
    */
  def readabilityPanel(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val w = Text.tokenCount(col(textCol)).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val c = length(regexp_replace(col(textCol), "[^A-Za-z0-9]", ""))
      .cast("long")
    val x = size(filter(Text.tokens(lower(col(textCol))),
      t => t.rlike("([aeiouy]+[^aeiouy]*){3}"))).cast("long")
    def milli(num: Column, den: Column): Column =
      when(col("n_words") === 0L, lit(null).cast("long"))
        .otherwise(Stats.fixedPointExact(num, den, scale = 1L))
    docs.select(col(idCol), w.as("n_words"), s.as("n_sentences"),
        c.as("n_chars_an"), x.as("n_complex"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_chars_an"), col("n_complex"),
        milli(
          lit(4710L) * col("n_chars_an") * col("n_sentences") +
            lit(500L) * col("n_words") * col("n_words") -
            lit(21430L) * col("n_words") * col("n_sentences"),
          col("n_words") * col("n_sentences")).as("ari_milli"),
        milli(
          lit(5880L) * col("n_chars_an") -
            lit(29600L) * col("n_sentences") - lit(15800L) * col("n_words"),
          col("n_words")).as("cli_milli"),
        milli(
          lit(400L) * col("n_words") * col("n_words") +
            lit(40000L) * col("n_complex") * col("n_sentences"),
          col("n_words") * col("n_sentences")).as("fog_milli"))
  }
}
