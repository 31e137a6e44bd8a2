package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistics language-model signals: per-document bigram novelty
  * against the whole corpus — the cheap distributional stand-in for
  * perplexity-based quality filtering (docs whose n-grams are mostly
  * corpus-hapax are noise/garble candidates; docs of only ultra-common
  * n-grams are boilerplate candidates).
  *
  * Scale design (100 TB): bigrams are polynomial-hashed to fixed-width
  * long keys at the scan (the hashed_shingles generator — no string
  * shuffle keys), corpus counts are one partial-aggregable groupBy, and
  * the count-back join is a long-keyed equi-join followed by a per-doc
  * aggregate. No windows, no driver-side state.
  *
  * Oracle-parity design: every emitted ratio is an exact integer sum
  * divided ONCE at the end (sum-of-doubles is addition-order-dependent
  * and would hash-mismatch across engines; integer sums are order-free).
  */
object LangModel {

  /** (carryCols..., tid_a, tid_b): hashed adjacent-token pairs, one scan
    * pass. The token array is PROJECTED once before the zip — referencing
    * the tokenizer expression inside a per-element lambda re-evaluates
    * the regex split per element (measured: ~10× on the KN probe), the
    * classic higher-order-function trap. zip_with pairs each token with
    * its successor; hashing happens after the explode, per emitted row.
    */
  private def adjacentPairs(docs: DataFrame, textCol: String,
      carryCols: Seq[String]): DataFrame = {
    val tk = docs.select(carryCols.map(col) :+
      Text.tokens(col(textCol)).as("__tk"): _*)
    val zipped = tk.select(carryCols.map(col) :+
      explode(zip_with(
        slice(col("__tk"), lit(1), greatest(size(col("__tk")) - 1, lit(0))),
        slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__z"): _*)
    zipped.select(carryCols.map(col) ++ Seq(
      graft.plans.TextExpressions.polyHash(col("__z.a")).as("tid_a"),
      graft.plans.TextExpressions.polyHash(col("__z.b")).as("tid_b")): _*)
  }

  /** Document-level token co-occurrence lift — PMI's ratio without the
    * log (monotone, so rankings agree). Cross-engine parity holds because
    * both engines evaluate the identical double products and one division
    * in the same order; the products are EXACT only while N·c_ab and
    * c_a·c_b stay below 2^53, beyond which both engines round identically
    * (parity survives, absolute exactness does not):
    *
    *   lift(a, b) = N · c(a,b) / (c(a) · c(b))
    *
    * over DISTINCT tokens per doc, with c(·) = containing-doc counts.
    * Tokens in more than `dfCap` docs are dropped BEFORE pairing — the
    * stopword hub cut that keeps the per-doc pair fan-out bounded at
    * corpus scale (same rationale as ngramJaccardPairs' dfCap) — and
    * pairs below `minPairCount` co-occurrences are dropped after.
    * Output: (tok_a, tok_b, c_a, c_b, c_ab, lift) with tok_a < tok_b.
    */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: String,
      minPairCount: Long = 2L, dfCap: Long = 100000L): DataFrame = {
    // Deliberately NOT the blocking generators' derived fractional cap:
    // token df is not shingle df — ordinary content words live in
    // 5-30% of documents (where shingle/fingerprint hubs at 1% are
    // already boilerplate), so a 1%-occupancy cut would delete the
    // co-occurrence signal itself, and the pair fan-out here is already
    // bounded by minPairCount + the per-doc distinct-token join shape.
    // Callers wanting an occupancy cut pass fractionalDfCap explicitly.
    // the one distinct-token-per-doc builder, shared with the dedup paths
    val toks = Dedup.docTokens(docs, idCol, textCol)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap)
    val t = toks.join(counts, Seq("tok"))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("__n_docs")))
    val a = t.select(col(idCol), col("tok").as("tok_a"), col("c").as("c_a"))
    val b = t.select(col(idCol), col("tok").as("tok_b"), col("c").as("c_b"))
    a.join(b, Seq(idCol))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"), col("c_a"), col("c_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
      .crossJoin(nDocs)
      .select(col("tok_a"), col("tok_b"), col("c_a"), col("c_b"), col("c_ab"),
        round((col("__n_docs").cast("double") * col("c_ab")) /
          (col("c_a").cast("double") * col("c_b")), 6).as("lift"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-`V`
    * token vocabulary — the coverage signal a tokenizer-budget or
    * vocabulary-pruning decision reads (docs of mostly tail tokens are
    * garble/OCR-noise candidates; a corpus-wide high OOV rate says the
    * vocabulary is too small). Vocabulary membership is by hashed token
    * id with ties at the frequency boundary broken by id — deterministic
    * on every engine.
    *
    * Scale shape: one partial-aggregable token-frequency groupBy, a
    * bounded TakeOrdered for the top-V, and ONE broadcast join of the
    * V-row vocabulary against the scan-stage token stream — no
    * corpus-sized shuffle. Output: (idCol, n_tokens, n_oov, oov_rate);
    * zero-token docs drop out (inner-aggregation semantics, as
    * bigramStats).
    */
  def oovStats(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = docs.select(col(idCol),
      graft.plans.TextExpressions.hashedShingles(col(textCol), 1))
    val vocab = broadcast(toks.groupBy(col("tid"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tid").asc)
      .limit(vocabSize)
      .select(col("tid"), lit(1L).as("__in")))
    toks.join(vocab, Seq("tid"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Kneser–Ney smoothed bigram probabilities over the corpus — the
    * KenLM-style n-gram LM estimation step (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form), computable under the hash oracle
    * because absolute discounting with d = 3/4 keeps EVERY quantity
    * rational:
    *
    *   P(b|a) = max(c_ab − d, 0)/c_a + d·N1+(a·)/c_a · N1+(·b)/N_pairs
    *
    * cleared to one integer ratio
    *
    *   p_q = (max(4·c_ab − 3, 0)·N_pairs + 3·N1a·N1b) · 10^9
    *         div (4·c_a·N_pairs)
    *
    * in decimal(38,0) — exact products, ONE integral division, so both
    * engines agree bit-for-bit. Bound check: c ≤ 10^15 tokens and
    * N_pairs ≤ 10^13 distinct bigrams put the widest product near
    * 4·10^28·10^9 = 10^38 — the decimal edge, asserted here like BM25's.
    *
    * Scale shape: bigram pairs come from one scan-stage zip of adjacent
    * tokens (hashed to long ids at the scan — collisions merge
    * identically in both engines, the standard contract); counts,
    * prefix/continuation tallies are partial-aggregable groupBys joined
    * back on long keys; N_pairs rides in as a broadcast 1-row aggregate.
    * Normalization note: Σ_b P(b|a) = 1 holds over the FULL vocabulary —
    * the mass discounted from seen bigrams re-enters through the
    * continuation term for unseen b — so the materialized (seen-only)
    * rows of a prefix sum to less than 1 by exactly the unseen
    * continuation mass; the spec checks hand-computed rationals and a
    * fuzzed BigInt model rather than a row-sum identity the seen table
    * cannot express.
    *
    * Output: (groupCols..., tid_a, tid_b, c_ab, pkn_q, pkn) for bigrams
    * with c_ab >= minCount (the LM table a perplexity scorer consumes).
    *
    * `groupCols` trains one INDEPENDENT LM per group (CCNet's
    * per-language models): every count — c_ab, c_a, N1+(·b), N_pairs —
    * is tallied within the group, so the table for group g equals the
    * no-group table trained on g's rows alone (the property the spec
    * asserts). The per-group N_pairs table is group-count-sized and
    * rides in as a broadcast equi-join instead of the 1-row cross join.
    */
  /** Session memos ([[PlanMemo]]) for the KN chain's three shared
    * stages — SIX catalog entries (lm_fit, perplexity, the three
    * bucket variants, doremi) rebuilt the identical train/score
    * pipelines over the same corpus.
    */
  private val lmMemo = new PlanMemo[DataFrame]
  private val scoreMemo = new PlanMemo[DataFrame]
  private val ppMemo = new PlanMemo[DataFrame]

  def knBigramProbs(docs: DataFrame, textCol: String,
      minCount: Long = 1L, groupCols: Seq[String] = Nil): DataFrame =
    lmMemo(docs, textCol, minCount, groupCols) {
      val dec = "decimal(38,0)"
      val gc = groupCols.map(col)
      val pairs = adjacentPairs(docs.select(gc :+ col(textCol): _*),
        textCol, groupCols)
      // Materialized once: the bigram-TYPE table feeds four consumers
      // (c_a, N1+(·b), N_pairs, the final join) — without it each branch
      // re-runs the corpus pair scan + count shuffle (exchange reuse only
      // dedups the shuffle files, not the final aggregation per branch).
      // The table is type-sized — the thing KenLM materializes on disk —
      // bounded far below the occurrence stream it came from.
      val cab = pairs.groupBy(gc ++ Seq(col("tid_a"), col("tid_b")): _*)
        .agg(count(lit(1)).cast("long").as("c_ab"))
        .checkpointed
      val ca = cab.groupBy(gc :+ col("tid_a"): _*)
        .agg(sum(col("c_ab")).cast("long").as("c_a"),
          count(lit(1)).cast("long").as("n1a"))
      val contb = cab.groupBy(gc :+ col("tid_b"): _*)
        .agg(count(lit(1)).cast("long").as("n1b"))
      val joined =
        if (groupCols.isEmpty) {
          val npairs = broadcast(cab.agg(count(lit(1)).cast("long").as("np")))
          cab.join(ca, Seq("tid_a")).join(contb, Seq("tid_b"))
            .crossJoin(npairs)
        } else {
          val npairs = broadcast(cab.groupBy(gc: _*)
            .agg(count(lit(1)).cast("long").as("np")))
          cab.join(ca, groupCols :+ "tid_a")
            .join(contb, groupCols :+ "tid_b")
            .join(npairs, groupCols)
        }
      joined
        .withColumn("pkn_q",
          expr(s"""CAST((CAST(greatest(4 * c_ab - 3, 0) AS $dec) *
                         CAST(np AS $dec) +
                         CAST(3 AS $dec) * CAST(n1a AS $dec) *
                         CAST(n1b AS $dec)) *
                        CAST(1000000000 AS $dec) div
                        (CAST(4 AS $dec) * CAST(c_a AS $dec) *
                         CAST(np AS $dec)) AS BIGINT)"""))
        .filter(col("c_ab") >= minCount)
        .withColumn("pkn", col("pkn_q").cast("double") / lit(1e9))
        .select(gc ++ Seq(col("tid_a"), col("tid_b"), col("c_ab"),
          col("pkn_q"), col("pkn")): _*)
        .checkpointed
    }

  /** Jelinek-Mercer interpolated bigram LM over the bigram event
    * space — the fixed-weight linear-interpolation smoother next to
    * [[knBigramProbs]]'s absolute discounting (the two classic ways a
    * production n-gram LM handles sparsity; JM is what you deploy when
    * held-out tuning picked a global mixing weight):
    *
    *   p_jm(b|a) = λ·c(ab)/c(a) + (1-λ)·c(·b)/N,   λ = 3/4
    *
    * with c(·b) = occurrences of b as a successor and N = total
    * bigram events. The DYADIC λ collapses the mixture to ONE exact
    * rational, (3·c_ab·N + c_b·c_a) / (4·c_a·N), rendered in the
    * same exact q9 fixed point as KN's (pjm_q; pjm the convenience
    * double). `minCount` prunes singleton bigram types AFTER
    * estimation (they still carry probability mass).
    * Output: (tid_a, tid_b, c_ab, pjm_q, pjm).
    *
    * Scale: identical to the KN chain — one scan-stage pair explode,
    * a type-sized count table, two partial-aggregable marginals, a
    * broadcast 1-row total. Single catalog consumer, so unlike the
    * KN chain it takes no memo slot.
    */
  def jmBigramProbs(docs: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = adjacentPairs(docs.select(col(textCol)), textCol, Nil)
    val cab = pairs.groupBy(col("tid_a"), col("tid_b"))
      .agg(count(lit(1)).cast("long").as("c_ab"))
      .checkpointed
    val ca = cab.groupBy(col("tid_a"))
      .agg(sum(col("c_ab")).cast("long").as("c_a"))
    val cb = cab.groupBy(col("tid_b"))
      .agg(sum(col("c_ab")).cast("long").as("c_b"))
    val np = broadcast(cab.agg(sum(col("c_ab")).cast("long").as("np")))
    cab.join(ca, Seq("tid_a")).join(cb, Seq("tid_b")).crossJoin(np)
      .withColumn("pjm_q",
        expr(s"""CAST((CAST(3 AS $dec) * CAST(c_ab AS $dec) *
                       CAST(np AS $dec) +
                       CAST(c_b AS $dec) * CAST(c_a AS $dec)) *
                      CAST(1000000000 AS $dec) div
                      (CAST(4 AS $dec) * CAST(c_a AS $dec) *
                       CAST(np AS $dec)) AS BIGINT)"""))
      .filter(col("c_ab") >= minCount)
      .withColumn("pjm", col("pjm_q").cast("double") / lit(1e9))
      .select(col("tid_a"), col("tid_b"), col("c_ab"), col("pjm_q"),
        col("pjm"))
  }

  /** (carryCols..., tid_a, tid_b, tid_c): hashed adjacent-token TRIPLES,
    * one scan pass — the same projected-once zip discipline as
    * [[adjacentPairs]], nested one level (pair-zip then a third slice).
    */
  private def adjacentTriples(docs: DataFrame, textCol: String,
      carryCols: Seq[String]): DataFrame = {
    val tk = docs.select(carryCols.map(col) :+
      Text.tokens(col(textCol)).as("__tk"): _*)
    val n2 = greatest(size(col("__tk")) - 2, lit(0))
    val ab = zip_with(
      slice(col("__tk"), lit(1), n2), slice(col("__tk"), lit(2), n2),
      (a, b) => struct(a.as("a"), b.as("b")))
    val abc = zip_with(ab, slice(col("__tk"), lit(3), n2),
      (p, c) => struct(p.getField("a").as("a"), p.getField("b").as("b"),
        c.as("c")))
    tk.select(carryCols.map(col) :+ explode(abc).as("__z"): _*)
      .select(carryCols.map(col) ++ Seq(
        graft.plans.TextExpressions.polyHash(col("__z.a")).as("tid_a"),
        graft.plans.TextExpressions.polyHash(col("__z.b")).as("tid_b"),
        graft.plans.TextExpressions.polyHash(col("__z.c")).as("tid_c")): _*)
  }

  /** Interpolated Kneser–Ney TRIGRAM probabilities — [[knBigramProbs]]'
    * backoff chain extended one order, still in exact rational
    * arithmetic (d = 3/4 at both orders):
    *
    *   P(c|ab) = max(c_abc − d, 0)/c_ab + d·N1+(ab·)/c_ab · P(c|b)
    *
    * with P(c|b) the interpolated KN bigram probability. Clearing to the
    * quantized integer form (B = 10^9, pkn2_q = B·P(c|b) from the bigram
    * table):
    *
    *   p3_q = (max(4·c_abc − 3, 0)·B + 3·N1fw·pkn2_q) div (4·c_ab)
    *
    * — exact products in decimal(38,0) (4·c_abc ≤ 4·10^15 trigram
    * occurrences times B is ~4·10^24, far under the decimal edge), ONE
    * integral division, so engines agree bit-for-bit. Every observed
    * trigram's (b, c) bigram is observed by construction, so the
    * bigram-table join never misses (inner join is safe).
    *
    * Scale shape: one more scan-stage zip than the bigram pass, then
    * partial-aggregable counts keyed by hashed triples; the bigram table
    * joins on (tid_b, tid_c) — long keys, type-bounded. Trigram TYPE
    * count is the one quantity that grows fastest with corpus size;
    * `minCount` is the standard KenLM-style prune that keeps the
    * materialized table in check.
    *
    * Output: (tid_a, tid_b, tid_c, c_abc, pkn_q, pkn) for trigrams with
    * c_abc >= minCount.
    */
  def knTrigramProbs(docs: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    val dec = "decimal(38,0)"
    val lm2 = knBigramProbs(docs, textCol) // un-pruned: the backoff table
      .select(col("tid_a").as("tid_b"), col("tid_b").as("tid_c"),
        col("pkn_q").as("pkn2_q"))
    val triples = adjacentTriples(docs.select(col(textCol)), textCol, Nil)
    // Type-sized, two consumers (the (a,b)-prefix rollup + the final
    // join) — materialized once, as the bigram table (see knBigramProbs).
    val cabc = triples.groupBy(col("tid_a"), col("tid_b"), col("tid_c"))
      .agg(count(lit(1)).cast("long").as("c_abc"))
      .checkpointed
    val cab = cabc.groupBy(col("tid_a"), col("tid_b"))
      .agg(sum(col("c_abc")).cast("long").as("c_ab"),
        count(lit(1)).cast("long").as("n1fw"))
    cabc.join(cab, Seq("tid_a", "tid_b"))
      .join(lm2, Seq("tid_b", "tid_c"))
      .withColumn("pkn_q",
        expr(s"""CAST((CAST(greatest(4 * c_abc - 3, 0) AS $dec) *
                       CAST(1000000000 AS $dec) +
                       CAST(3 AS $dec) * CAST(n1fw AS $dec) *
                       CAST(pkn2_q AS $dec))
                      div (CAST(4 AS $dec) * CAST(c_ab AS $dec)) AS BIGINT)"""))
      .filter(col("c_abc") >= minCount)
      .withColumn("pkn", col("pkn_q").cast("double") / lit(1e9))
      .select(col("tid_a"), col("tid_b"), col("tid_c"), col("c_abc"),
        col("pkn_q"), col("pkn"))
  }

  /** Score documents against a trained [[knBigramProbs]] table — the
    * LM-fit quality filter (the role CCNet's perplexity filter plays,
    * log-free): a document's score is the mean quantized KN probability
    * of its bigram OCCURRENCES, with bigrams absent from the LM table
    * contributing zero — so both unseen-heavy garble and low-probability
    * noise sink the score, while boilerplate floats. Scoring against a
    * CLEAN corpus's table (not the scored corpus's own) is the CCNet
    * composition; self-scoring ranks a corpus by its own typicality.
    *
    * One scan-stage bigram zip, one long-keyed equi-join against the
    * bigram-type-sized LM table, one partial-aggregable per-doc mean
    * (integer sum, ONE division). Docs with no bigrams drop out
    * (inner-aggregation semantics, like bigramStats).
    *
    * Output: (idCol, groupCols..., n_bigrams, n_scored, fit_q, fit).
    *
    * `groupCols` scores each doc against ITS OWN group's rows in a
    * per-group `lm` (trained with the same groupCols — CCNet's
    * per-language scoring): the LM join keys extend to
    * (groupCols..., tid_a, tid_b), so a bigram seen only in another
    * group's model contributes zero, exactly as if the doc were scored
    * against its group's standalone table.
    */
  def knScoreDocs(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    scoreMemo(docs, lm, idCol, textCol, groupCols) {
      knScoreDocsUncached(docs, idCol, textCol, lm, groupCols)
        .checkpointed
    }

  // private[graft]: plan-shape assertions target the unmemoized chain
  private[graft] def knScoreDocsUncached(docs: DataFrame, idCol: String,
      textCol: String, lm: DataFrame,
      groupCols: Seq[String] = Nil): DataFrame = {
    val gc = groupCols.map(col)
    val pairs = adjacentPairs(
      docs.select(Seq(col(idCol)) ++ gc :+ col(textCol): _*),
      textCol, idCol +: groupCols)
    pairs
      .join(lm.select(gc ++ Seq(col("tid_a"), col("tid_b"),
          col("pkn_q")): _*),
        groupCols ++ Seq("tid_a", "tid_b"), "left")
      .groupBy(Seq(col(idCol)) ++ gc: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("pkn_q").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(coalesce(col("pkn_q"), lit(0L))).as("__sum_q"))
      .withColumn("fit_q", expr("__sum_q div n_bigrams"))
      .withColumn("fit", col("fit_q").cast("double") / lit(1e9))
      .select(Seq(col(idCol)) ++ gc ++ Seq(col("n_bigrams"),
        col("n_scored"), col("fit_q"), col("fit")): _*)
  }

  /** TRUE per-document perplexity in bits per scored bigram under a
    * [[knBigramProbs]] table — the log-domain quantity [[knScoreDocs]]'s
    * mean-probability fit stands in for, now reachable because
    * [[graft.plans.FixLog]] gives both engines the same bit-exact
    * integer log2: one bigram occurrence costs
    * log2q(10^9) - log2q(max(pkn_q, 1)) (pkn_q is the 10^9-scaled
    * integer probability; the floor-to-1 guards quantized-to-zero tail
    * probabilities identically in both engines), and a document's
    * bits_q is the integer mean over its SCORED bigrams (unseen bigrams
    * are outside the model — CCNet scores against a closed LM the same
    * way; docs with no scored bigram drop, knScoreDocs' inner-aggregate
    * semantics).
    *
    * Same 100 TB shape as knScoreDocs: one scan-stage bigram zip, one
    * equi-join against the bigram-type-sized LM table, one
    * partial-aggregable per-doc sum.
    *
    * Output: (idCol, n_scored, bits_q, bits) — bits_q fixed-point at
    * 2^16, bits its rounded double rendering.
    */
  def perplexityBits(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame): DataFrame =
    ppMemo(docs, lm, idCol, textCol) {
      val pairs = adjacentPairs(docs.select(col(idCol), col(textCol)),
        textCol, Seq(idCol))
      val scale = graft.plans.FixLog.log2q(1000000000L)
      pairs
        .join(lm.select(col("tid_a"), col("tid_b"), col("pkn_q")),
          Seq("tid_a", "tid_b"))
        .withColumn("__bq", lit(scale) -
          graft.plans.FixLog.log2qCol(greatest(col("pkn_q"), lit(1L))))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_scored"), sum(col("__bq")).as("__sbq"))
        .withColumn("bits_q", expr("__sbq div n_scored"))
        .withColumn("bits", round(col("bits_q").cast("double") / 65536.0, 6))
        .select(col(idCol), col("n_scored"), col("bits_q"), col("bits"))
        .checkpointed
    }

  /** CCNet-style LM-fit bucketing (Wenzek et al. 2020, arXiv:1911.00359):
    * rank every document by its [[knScoreDocs]] fit within its language
    * and cut the ranking into `nBuckets` equal tiers — bucket 1 ("head",
    * most LM-typical) through bucket `nBuckets` ("tail", least typical).
    * CCNet keeps head+middle and drops tail; the keep decision is the
    * caller's filter on `tier`. Higher fit = more typical, so the rank
    * order is fit DESC (CCNet's perplexity ASC), with the id as the
    * deterministic tie-break. Docs with fewer than two tokens emit no
    * bigrams and drop out (knScoreDocs' inner-aggregation semantics) —
    * gate them separately with tokenCount.
    *
    * Scoring model: pass a corpus-wide `lm` (knBigramProbs with no
    * groupCols) for one shared model with buckets within language, or a
    * PER-LANGUAGE `lm` (knBigramProbs trained with
    * `groupCols = Seq(langCol)`) for CCNet's actual composition — each
    * doc scored under its own language's model. The per-language case is
    * detected from the table's columns (it carries `langCol`).
    *
    * Scale note (100 TB): the within-language rank is
    * [[GroupRank.withRankAndCount]] and the tier cut is
    * [[GroupRank.ntileFromRank]]'s exact NTILE arithmetic on (rank, n),
    * so a dominant language is many parallel sort slices, never one
    * language-keyed sort task. Bucket assignments are identical to the
    * window-function ntile they replace.
    *
    * Output: (idCol, langCol, fit_q, bucket, tier).
    */
  def lmBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, lm: DataFrame, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val scored = scoredByLang(docs, idCol, textCol, langCol, lm)
    val ranked = GroupRank.withRankAndCount(
      scored.select(col(idCol), col(langCol), col("fit_q")),
      Seq(langCol), Seq(col("fit_q").desc, col(idCol).asc), "__rn", "__n")
    ranked
      .withColumn("bucket",
        GroupRank.ntileFromRank(col("__rn"), col("__n"), nBuckets))
      .withColumn("tier", when(col("bucket") === 1, "head")
        .when(col("bucket") === nBuckets, "tail").otherwise("middle"))
      .select(col(idCol), col(langCol), col("fit_q"), col("bucket"),
        col("tier"))
  }

  /** (idCol, langCol, fit_q) under either LM shape — the shared scoring
    * stage of [[lmBuckets]] and [[lmBucketsSampled]]; per-language
    * models are detected from the table's columns.
    */
  private def scoredByLang(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, lm: DataFrame): DataFrame =
    if (lm.columns.contains(langCol))
      knScoreDocs(docs.select(col(idCol), col(langCol), col(textCol)),
          idCol, textCol, lm, Seq(langCol))
        .select(col(idCol), col(langCol), col("fit_q"))
    else
      knScoreDocs(docs, idCol, textCol, lm)
        .select(col(idCol), col("fit_q"))
        .join(docs.select(col(idCol), col(langCol)), Seq(idCol))

  /** Sampled-threshold CCNet bucketing — the 100 TB form of
    * [[lmBuckets]]: instead of ranking EVERY document within its
    * language (a corpus-wide rank whose range exchange moves
    * the whole score column), rank only a deterministic hash sample,
    * read the nBuckets-1 boundary ORDER STATISTICS per language off the
    * sample, and assign every document SCAN-STAGE against the broadcast
    * (language, boundaries[]) table — which is how CCNet itself derives
    * its head/middle/tail perplexity cutoffs (Wenzek et al. 2020 fit
    * them on a sample, then stream the corpus through fixed thresholds).
    * Per-document cost is flat in corpus size: one broadcast-join probe
    * plus a (nBuckets-1)-element array fold, no rank exchange.
    *
    * Deterministic end to end: the sample is
    * [[Sampling.hashOrder]] mod 1000 < samplePerMille (the engine's
    * exact cross-engine mixer — the oracle replays it bit for bit),
    * boundary j is the sample's fit at within-language rank
    * max(1, (j·n_s) div nBuckets) (fit DESC, id tie-break), and
    * bucket = 1 + |{j : fit_q < b_j}| — a doc EQUAL to a boundary score
    * lands head-side. Divergence from the exact [[lmBuckets]] is
    * confined to boundary neighborhoods (order-statistic sampling
    * error); at samplePerMille = 1000 the boundaries are the exact
    * population order statistics, so the two paths agree everywhere
    * except inside boundary TIES (ntile splits a tie run across
    * buckets, thresholds keep it together — spec-pinned).
    *
    * Output: (idCol, langCol, fit_q, bucket, tier) — [[lmBuckets]]'
    * exact shape, so the two are drop-in interchangeable.
    */
  def lmBucketsSampled(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, lm: DataFrame, nBuckets: Int = 3,
      samplePerMille: Int = 100): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille must be in [1, 1000], got $samplePerMille")
    val spark = docs.sparkSession
    val scored = scoredByLang(docs, idCol, textCol, langCol, lm)
    val sample = scored.filter(
      pmod(Sampling.hashOrder(col(idCol)), lit(1000L)) < samplePerMille)
    val ranked = GroupRank.withRankAndCount(sample, Seq(langCol),
      Seq(col("fit_q").desc, col(idCol).asc), "__sr", "__sn")
    import spark.implicits._
    val js = (1 until nBuckets).map(_.toLong).toDF("__j")
    // boundary j closes NTILE bucket j: rank j*(n div k) + min(j, n mod
    // k) — the padded-buckets-first split, so a full sample reproduces
    // the exact ntile assignment on tie-free scores
    val bounds = ranked.crossJoin(broadcast(js))
      .filter(col("__sr") === greatest(lit(1L),
        col("__j") * GroupRank.intDiv(col("__sn"), lit(nBuckets.toLong)) +
          least(col("__j"), col("__sn") % nBuckets.toLong)))
      .select(col(langCol), col("fit_q").as("__b"))
    // mixture-sized: one row per language, nBuckets-1 boundary scores
    val boundsArr = bounds.groupBy(col(langCol))
      .agg(collect_list(col("__b")).as("__bs"))
    // A language with ZERO sampled documents has no boundary row (null
    // __bs after the left join) — plausible for small languages at low
    // samplePerMille. Silently treating those as all-head would breach
    // the "divergence confined to boundary neighborhoods" contract, so
    // such languages fall back to the EXACT within-language ranking —
    // cheap by construction (only languages too small to hit the
    // sample take the rank exchange).
    val assigned = scored.join(broadcast(boundsArr), Seq(langCol), "left")
    val covered = assigned.filter(col("__bs").isNotNull)
      .withColumn("bucket", lit(1L) +
        aggregate(col("__bs"), lit(0L),
          (acc, b) => acc + when(col("fit_q") < b, 1L).otherwise(0L)))
    val unsampled = GroupRank.withRankAndCount(
        assigned.filter(col("__bs").isNull)
          .select(col(idCol), col(langCol), col("fit_q")),
        Seq(langCol), Seq(col("fit_q").desc, col(idCol).asc), "__rn", "__n")
      .withColumn("bucket",
        GroupRank.ntileFromRank(col("__rn"), col("__n"), nBuckets))
    covered.select(col(idCol), col(langCol), col("fit_q"), col("bucket"))
      .unionByName(
        unsampled.select(col(idCol), col(langCol), col("fit_q"),
          col("bucket")))
      .withColumn("tier", when(col("bucket") === 1, "head")
        .when(col("bucket") === nBuckets, "tail").otherwise("middle"))
      .select(col(idCol), col(langCol), col("fit_q"), col("bucket"),
        col("tier"))
  }

  /** Trigram LM-fit scoring with the full Kneser–Ney backoff chain — the
    * trigram-depth twin of [[knScoreDocs]]. Each trigram OCCURRENCE in a
    * scored doc contributes, in exact quantized arithmetic:
    *
    *  - trigram seen in training: the interpolated table value p3_q;
    *  - unseen trigram, seen prefix (a,b) and seen bigram (b,c): the
    *    continuation-only term (3·N1fw·p2_q) div (4·c_ab) — exactly the
    *    p3 formula at c_abc = 0;
    *  - unseen prefix, seen (b,c): p2_q (standard KN: an unseen prefix
    *    backs off entirely to the lower order);
    *  - unseen (b,c): zero — the same materialized-table floor as
    *    [[knScoreDocs]], documented there.
    *
    * The per-doc score is the mean quantized probability over trigram
    * occurrences (integer sum, ONE division). Docs with fewer than three
    * tokens emit no trigrams and drop out.
    *
    * Scale shape: training tables are type-bounded aggregates of the
    * train corpus; scoring is one scan-stage triple zip and THREE
    * long-keyed left joins (trigram table, prefix table, bigram table)
    * followed by a partial-aggregable per-doc mean — nothing beyond
    * equi-joins on hashed keys.
    *
    * Output: (idCol, n_trigrams, n_exact, fit_q, fit) where n_exact
    * counts occurrences scored from a seen trigram.
    */
  def knScoreDocsTrigram(docs: DataFrame, idCol: String, textCol: String,
      trainDocs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val lm2 = knBigramProbs(trainDocs, textCol)
      .select(col("tid_a").as("tid_b"), col("tid_b").as("tid_c"),
        col("pkn_q").as("pkn2_q"))
    val triples = adjacentTriples(trainDocs.select(col(textCol)), textCol, Nil)
    val cabc = triples.groupBy(col("tid_a"), col("tid_b"), col("tid_c"))
      .agg(count(lit(1)).cast("long").as("c_abc"))
    val cab = cabc.groupBy(col("tid_a"), col("tid_b"))
      .agg(sum(col("c_abc")).cast("long").as("c_ab"),
        count(lit(1)).cast("long").as("n1fw"))
    val lm3 = cabc.join(cab, Seq("tid_a", "tid_b"))
      .join(lm2, Seq("tid_b", "tid_c"))
      .withColumn("pkn3_q",
        expr(s"""CAST((CAST(greatest(4 * c_abc - 3, 0) AS $dec) *
                       CAST(1000000000 AS $dec) +
                       CAST(3 AS $dec) * CAST(n1fw AS $dec) *
                       CAST(pkn2_q AS $dec))
                      div (CAST(4 AS $dec) * CAST(c_ab AS $dec)) AS BIGINT)"""))
      .select(col("tid_a"), col("tid_b"), col("tid_c"), col("pkn3_q"))
    val dt = adjacentTriples(docs.select(col(idCol), col(textCol)),
      textCol, Seq(idCol))
    dt
      .join(lm3, Seq("tid_a", "tid_b", "tid_c"), "left")
      .join(cab, Seq("tid_a", "tid_b"), "left")
      .join(lm2, Seq("tid_b", "tid_c"), "left")
      .withColumn("__p_q",
        when(col("pkn3_q").isNotNull, col("pkn3_q"))
          .when(col("c_ab").isNotNull && col("pkn2_q").isNotNull,
            expr(s"""CAST((CAST(3 AS $dec) * CAST(n1fw AS $dec) *
                           CAST(pkn2_q AS $dec))
                          div (CAST(4 AS $dec) * CAST(c_ab AS $dec))
                          AS BIGINT)"""))
          .when(col("pkn2_q").isNotNull, col("pkn2_q"))
          .otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("pkn3_q").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(col("__p_q")).as("__sum_q"))
      .withColumn("fit_q", expr("__sum_q div n_trigrams"))
      .withColumn("fit", col("fit_q").cast("double") / lit(1e9))
      .select(col(idCol), col("n_trigrams"), col("n_exact"), col("fit_q"),
        col("fit"))
  }

  /** Per-document bigram novelty stats:
    * (idCol, n_bigrams, n_hapax, hapax_ratio, avg_bigram_df) where
    * n_bigrams counts bigram OCCURRENCES, n_hapax counts occurrences
    * whose bigram appears exactly once in the whole corpus, and
    * avg_bigram_df is the mean corpus frequency of the doc's bigrams.
    * Documents with fewer than two tokens emit no bigrams and drop out
    * (inner-join semantics — gate them separately with tokenCount).
    */
  def bigramStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = docs.select(col(idCol),
      graft.plans.TextExpressions.hashedShingles(col(textCol), 2))
    val cb = bg.groupBy(col("tid")).agg(count(lit(1)).as("__cb"))
    bg.join(cb, Seq("tid"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__cb") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("__cb")).as("__sum_df"))
      .select(col(idCol), col("n_bigrams"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_bigrams").cast("double"))
          .as("hapax_ratio"),
        (col("__sum_df").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_bigram_df"))
  }

  /** word2phrase collocation mining (Mikolov et al. 2013, the phrase
    * pass that turns "new york" into a unit before embedding training):
    * adjacent-bigram score (c_ab − δ)·N / (c_a·c_b) — count-discounted
    * lift, where δ kills rare accidental pairs — rendered as one exact
    * positive integer divide (score_e6; c_ab > δ is forced by the
    * minCount filter, so the numerator never goes negative and
    * truncating/flooring division agree). The ADJACENCY complement of
    * [[cooccurrenceLift]]'s document-level co-occurrence: this one
    * finds units, that one finds topics.
    *
    * Scale: one token-occurrence count, one adjacent-pair count (both
    * partial-aggregable), two vocabulary-keyed equi-joins, a global
    * top-k window the TopKNative rule replans to a bounded top-k.
    *
    * Output: top `topK` rows (tok_a, tok_b, c_ab, score_e6) by
    * (score desc, toks asc).
    */
  def phraseMine(docs: DataFrame, textCol: String, delta: Long = 2L,
      minCount: Long = 3L, topK: Int = 40): DataFrame = {
    require(minCount > delta,
      s"minCount ($minCount) must exceed delta ($delta) to keep the " +
        "score numerator positive")
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(Text.tokens(col(textCol)).as("__tk"))
    val uni = tk.select(explode(col("__tk")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cu"))
    val totN = uni.agg(sum(col("__cu")).as("__n"))
    val pairs = tk
      .filter(size(col("__tk")) >= 2)
      .select(expr("slice(__tk, 1, size(__tk) - 1)").as("__l"),
        expr("slice(__tk, 2, size(__tk) - 1)").as("__r"))
      .select(explode(arrays_zip(col("__l"), col("__r"))).as("__p"))
      .select(col("__p.__l").as("tok_a"), col("__p.__r").as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val scored = pairs
      .join(uni.select(col("__tok").as("tok_a"), col("__cu").as("__ca")),
        Seq("tok_a"))
      .join(uni.select(col("__tok").as("tok_b"), col("__cu").as("__cb")),
        Seq("tok_b"))
      .crossJoin(totN)
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        expr(s"((c_ab - $delta) * __n * 1000000L) div (__ca * __cb)")
          .as("score_e6"))
    // global top-K as TakeOrdered (parallel partial top-K per partition,
    // k-row merge), NOT a no-partition row_number window: the scored
    // relation is the bigram-TYPE domain above minCount — vocabulary²-
    // bounded, not corpus-bounded, which is still far too large to drag
    // through a single-partition window sort at scale. Same rows: the
    // rank column was dropped after the filter.
    scored.orderBy(col("score_e6").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Pairwise total-variation distance between per-group unigram token
    * distributions — the mixture-design diagnostic that says how
    * distributionally distinct two sources/languages/shards actually are
    * (TV ≈ 0: interchangeable; TV ≈ 1: disjoint vocabularies), without
    * the logarithms KL would need (the module-wide no-libm rule).
    *
    * Exactness: TV(P,Q) = 1 − Σ_w min(P(w), Q(w)), and with P = c_a/n_a
    * the min comparison clears denominators — min(c_a·n_b, c_b·n_a) — so
    * the whole sum is exact integer arithmetic in decimal(38,0) (a
    * 64-bit count times a 64-bit total overflows a long at corpus
    * scale), divided ONCE by n_a·n_b per pair. Tokens present in only
    * one group contribute zero to the min-sum and are correctly absorbed
    * by the 1− form — no full-outer join needed.
    *
    * Scale shape: one partial-aggregable (group, token) count, a
    * token-keyed self-equi-join whose per-token fan-out is bounded by
    * the GROUP count (mixture-sized, not data-sized — a token appearing
    * in all G groups emits G² rows, with G = #sources ~ tens), one
    * pair-keyed aggregate. Group totals ride in as a broadcast. All-pair
    * coverage comes from a cross join of the G-row totals table, so
    * vocabulary-disjoint pairs still emit their TV = 1 row.
    *
    * Output: (g_a, g_b, n_a, n_b, shared_vocab, tv) for g_a < g_b, tv
    * rounded to 6 places.
    */
  def unigramTV(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(groupCol).as("__g"),
      explode(Text.tokens(col(textCol))).as("__tok"))
    val counts = toks.groupBy(col("__g"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val cg = counts.join(broadcast(totals), Seq("__g"))
    val dec = "decimal(19,0)"
    val a = cg.select(col("__g").as("g_a"), col("__tok"),
      col("__c").cast(dec).as("__ca"), col("__n").cast(dec).as("__na"))
    val b = cg.select(col("__g").as("g_b"), col("__tok"),
      col("__c").cast(dec).as("__cb"), col("__n").cast(dec).as("__nb"))
    // the PRODUCT is cast to decimal(38,0) explicitly — the documented
    // contract (count × total can exceed decimal(19,0)·19,0's implicit
    // widening guarantees); the min-sum then accumulates in 38,0.
    val wide = "decimal(38,0)"
    val overlap = a.join(b, Seq("__tok"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("shared_vocab"),
        sum(least((col("__ca") * col("__nb")).cast(wide),
          (col("__cb") * col("__na")).cast(wide))).as("__minsum"))
    val pairs = totals.select(col("__g").as("g_a"), col("__n").as("n_a"))
      .crossJoin(totals.select(col("__g").as("g_b"), col("__n").as("n_b")))
      .filter(col("g_a") < col("g_b"))
    // Vocabulary-disjoint pairs (no overlap row) are TV = 1.0 by the 1−
    // form; pairs WITH an overlap row must not coalesce __minsum — a
    // decimal-overflow null there would otherwise masquerade as a
    // plausible TV = 1.0 instead of surfacing as null.
    pairs.join(overlap, Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        coalesce(col("shared_vocab"), lit(0L)).as("shared_vocab"),
        when(col("shared_vocab").isNull, lit(1.0))
          .otherwise(round(lit(1.0) - col("__minsum").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("tv"))
  }
}
