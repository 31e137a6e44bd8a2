package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the lexical-search
  * primitive of every training-data curation stack (query-targeted corpus
  * slicing, retrieval-augmented filtering, eval-set mining) and the
  * classic complement to the embedding ANN path in `Vec`.
  *
  * Scoring is the BM25 family (Robertson/Spärck Jones probabilistic
  * relevance) with one deliberate substitution: the idf factor is the RAW
  * rational `(N - df + 0.5) / (df + 0.5) + 1 = (2N + 2) / (2df + 1)`
  * rather than its logarithm. Per query term the weight stays strictly
  * monotone in df, but across terms the rare-term emphasis is stronger
  * than log-damped BM25 — documented, not hidden. The reason is the
  * repo's oracle-parity rule (no transcendentals): a probe of libm `ln`
  * against DuckDB's over the idf argument domain showed bit divergence on
  * ~0.1% of values, which a hash-comparing oracle cannot tolerate.
  *
  * All scoring arithmetic is EXACT integer work in decimal(38,0): each
  * per-term score is a ratio of two integer products, quantized to six
  * fixed decimal places by one integral division, and the per-doc sum of
  * those quantized integers is order-free. Both engines therefore compute
  * bit-identical scores regardless of join or aggregation order.
  *
  * With k1 = 6/5 and b = 3/4 (the standard 1.2 / 0.75), clearing
  * denominators gives the per-(doc, term) score
  *
  *   score = (2N+2) * 44 * tf * T
  *           ---------------------------------    (N docs, T total tokens,
  *           (2df+1) * (20*tf*T + 6*T + 18*dl*N)   dl doc length)
  *
  * quantized as `(num * 10^6) div den`. Bound check for decimal(38,0):
  * num*10^6 ~ 2N * 44 * tf * T * 10^6; at a 100 TB corpus (N ~ 10^10
  * docs, T ~ 10^15 tokens, tf <= 10^4) that is ~10^37 — inside 38 digits,
  * at the edge by design and asserted in the doc here rather than
  * silently truncated (Spark decimal overflow raises under ANSI).
  *
  * Scale design (100 TB): term frequencies for the query terms come from
  * one token scan filtered to the query vocabulary BEFORE any shuffle
  * (the exploded stream is cut to ~|query| * N rows at the scan); doc
  * lengths are a second scan-stage pass with the codegen'd token_count kernel
  * (no explode at all); N and T ride in as a broadcast 1-row aggregate.
  * df is an aggregate of the already-filtered tf pairs. No corpus-sized
  * shuffle exists anywhere in the plan; the final top-k is a single
  * TakeOrdered over per-doc scores.
  */
object Rank {

  private val Quant = 1000000L // 10^6: six fixed decimal places

  /** Top-`k` documents for `queryTerms` by the quantized rational-idf BM25
    * score. Output: (idCol, n_terms, score_q, score) where `score_q` is
    * the exact quantized integer (score * 10^6 floored) and `score` its
    * double rendering; rows arrive ordered by (score_q desc, id asc).
    */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(k >= 1, s"k must be >= 1, got $k")

    val dec = "decimal(38,0)"
    // Doc lengths from the compiled token counter — a scan-only pass.
    val lens = docs.select(col(idCol),
      Text.tokenCount(col(textCol)).cast("long").as("dl"))
    // Corpus totals as ONE broadcast row: never a driver-side literal.
    val totals = broadcast(lens.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("t_tokens")))
    // Query-term tf: the explode is cut to the query vocabulary at the
    // scan, so the groupBy input is |query|-bounded per doc.
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    // df over the (doc, term) pairs — already query-vocabulary-sized.
    val dfreq = broadcast(tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df")))

    bm25Aggregate(
      tf.join(dfreq, Seq("term")).join(lens, Seq(idCol)).crossJoin(totals),
      idCol, k)
  }

  /** RAKE corpus keyword extraction (Rose et al. 2010, "Automatic
    * Keyword Extraction from Individual Documents") — the
    * degree-over-frequency phrase miner beside
    * [[graft.functions.Graph.textRank]]'s random-walk one: candidate
    * phrases are maximal runs of content words (lowercased [a-z]+
    * tokens, stopwords and punctuation break runs), each word scores
    * degree(w)/freq(w) over the phrase table (degree = summed length
    * of phrases containing the word — long-phrase membership is
    * evidence of salience), and a phrase scores the sum of its words'
    * scores. Run CORPUS-level: word stats aggregate over every
    * document's phrases, so the ranking surfaces collection-wide
    * keyphrases. Per-word scores render as exact ppm integers
    * ([[Stats.fixedPointExact]]) before summing — deterministic
    * cross-engine, no float accumulation order.
    *
    * Scale shape: one token scan; the gaps-and-islands run numbering
    * rides per-document windows (doc-bounded partitions); the phrase
    * table is token-stream sized with map-side-combinable word stats
    * (vocabulary-sized); the final ranking is a TakeOrdered top-k.
    * Output: (phrase, n, score_ppm) — n = corpus occurrence count —
    * ordered (score_ppm desc, phrase asc), top `k`.
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxPhraseLen: Int, k: Int): DataFrame = {
    require(maxPhraseLen >= 1, s"maxPhraseLen must be >= 1, got $maxPhraseLen")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("__id"),
        posexplode(Text.tokens(lower(col(textCol)))).as(Seq("__p", "__tok")))
      .filter(col("__tok").rlike("^[a-z]+$") &&
        !col("__tok").isin(stopwords: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__p"))
    val ph = toks
      .withColumn("__grp", col("__p") - row_number().over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__tok")))),
          x => x.getField("__tok")), " ").as("phrase"),
        count(lit(1)).as("__plen"))
      .filter(col("__plen") <= maxPhraseLen)
    val pw = ph.select(col("__id"), col("__grp"), col("phrase"),
      col("__plen"), explode(split(col("phrase"), " ")).as("__w"))
    val ws = pw.groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
    pw.join(ws, Seq("__w"))
      .groupBy(col("__id"), col("__grp"), col("phrase"))
      .agg(sum(Stats.fixedPointExact(col("__deg"), col("__freq")))
        .as("__sc"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n"), max(col("__sc")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase").asc)
      .limit(k)
  }

  /** Top-`k` documents by QUERY-LIKELIHOOD with Dirichlet smoothing
    * (Zhai & Lafferty 2001) — the language-modeling retrieval scorer
    * beside [[bm25TopDocs]]'s probabilistic-relevance one (the two
    * classic lexical families; their rank disagreements are the
    * standard retrieval-stack diagnostic):
    *
    *   score(q, d) = sum_{w in q} log P(w|d),
    *   P(w|d) = (tf_{w,d} + mu * cf_w / C) / (dl_d + mu)
    *
    * with cf_w the corpus frequency, C total corpus tokens, mu the
    * Dirichlet prior mass. Logs are the house 2^16-quantized
    * [[graft.plans.FixLog.log2q]] (no libm), each term's log taken of
    * the cleared-denominator rational:
    *
    *   log2 P(w|d) ~ log2q(tf*C + mu*cf_w) - log2q((dl+mu)*C)
    *
    * so score_q = sum over matched terms of log2q(tf*C + mu*cf_w)
    * minus the analytic remainder — UNMATCHED terms contribute their
    * smoothing floor log2q(mu*cf_w) without materializing a doc x term
    * grid: score_q = pos + K0 - nq*log2q((dl+mu)*C), with
    * pos = sum_{tf>0} [log2q(tf*C + mu*cf_w) - log2q(mu*cf_w)] and
    * K0 = sum_{w in q} log2q(mu*cf_w) a broadcast constant. Query
    * terms absent from the corpus drop out (their P(w|C) = 0 floor
    * would send every document to -inf alike).
    *
    * Scale design mirrors BM25: the token scan is cut to the query
    * vocabulary before any shuffle, doc lengths ride the codegen'd
    * token counter, cf/C/K0 are broadcast one-row aggregates, every
    * document's score is one partial-aggregable sum + scan-stage
    * arithmetic, and the top-k is a TakeOrdered — no corpus-sized
    * shuffle. Bound check: tf*C + mu*cf stays under 10^18 up to
    * C ~ 10^13 tokens with tf <= 10^4 (and log2q takes a long).
    *
    * Output: (idCol, n_terms, score_q, score), ordered
    * (score_q desc, id asc); score = score_q / 2^16 in bits.
    */
  def qlDirichletTopDocs(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], mu: Long, k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(mu >= 1, s"mu must be >= 1, got $mu")
    require(k >= 1, s"k must be >= 1, got $k")
    val lg: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.plans.FixLog.log2qCol
    val lens = docs.select(col(idCol),
      Text.tokenCount(col(textCol)).cast("long").as("dl"))
    val totals = broadcast(lens.agg(
      sum(col("dl")).cast("long").as("t_tokens")))
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val cf = broadcast(tf.groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cf")))
    val pos = tf.join(cf, Seq("term")).crossJoin(totals)
      .select(col(idCol),
        (lg(col("tf") * col("t_tokens") + lit(mu) * col("cf")) -
          lg(lit(mu) * col("cf"))).as("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(col("__t")).as("__pos"))
    val k0 = broadcast(cf.agg(
      sum(lg(lit(mu) * col("cf"))).as("__k0"),
      count(lit(1)).cast("long").as("__nq")))
    lens.crossJoin(totals).crossJoin(k0)
      .join(pos, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        (coalesce(col("__pos"), lit(0L)) + col("__k0") -
          col("__nq") * lg((col("dl") + lit(mu)) * col("t_tokens")))
          .cast("long").as("score_q"))
      .withColumn("score", col("score_q").cast("double") / 65536.0)
      .orderBy(col("score_q").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_terms"), col("score_q"), col("score"))
  }

  /** Pseudo-relevance-feedback QUERY EXPANSION (the RM1/RM3 family,
    * Lavrenko & Croft 2001, with the BM25 score as the document
    * weight): score the corpus for the seed query, take the top
    * `kDocs` feedback documents, and weight every candidate term by
    * Σ over feedback docs of tf(term, d) · score_q(d) — terms frequent
    * in highly-ranked documents become the expansion. Seed terms and
    * stopwords are excluded (expanding a query with itself or with
    * glue words is the classic PRF failure mode); candidates are
    * [a-z]+ tokens like the NB vocabulary.
    *
    * Exact arithmetic: tf and score_q are integers, the weight is the
    * decimal-widened sum of their products — engine-identical, so the
    * expansion list (w_q desc, term asc, top kTerms) is deterministic.
    *
    * Scale shape: the BM25 pass is [[bm25TopDocs]]'s (query-vocabulary
    * bounded); the term tally runs over the kDocs FEEDBACK docs only
    * (one id-equi-join cuts the corpus token stream to them), then a
    * term-keyed partial-aggregable sum and a bounded top-kTerms.
    * Output: (term, n_docs, w_q), ordered (w_q desc, term asc).
    */
  def prfExpansionTerms(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], kDocs: Int, kTerms: Int,
      stopwords: Seq[String] = Nil): DataFrame = {
    require(kDocs >= 1 && kTerms >= 1,
      s"kDocs and kTerms must be >= 1, got $kDocs, $kTerms")
    val fb = bm25TopDocs(docs, idCol, textCol, queryTerms, kDocs)
      .select(col(idCol), col("score_q"))
    val excluded = (queryTerms ++ stopwords).distinct
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .where(col("term").rlike("^[a-z]+$"))
      .filter(!col("term").isin(excluded: _*))
      .join(fb, Seq(idCol))
      .groupBy(col("term"), col(idCol), col("score_q"))
      .agg(count(lit(1)).as("__tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("__tf").cast("decimal(19,0)") * col("score_q"))
          .cast("decimal(38,0)")).cast("long").as("w_q"))
      .orderBy(col("w_q").desc, col("term").asc)
      .limit(kTerms)
  }

  /** The ONE BM25 scoring + top-k pass, shared by the scan path above and
    * the postings-index path in [[TextIndex]] — duplicating the
    * cleared-denominator arithmetic is how index and scan scores would
    * silently drift. `perTerm` carries one row per (doc, matched term):
    * (idCol, tf, df, dl, n_docs, t_tokens).
    */
  private[functions] def bm25Aggregate(perTerm: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val scored = perTerm
      .withColumn("__num",
        (lit(2) * col("n_docs") + lit(2)).cast(dec) * lit(44).cast(dec) *
          col("tf").cast(dec) * col("t_tokens").cast(dec) *
          lit(Quant).cast(dec))
      .withColumn("__den",
        (lit(2) * col("df") + lit(1)).cast(dec) *
          (lit(20).cast(dec) * col("tf").cast(dec) * col("t_tokens").cast(dec) +
            lit(6).cast(dec) * col("t_tokens").cast(dec) +
            lit(18).cast(dec) * col("dl").cast(dec) * col("n_docs").cast(dec)))
      // Integral division of positive decimals: exact, engine-identical.
      .withColumn("__term_q", expr("__num div __den"))

    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(col("__term_q")).cast("long").as("score_q"))
      .withColumn("score", col("score_q").cast("double") / lit(Quant.toDouble))
      .orderBy(col("score_q").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_terms"), col("score_q"), col("score"))
  }

  /** Hard-negative mining for contrastive retrieval training: the top
    * BM25 hit is the POSITIVE; the next-ranked candidates become
    * negatives only if their n-gram Jaccard against the positive stays
    * at or below `maxJaccard` — near-duplicates of the positive are
    * FALSE negatives that poison a contrastive objective, the standard
    * failure mode this operator exists to cut.
    *
    * Scale shape: ranking is the bounded [[bm25TopDocs]] TakeOrdered;
    * everything after runs on `candidates + 1` rows — the rank window is
    * single-partition BY CONSTRUCTION (its input is the bounded top
    * list, never the corpus), the positive's shingle set broadcasts, and
    * the candidates' sets are cut to the ranked ids by semi-join before
    * any aggregation. Candidates too short to shingle share nothing with
    * the positive and pass the gate at similarity 0.
    *
    * Output: (idCol, bm25_rank, score_q, score, jaccard_pos), the k
    * best-ranked surviving negatives in rank order.
    */
  def hardNegatives(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, candidates: Int, maxJaccard: Double,
      shingleSize: Int = 3): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must cover k ($k)")
    val ranked = bm25TopDocs(docs, idCol, textCol, queryTerms, candidates + 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_q").desc, col(idCol).asc)
    val rr = ranked.withColumn("bm25_rank",
      org.apache.spark.sql.functions.row_number().over(w).cast("long"))
    val pos = rr.filter(col("bm25_rank") === 1L).select(col(idCol))
    val cands = rr.filter(col("bm25_rank") > 1L)
    val sets = Dedup.docShingleIds(docs, idCol, textCol, shingleSize)
      .distinct()
      .join(broadcast(rr.select(col(idCol))), Seq(idCol), "left_semi")
    val posSet = broadcast(sets
      .join(broadcast(pos), Seq(idCol), "left_semi")
      .select(col("tid")).withColumn("__hit", lit(1L)))
    val posSize = broadcast(posSet.agg(count(lit(1)).as("__np")))
    val candStats = sets
      .join(broadcast(cands.select(col(idCol))), Seq(idCol), "left_semi")
      .join(posSet, Seq("tid"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("__inter"))
    cands.join(candStats, Seq(idCol), "left")
      .crossJoin(posSize)
      .withColumn("jaccard_pos", when(col("__n").isNull, lit(0.0)).otherwise(
        round(col("__inter").cast("double") /
          (col("__n") + col("__np") - col("__inter")).cast("double"), 6)))
      .filter(col("jaccard_pos") <= maxJaccard)
      .orderBy(col("bm25_rank").asc)
      .limit(k)
      .select(col(idCol), col("bm25_rank"), col("score_q"), col("score"),
        col("jaccard_pos"))
  }

  private val RrfQuant = 1000000000L // 10^9: RRF contribution fixed point

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of ranked
    * candidate lists — the standard hybrid-retrieval combiner (lexical +
    * semantic, or any mix of scorers whose scales don't compare): each
    * list contributes `1 / (kConst + rank)` for the ids it ranked, and
    * ids missing from a list contribute nothing.
    *
    * Contributions are quantized to exact integers — `10^9 div (kConst +
    * rank)` — so the per-id sum is order-free and engine-identical, the
    * same fixed-point discipline as the BM25 and PageRank scorers here.
    *
    * Scale design: inputs are already top-k lists (bounded by their
    * retrievers — TakeOrdered outputs, never corpus-sized), so the union
    * + groupBy runs over |lists| * k rows; the fused top-k is again one
    * bounded TakeOrdered.
    *
    * Input frames carry (idCol, rankCol) with rank 1-based; output is
    * (idCol, n_lists, rrf_q, rrf) ordered by (rrf_q desc, id asc).
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      kConst: Int, topK: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(kConst >= 0, s"kConst must be >= 0, got $kConst")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val contribs = lists
      .map(_.select(col(idCol),
        expr(s"CAST($RrfQuant AS BIGINT) div " +
          s"(CAST($kConst AS BIGINT) + $rankCol)").as("__c")))
      .reduce(_.unionByName(_))
    contribs.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_lists"),
        sum(col("__c")).cast("long").as("rrf_q"))
      .withColumn("rrf", col("rrf_q").cast("double") / lit(RrfQuant.toDouble))
      .orderBy(col("rrf_q").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Truncated rank-biased overlap (Webber et al. 2010) at persistence
    * p = 1/2 between two per-query rankings — the rank-AWARE agreement
    * metric for grading an ANN/quantized serving path against the exact
    * ranking (plain recall@k treats rank 1 and rank k as equal; RBO
    * weights depth d by p^(d-1), so disagreement at the top costs most).
    *
    * p = 1/2 makes every term dyadic-rational: RBO@D = Σ_{d≤D} 2^{-d} ·
    * |A_d ∩ B_d| / d, and a doc first common at depth m = max(rank_a,
    * rank_b) contributes exactly w(m) = Σ_{d=m..D} L·2^{D-d}/d (L =
    * lcm(1..D)) to the numerator over the fixed denominator L·2^D — so
    * the per-query sum is an exact INTEGER and engine-identical; the
    * only double is the final division. Full agreement scores 1 − 2^-D
    * (the truncation's mass), disjoint lists 0.
    *
    * Scale shape: one (query, doc)-keyed equi-join of two k-bounded
    * rankings + one partial-aggregable per-query sum; the weight lookup
    * is a D-branch CASE on the compiled path. Queries with NO common
    * docs still emit their 0.0 row (left join from ranking A's query
    * set — absence of agreement is the signal, not missing data).
    *
    * Inputs need (query_id, neighbor_id, rank) with rank 1-based;
    * ranks beyond `depth` are ignored. Output: (query_id, n_common,
    * rbo) with rbo rounded to 6.
    */
  def rbo(a: DataFrame, b: DataFrame, depth: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 20,
      s"depth must be in [1, 20] (L*2^D must fit a long), got $depth")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val lcmD = (1 to depth).foldLeft(1L)((l, d) => l / gcd(l, d) * d)
    val denom = lcmD * (1L << depth)
    val w: Map[Int, Long] = (1 to depth).map(m =>
      m -> (m to depth).map(d => lcmD / d * (1L << (depth - d))).sum).toMap
    val wCol = (1 to depth).foldLeft(lit(0L)) { case (acc, m) =>
      when(col("__m") === m, lit(w(m))).otherwise(acc) }
    val aa = a.filter(col("rank") <= depth)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("__ra"))
    val bb = b.filter(col("rank") <= depth)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("__rb"))
    val common = aa.join(bb, Seq("query_id", "neighbor_id"))
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
      .withColumn("__w", wCol)
      .groupBy(col("query_id"))
      .agg(sum(col("__w")).as("__s"), count(lit(1)).as("n_common"))
    // The query universe comes from the UNFILTERED ranking A: a query
    // whose A-side ranks all exceed `depth` still owns its 0.0 row (the
    // depth-filtered aa would silently drop it from the output).
    a.select(col("query_id")).distinct()
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("__s"), lit(0L)).cast("double") /
          lit(denom.toDouble), 6).as("rbo"))
  }
}
