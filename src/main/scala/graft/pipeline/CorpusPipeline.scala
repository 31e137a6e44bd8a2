package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Cluster, Dedup, Lines, Quality, Text, Vec}

/** End-to-end training-corpus curation: the composition a 100 TB text
  * pipeline actually runs, built entirely from graft operators —
  *
  *   annotate (tokens, quality, language)
  *     → quality gate
  *     → exact dedup (fingerprint groups, keep smallest id)
  *     → near-dup dedup (MinHash-LSH candidates, Jaccard-verified,
  *       keep smallest id per connected pair)
  *
  * Every stage is a shuffle-bounded DataFrame transform: annotation is
  * map-only; exact dedup is one hash groupBy; near-dup is the banded LSH
  * join (linear for bounded bucket occupancy). Nothing collects to the
  * driver; stats are computed as a side aggregate.
  */
object CorpusPipeline {

  case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 10,
      stopwords: Seq[String] = Seq("the", "a"),
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.5,
      // Propagation-round cap for nearDedupClustered: must exceed the
      // longest transitive near-dup chain's diameter (connectedComponents
      // throws past it rather than returning fractured clusters).
      ccMaxIter: Int = 20)

  /** Map-only annotation: token count, quality score, fingerprints. TWO
    * independent hashes fingerprint each doc: dedup keyed on a single
    * ~2^30 polynomial hash collides distinct documents by the birthday
    * bound around 40k docs; the (poly, xxhash64) pair pushes collisions
    * past any practical corpus while keeping the dedup key fixed-width
    * (grouping on the full text would shuffle the corpus by its text).
    */
  def annotate(docs: DataFrame, cfg: Config = Config()): DataFrame =
    docs
      .withColumn("n_tokens", Text.tokenCount(col(cfg.textCol)))
      .withColumn("quality", Text.qualityScore(col(cfg.textCol), cfg.stopwords))
      .withColumn("fingerprint", Text.charFingerprint(col(cfg.textCol)))
      .withColumn("fingerprint2", xxhash64(col(cfg.textCol)))

  /** Quality gate: drop short docs. */
  def qualityGate(annotated: DataFrame, cfg: Config = Config()): DataFrame =
    annotated.filter(col("n_tokens") >= cfg.minTokens)

  /** Exact dedup: keep the smallest id per identical fingerprint PAIR. */
  def exactDedup(docs: DataFrame, cfg: Config = Config()): DataFrame =
    Dedup.dedupRows(docs, Seq("fingerprint", "fingerprint2"), cfg.idCol)

  /** Near-dup removal, single-pass policy: for every verified pair the
    * larger id is dropped. Cheapest (no propagation rounds) but keeps
    * both ends of a transitive chain's extremes; use nearDedupClustered
    * below when full connected-component resolution matters.
    */
  def nearDedup(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val verified = verifiedNearDupPairs(docs, cfg)
    val toDrop = verified.select(col("id_b").as(cfg.idCol)).distinct()
    docs.join(toDrop, Seq(cfg.idCol), "left_anti")
  }

  /** LSH candidate pairs verified by exact Jaccard — the shared similarity
    * graph both near-dedup policies consume. Jaccard is computed ONLY for
    * candidate pairs (join the candidates back to the shingle sets) — the
    * whole point of banding is to avoid the full inverted-list self-join
    * at corpus scale — and through the one shared verifier
    * (Dedup.verifyJaccard), so the threshold arithmetic cannot drift
    * between the ngram path and this one.
    */
  def verifiedNearDupPairs(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val sh = Dedup.docShingleIds(docs, cfg.idCol, cfg.textCol, cfg.shingleSize)
      .distinct()
    val sig = Dedup.minhashSignature(sh, cfg.idCol, col("tid"), cfg.numHashes)
    val candidates = Dedup.lshCandidatePairs(
      Dedup.lshBands(sig, cfg.idCol, cfg.rowsPerBand), cfg.idCol)
    Dedup.verifyJaccard(candidates, sh, cfg.idCol, cfg.jaccardThreshold)
  }

  /** Near-dup removal by full connected components: the verified pairs
    * form a similarity graph, and exactly one canonical representative
    * (the smallest id) survives per component. Differs from the pairwise
    * drop above whenever a chain's bridge doc outranks its neighbors —
    * edges (1,3) and (2,3) with no (1,2) drop only 3 pairwise, keeping
    * both chain ends {1, 2}, while the component resolves to {1} here
    * (the chain is one duplication event; the dropped bridge would have
    * connected its survivors). The deterministic policy large dedup
    * pipelines standardize on; costs the extra label-propagation rounds
    * of Cluster.assignClusters.
    */
  def nearDedupClustered(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val verified = verifiedNearDupPairs(docs, cfg)
    val asg = Cluster.assignClusters(verified.select(col("id_a"), col("id_b")),
      "id_a", "id_b", docs.select(col(cfg.idCol)), cfg.idCol, cfg.ccMaxIter)
    Cluster.representatives(docs, cfg.idCol, asg)
  }

  /** Near-dup removal keeping the BEST copy per component (most tokens,
    * id tie-break) instead of the smallest id — the RefinedWeb/Dolma
    * policy: near-dup families usually contain one fullest copy plus
    * truncated or boilerplate-wrapped variants, and the min-id pick
    * keeps whichever happened to crawl first. Needs annotated docs
    * (`n_tokens` from [[annotate]]); same verified pair graph and
    * component pass as [[nearDedupClustered]], plus one component-keyed
    * window.
    */
  def nearDedupBestCopy(annotated: DataFrame, cfg: Config = Config()): DataFrame = {
    val verified = verifiedNearDupPairs(annotated, cfg)
    val asg = Cluster.assignClusters(verified.select(col("id_a"), col("id_b")),
      "id_a", "id_b", annotated.select(col(cfg.idCol)), cfg.idCol,
      cfg.ccMaxIter)
    val keep = Cluster.canonicalByScore(asg, cfg.idCol,
        annotated.select(col(cfg.idCol), col("n_tokens")), "n_tokens")
      .filter(col("keep")).select(col(cfg.idCol))
    annotated.join(keep, Seq(cfg.idCol), "left_semi")
  }

  /** Training-shard handoff: deterministic global shuffle of the TRAIN
    * split into `nShards` dense-position shards (Sampling.shardAssign).
    * Runs after [[assignSplits]] — the loader reads shard files in pos
    * order and replays the same training order on every rerun.
    */
  def shardForTraining(withSplits: DataFrame, nShards: Int,
      cfg: Config = Config()): DataFrame =
    graft.functions.Sampling.shardAssign(
      withSplits.filter(col("split") === "train"), cfg.idCol, nShards)

  /** Semantic dedup stage: drop documents whose EMBEDDINGS are near-dups
    * of a kept document, even when their text shares no shingles — the
    * paraphrase/translation-dup layer the token-based stages above cannot
    * see. `embeddings` carries (cfg.idCol, embedding); assignment comes
    * from Vec.semDedup (in-k-means-cell cosine pairs → connected
    * components → min-id representative), so the stage is cell-blocked
    * equi-joins end to end, never corpus². Docs without an embedding row
    * are KEPT (no evidence of duplication), mirroring the other stages'
    * drop-only-on-evidence policy.
    */
  def semanticDedup(docs: DataFrame, embeddings: DataFrame,
      threshold: Double = 0.9, kCells: Int = 64, iters: Int = 2,
      cfg: Config = Config()): DataFrame = {
    val asg = Vec.semDedup(embeddings, threshold, kCells, iters,
      cfg.idCol, "embedding")
    val toDrop = asg.filter(!col("is_rep")).select(col(cfg.idCol))
    docs.join(toDrop, Seq(cfg.idCol), "left_anti")
  }

  /** Substring-dedup gate: drop documents whose repeated-SPAN mass (token
    * intervals covered by n-gram windows occurring more than once
    * corpus-wide — Dedup.spanDedupStats) leaves less than `minKeepRatio`
    * of their tokens. The span layer catches partial copies — boilerplate
    * runs, quoted blocks, template text — that document-level and
    * embedding-level dedup both miss because the HOSTS differ. Dropping
    * the worst offenders (rather than excising spans) keeps the stage a
    * filter, like every other gate here; span excision is a downstream
    * rewrite consumers can build from Dedup.repeatedSpans directly.
    */
  def spanGate(docs: DataFrame, minKeepRatio: Double = 0.5,
      spanGram: Int = 8, cfg: Config = Config()): DataFrame = {
    val tooDup = Dedup.spanDedupStats(docs, cfg.idCol, cfg.textCol, spanGram)
      .filter(col("keep_ratio") < minKeepRatio)
      .select(col(cfg.idCol))
    docs.join(tooDup, Seq(cfg.idCol), "left_anti")
  }

  /** Contamination gate: drop docs whose eval-shingle overlap fraction
    * exceeds `maxContamRatio` — the graded form of the hard
    * `Dedup.decontaminate` drop (ratio 0.0 reproduces it for any doc
    * with at least one shared shingle). Filter semantics like every
    * other gate; the evidence behind each drop is
    * `Dedup.contaminationStats`, the same frame this gate filters.
    */
  def contamGate(docs: DataFrame, evalDocs: DataFrame,
      maxContamRatio: Double = 0.0, cfg: Config = Config()): DataFrame = {
    val tooHot = Dedup.contaminationStats(docs, evalDocs, cfg.idCol,
        cfg.textCol, cfg.shingleSize)
      .filter(col("contam_ratio") > maxContamRatio)
      .select(col(cfg.idCol))
    docs.join(tooHot, Seq(cfg.idCol), "left_anti")
  }

  /** Vocabulary-coverage gate: drop docs whose out-of-vocabulary rate
    * against the corpus top-`vocabSize` tokens exceeds `maxOovRate` —
    * the garble/OCR-noise cut. Docs with no tokens pass (they are the
    * quality gate's job, and oovStats cannot score them).
    */
  def oovGate(docs: DataFrame, vocabSize: Int = 50000,
      maxOovRate: Double = 0.5, cfg: Config = Config()): DataFrame = {
    val garble = graft.functions.LangModel.oovStats(docs, cfg.idCol,
        cfg.textCol, vocabSize)
      .filter(col("oov_rate") > maxOovRate)
      .select(col(cfg.idCol))
    docs.join(garble, Seq(cfg.idCol), "left_anti")
  }

  /** LM-fit gate: drop docs whose mean Kneser-Ney bigram probability
    * under `lm` (a [[graft.functions.LangModel.knBigramProbs]] table —
    * train it on a CLEAN reference corpus for the CCNet composition)
    * falls below `minFit`. Docs with no bigrams pass (the quality gate
    * owns them; the scorer cannot see them).
    */
  def lmFitGate(docs: DataFrame, lm: DataFrame, minFit: Double,
      cfg: Config = Config()): DataFrame = {
    val unfit = graft.functions.LangModel.knScoreDocs(docs, cfg.idCol,
        cfg.textCol, lm)
      .filter(col("fit") < minFit)
      .select(col(cfg.idCol))
    docs.join(unfit, Seq(cfg.idCol), "left_anti")
  }

  /** Quality-classifier gate — the GPT-3/LLaMA fastText-filter flow:
    * train a batch perceptron on a LABELED seed corpus (`seed` carries
    * (idCol, textCol, y) with y = +1 for "looks like the curated
    * target", −1 for random crawl), score EVERY corpus doc under the
    * trained weights, keep the docs predicted positive. Training sees
    * only the seed (small by construction); scoring is one broadcast of
    * the weight table over a scan of the corpus.
    */
  def classifierGate(docs: DataFrame, seed: DataFrame, nBuckets: Int = 256,
      rounds: Int = 12, cfg: Config = Config()): DataFrame = {
    val w = graft.functions.Classifier.perceptronTrain(seed, cfg.idCol,
      cfg.textCol, seed.select(col(cfg.idCol), col("y")), nBuckets, rounds)
    val kept = graft.functions.Classifier.scoreWith(docs, cfg.idCol,
        cfg.textCol, w, nBuckets)
      .filter(col("predicted") === 1L)
      .select(col(cfg.idCol))
    docs.join(kept, Seq(cfg.idCol), "left_semi")
  }

  /** Held-out split assignment over the CURATED corpus (split after
    * dedup, never before: a near-dup pair straddling train/test is
    * leakage the split exists to prevent). Deterministic by id hash —
    * reruns and incremental batches agree on every assignment.
    */
  def assignSplits(curated: DataFrame,
      weights: Seq[(String, Int)] = Seq(
        "train" -> 9800, "val" -> 100, "test" -> 100),
      cfg: Config = Config()): DataFrame =
    graft.functions.Sampling.splitAssign(curated, cfg.idCol, weights)

  /** Full curation; returns (curated-with-splits, statsRow). Each stage is
    * materialized once (localCheckpoint) — the stats row and the returned
    * frame would otherwise re-execute the whole lineage per consumer.
    */
  def curate(docs: DataFrame, cfg: Config = Config()): (DataFrame, DataFrame) = {
    val gated = qualityGate(annotate(docs, cfg), cfg).localCheckpoint(true)
    val exact = exactDedup(gated, cfg).localCheckpoint(true)
    val near = assignSplits(nearDedup(exact, cfg), cfg = cfg)
      .localCheckpoint(true)
    val stats = docs.select(count(lit(1)).as("n_input"))
      .crossJoin(gated.select(count(lit(1)).as("n_gated")))
      .crossJoin(exact.select(count(lit(1)).as("n_exact")))
      .crossJoin(near.select(count(lit(1)).as("n_curated")))
    (near, stats)
  }

  /** Blocklist gate: drop any document containing a banned phrase — ONE
    * compiled Aho–Corasick pass per doc ([[graft.plans.Blocklist]]),
    * map-only, the earliest and cheapest cut in the chain (raw text, no
    * annotation needed).
    */
  def blocklistGate(docs: DataFrame, phrases: Seq[String],
      cfg: Config = Config()): DataFrame =
    if (phrases.isEmpty) docs
    else docs.filter(
      graft.plans.Blocklist.blocklistMask(col(cfg.textCol), phrases) === 0L)

  /** Corpus-wide keep-first line dedup as a TEXT REWRITE stage: every
    * doc's text is replaced by [[Lines.lineDedup]]'s cleaned join, and a
    * doc whose every line occurred earlier in the corpus drops out
    * entirely. Runs BEFORE annotation — token counts, quality, and every
    * downstream fingerprint must describe the text that ships.
    */
  def lineDedupStage(docs: DataFrame, lineLen: Int = 10,
      cfg: Config = Config()): DataFrame = {
    val cleaned = Lines.lineDedup(docs, cfg.idCol, cfg.textCol, lineLen)
      .filter(col("kept_lines") > 0L)
      .select(col(cfg.idCol), col("clean_text"))
    docs.drop(cfg.textCol)
      .join(cleaned, Seq(cfg.idCol))
      .withColumnRenamed("clean_text", cfg.textCol)
  }

  /** Gopher repetition gate: drop docs whose duplicate-line fraction
    * (row-local, scan-stage) or n-gram repetition mass (one grouped gram
    * pass) exceeds the caps — boilerplate/spam text that survives
    * line-level dedup because its repeats are internal.
    */
  def gopherGate(docs: DataFrame, lineLen: Int = 10,
      maxDupLineFrac: Double = 0.3, maxTop2Frac: Double = 0.2,
      maxDup3Frac: Double = 0.6, cfg: Config = Config()): DataFrame = {
    // both signal families are compiled scan-stage expressions now, so
    // the whole gate is ONE map-only filter — no join, no shuffle
    val ls = Lines.lineSignalsText(col(cfg.textCol), lineLen)
    val mass = graft.plans.TextExpressions.ngramRepMass(col(cfg.textCol), 2, 3)
    val nChars = length(col(cfg.textCol)).cast("long")
    def frac(i: Int) = when(nChars > 0,
      coalesce(element_at(mass, i), lit(0L)).cast("double") /
        nChars.cast("double")).otherwise(lit(0.0))
    docs
      .filter(ls.getField("dup_line_frac") <= maxDupLineFrac)
      .filter(frac(1) <= maxTop2Frac && frac(2) <= maxDup3Frac)
  }

  /** Per-source cap: at most `k` docs per `sourceCol`, best quality
    * first ([[Quality.groupCap]] on the two-level rank) — the
    * RefinedWeb-style anti-domination stage. Needs annotated docs.
    */
  def domainCapStage(annotated: DataFrame, sourceCol: String, k: Long,
      cfg: Config = Config()): DataFrame =
    Quality.groupCap(annotated, sourceCol, "quality", cfg.idCol, k)
      .drop("rnk")

  /** THE end-to-end curation run: every gate and dedup layer this module
    * ships, composed in the order a production corpus build applies them
    * —
    *
    *   blocklist → line dedup (text rewrite) → annotate → quality →
    *   gopher repetition → domain cap → span → contamination → OOV →
    *   LM-fit → classifier → exact dedup → near-dup best-copy →
    *   semantic dedup → split → shard
    *
    * Gates go cheapest-and-sharpest first (the compiled blocklist scan,
    * then scan-stage token/quality arithmetic), the line-dedup text
    * rewrite runs BEFORE annotation so every downstream stat describes
    * the text that ships, dedup layers go after the filters (fewer docs
    * to hash/join), the split after ALL dedup (a near-dup pair straddling
    * train/test is the leakage splits exist to prevent), sharding last.
    *
    * `lm` is a [[graft.functions.LangModel.knBigramProbs]] table (CCNet
    * composition: train it on `cleanRef`, a clean reference corpus);
    * `seed` carries (idCol, textCol, y∈{+1,−1}) for the classifier;
    * `embeddings` carries (idCol, embedding) for the semantic layer
    * (docs without an embedding row are kept — drop-only-on-evidence).
    *
    * Returns (survivors-with-splits, sharded train handoff, per-stage
    * survivor counts as a 1-row frame). Every stage is localCheckpointed
    * once: eleven stages of uncheckpointed lineage would replan the
    * whole chain per consumer and nest the near-dup iteration plans.
    *
    * Scale shape: the chain inherits each stage's own audit — scan-stage
    * gates, broadcast-bounded joins, banded/celled dedup blocking, one
    * shard sort exchange — composing them adds no new shuffle shape.
    */
  def curateFull(docs: DataFrame, evalDocs: DataFrame, seed: DataFrame,
      embeddings: DataFrame, lm: DataFrame,
      minFit: Double = 0.001, maxContamRatio: Double = 0.1,
      vocabSize: Int = 50000, maxOovRate: Double = 0.5,
      minKeepRatio: Double = 0.5, semThreshold: Double = 0.9,
      semTargetCellSize: Long = 64L, nShards: Int = 8,
      blockPhrases: Seq[String] = Seq.empty,
      lineDedupLen: Option[Int] = Some(10),
      domainCap: Option[(String, Long)] = None,
      cfg: Config = Config())
      : (DataFrame, DataFrame, DataFrame) = {
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val bl = cp(blocklistGate(docs, blockPhrases, cfg))
    val ld = cp(lineDedupLen.map(lineDedupStage(bl, _, cfg)).getOrElse(bl))
    val ann = cp(annotate(ld, cfg))
    val q = cp(qualityGate(ann, cfg))
    val gp = cp(gopherGate(q, cfg = cfg))
    val dc = cp(domainCap.map { case (src, k) =>
      domainCapStage(gp, src, k, cfg) }.getOrElse(gp))
    val sp = cp(spanGate(dc, minKeepRatio, cfg = cfg))
    val ct = cp(contamGate(sp, evalDocs, maxContamRatio, cfg))
    val ov = cp(oovGate(ct, vocabSize, maxOovRate, cfg))
    val lf = cp(lmFitGate(ov, lm, minFit, cfg))
    val cl = cp(classifierGate(lf, seed, cfg = cfg))
    val ex = cp(exactDedup(cl, cfg))
    val nd = cp(nearDedupBestCopy(ex, cfg))
    val sem = cp(semanticDedup(nd,
      embeddings.join(nd.select(col(cfg.idCol)), Seq(cfg.idCol), "left_semi"),
      semThreshold,
      graft.functions.Vec.deriveKCells(nd.count(), semTargetCellSize),
      cfg = cfg))
    val split = cp(assignSplits(sem, cfg = cfg))
    val shards = cp(shardForTraining(split, nShards, cfg))
    def n(df: DataFrame, as: String) = df.select(count(lit(1)).as(as))
    val stats = n(docs, "n_input")
      .crossJoin(n(bl, "n_blocklist"))
      .crossJoin(n(ld, "n_linededup"))
      .crossJoin(n(q, "n_quality"))
      .crossJoin(n(gp, "n_gopher"))
      .crossJoin(n(dc, "n_domaincap"))
      .crossJoin(n(sp, "n_span"))
      .crossJoin(n(ct, "n_contam"))
      .crossJoin(n(ov, "n_oov"))
      .crossJoin(n(lf, "n_lmfit"))
      .crossJoin(n(cl, "n_classifier"))
      .crossJoin(n(ex, "n_exact"))
      .crossJoin(n(nd, "n_neardup"))
      .crossJoin(n(sem, "n_semantic"))
      .crossJoin(split.filter(col("split") === "train")
        .select(count(lit(1)).as("n_train")))
      .crossJoin(n(shards, "n_sharded"))
    (split, shards, stats)
  }
}
