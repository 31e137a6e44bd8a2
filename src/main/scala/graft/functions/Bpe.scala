package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning (Sennrich, Haddow & Birch 2016) — the
  * tokenizer-TRAINING primitive: each round finds the corpus's most
  * frequent adjacent symbol pair and fuses it everywhere, growing the
  * subword vocabulary greedily.
  *
  * The corpus state lives in the WORD-COUNT table, never per document:
  * one partial-aggregable token count up front, then every round is
  * vocabulary-sized work — pair extraction over distinct words (weighted
  * by count), one 1-row top-pair aggregate broadcast back, one string
  * rewrite per word. That is the standard scalable BPE layout: a 100 TB
  * corpus with a 10M-type vocabulary trains rounds over 10M rows.
  *
  * Symbol sequences are encoded as DOUBLE-SPACE-joined strings padded
  * with "  " at both ends, so applying a merge is ONE literal
  * `replace(rep, " a  b ", " ab ")`: the single-space pattern edges can
  * only land on symbol boundaries (symbols never contain spaces), and
  * because each separator contributes one space to each neighbor, runs
  * of repeated symbols merge with the correct left-to-right greed
  * ("a a a" → "aa a", and "a b a b" fuses BOTH pairs — a single-space
  * encoding would miss every second overlap). String `replace` scans
  * left-to-right without rescanning its own output in both engines,
  * which makes the rewrite engine-identical and keeps the whole trainer
  * under the hash oracle. Caveat: the seed alphabet splits words by
  * UTF-16 code unit on the JVM and by codepoint in DuckDB — identical
  * on BMP text; the synthetic corpus is ASCII.
  */
object Bpe {

  /** Initial character representation of a word: "  c1  c2  ...  ". */
  private[functions] def charRep(word: Column): Column =
    concat(lit("  "),
      concat_ws("  ", filter(split(word, ""), c => length(c) > 0)),
      lit("  "))

  /** Symbols of a representation string (drops the padding empties). */
  private[functions] def symbols(rep: Column): Column =
    filter(split(rep, "  "), s => length(s) > 0)

  /** Learn `rounds` BPE merges over the whitespace tokens of `textCol`.
    * Returns one row per round: (round, sym_a, sym_b, pair_count),
    * deterministic by (count desc, sym_a asc, sym_b asc) tie-break.
    */
  def learnMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    learn(docs, textCol, rounds)._1

  /** Session memo for the trained merge/vocabulary pair: three catalog
    * consumers (merges, encode, fertility) run byte-identical
    * trainings over the same corpus — the NB-memo shared-chain
    * pattern. The merges frame is a driver-local relation; the
    * vocabulary is type-domain-sized.
    */
  private val bpeMemo = new PlanMemo[(DataFrame, DataFrame)]

  /** As `learnMerges`, also returning the final word-level symbol table
    * (word, wc, rep) — the trained segmentation of every corpus type. */
  def learn(docs: DataFrame, textCol: String,
      rounds: Int): (DataFrame, DataFrame) =
    bpeMemo(docs, textCol, rounds) {
      learnUncached(docs, textCol, rounds)
    }

  // private[graft]: the memoized value's reps table owns its storage
  // (every round's table is checkpointed inside)
  private[graft] def learnUncached(docs: DataFrame, textCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    // Checkpoint the vocabulary BEFORE round 1: the corpus token
    // groupBy — the only corpus-sized stage in training — runs exactly
    // once; every round after it touches only the vocabulary table.
    var reps = docs
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("wc"))
      .select(col("word"), col("wc"), charRep(col("word")).as("rep"))
      .checkpointed
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // Adjacent symbol pairs weighted by word count. The winner is
      // COLLECTED (a bounded 1-row action) and inlined as literals: the
      // broadcast-crossJoin alternative re-evaluates this whole pair
      // scan a second time when the rewrite materializes (measured: 2
      // vocabulary shuffles per round instead of 1), and a driver-side
      // merge list makes the merges table a local relation consumers
      // replay for free instead of re-walking training lineage.
      val syms = reps.select(col("wc"), symbols(col("rep")).as("__s"))
      val top = syms
        .select(col("wc"), explode(when(size(col("__s")) >= 2,
            transform(sequence(lit(1), size(col("__s")) - 1),
              i => struct(element_at(col("__s"), i).as("sym_a"),
                element_at(col("__s"), i + 1).as("sym_b"))))
          .otherwise(array())).as("__p"))
        .select(col("__p.sym_a"), col("__p.sym_b"), col("wc"))
        .groupBy(col("sym_a"), col("sym_b"))
        .agg(sum(col("wc")).cast("long").as("pair_count"))
        .orderBy(col("pair_count").desc, col("sym_a").asc, col("sym_b").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) {
        // A pair-less vocabulary (every word fully merged or
        // single-char) ends training early.
        done = true
      } else {
        val (a, b, pc) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((r.toLong, a, b, pc))
        // Literal rewrite is map-only over the checkpointed vocabulary,
        // so this round's materialization costs no shuffle at all.
        reps = reps
          .select(col("word"), col("wc"),
            regexp_replace(col("rep"),
              java.util.regex.Pattern.quote(s" $a  $b "),
              java.util.regex.Matcher.quoteReplacement(s" $a$b ")).as("rep"))
          .checkpointed
        r += 1
      }
    }
    val merges = learned.toSeq
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .orderBy(col("round"))
    (merges, reps)
  }

  /** Segment the whitespace tokens of `textCol` with an already-learned
    * merge table — the SERVING side of the trainer: unseen words segment
    * by replaying the merges in training order, exactly as training
    * rewrote its vocabulary. The merge list is a bounded driver-side
    * artifact (`rounds` rows — same class as the IVF probe's cell list),
    * folded into a chain of `rounds` literal replaces: map-only over the
    * corpus, no join, no shuffle. Output: one row per input row —
    * (input columns, n_words, n_subwords, subwords array).
    *
    * This is the chain-per-token form; when the trained vocabulary table
    * is at hand, [[encodeByVocab]] replaces the per-token replay with a
    * vocabulary lookup and is the 100 TB path.
    */
  def encode(docs: DataFrame, textCol: String, merges: DataFrame): DataFrame = {
    // Training order matters: merge r's output symbols feed merge r+1.
    val ms = merges.select(col("round"), col("sym_a"), col("sym_b"))
      .orderBy(col("round"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val toks = Text.tokens(col(textCol))
    val perWordRep = (w: Column) => ms.foldLeft(charRep(w)) {
      case (rep, (a, b)) =>
        regexp_replace(rep, java.util.regex.Pattern.quote(s" $a  $b "),
          java.util.regex.Matcher.quoteReplacement(s" $a$b "))
    }
    // regexp_replace scans left-to-right past its own output, exactly
    // like the literal replace in training — quoting makes the learned
    // symbols safe as patterns regardless of their characters.
    val subwords = flatten(transform(toks, w => symbols(perWordRep(w))))
    docs
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("subwords", subwords)
      .withColumn("n_subwords", size(col("subwords")).cast("long"))
  }

  /** Vocabulary-join encoding — the scale path: in-vocabulary words (the
    * overwhelming mass of any corpus the trainer saw) segment by ONE
    * equi-join against the trained word table from [[learn]], evaluating
    * the merge-replay chain only for unseen words. Documents reassemble
    * from their positioned tokens with a per-doc sort — doc-sized
    * partitions, never corpus-global. Bit-identical to [[encode]] by
    * construction (the vocabulary table IS the chain's output on its
    * words; spec-asserted), with the per-token regex work replaced by a
    * join the optimizer can broadcast or shuffle by size.
    * Output: (idCol, n_words, n_subwords, subwords); token-less
    * documents are absent (explode semantics).
    */
  def encodeByVocab(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame, vocab: DataFrame): DataFrame = {
    val ms = merges.select(col("round"), col("sym_a"), col("sym_b"))
      .orderBy(col("round"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val chainRep = (w: Column) => ms.foldLeft(charRep(w)) {
      case (rep, (a, b)) =>
        regexp_replace(rep, java.util.regex.Pattern.quote(s" $a  $b "),
          java.util.regex.Matcher.quoteReplacement(s" $a$b "))
    }
    val toks = docs.select(col(idCol),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "word")))
    val joined = toks
      .join(vocab.select(col("word"), col("rep").as("__vrep")), Seq("word"),
        "left")
      .select(col(idCol), col("pos"),
        symbols(coalesce(col("__vrep"), chainRep(col("word"))))
          .as("__subs"))
    joined.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_words"),
        flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("__subs")))),
          x => x.getField("__subs"))).as("subwords"))
      .withColumn("n_subwords", size(col("subwords")).cast("long"))
      .select(col(idCol), col("n_words"), col("n_subwords"), col("subwords"))
  }

  /** Tokenizer fertility histogram after `rounds` of training: word types
    * and token mass grouped by symbols-per-word — THE quality readout of
    * a tokenizer budget (corpus fertility = Σ n_syms·total_wc / Σ
    * total_wc subwords per word; a merge budget is raised until the mass
    * in high-fertility bins drains). Derived entirely from the trained
    * vocabulary table, which is vocabulary-sized — nothing here rescans
    * the corpus. Output: (n_syms, n_types, total_wc).
    */
  def fertilityStats(docs: DataFrame, textCol: String,
      rounds: Int): DataFrame = {
    val (_, vocab) = learn(docs, textCol, rounds)
    vocab
      .select(col("wc"), size(symbols(col("rep"))).cast("long").as("n_syms"))
      .groupBy(col("n_syms"))
      .agg(count(lit(1)).as("n_types"), sum(col("wc")).as("total_wc"))
  }
}
