package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Unigram

/** Unigram-LM subword vocabulary TRAINING (the learning side of
  * plans/Unigram's Viterbi inference): hard-EM (Viterbi-EM) over word
  * TYPES, the standard large-corpus reduction — the corpus collapses to
  * its (word, count) type table once, and every EM round touches only
  * that vocabulary-bounded table, never the corpus again (the same
  * discipline as Bpe.learn's symbol table and the KN LMs' n-gram-type
  * tables). At 100 TB the type table is millions of rows while the
  * corpus is trillions of tokens; rounds cost vocabulary work, not
  * corpus scans.
  *
  * Each round: quantize current piece probabilities to integer
  * milli-nat costs on the driver (the piece table is vocab-bounded, the
  * same bounded-model precedent as k-means centroids and the perceptron
  * weights), Viterbi-segment the types under those costs (compiled
  * expression, exact deterministic DP), tally type-weighted piece
  * counts, and re-normalize. Pieces that win no mass are pruned except
  * single characters (kept for closure); the vocabulary is re-capped to
  * `vocabSize` by (count desc, piece asc). Hard-EM monotonically
  * improves Viterbi likelihood up to cost quantization; determinism
  * comes from exact integer counts, HALF_UP cost rounding, and total
  * orderings on every cap/prune.
  */
object UnigramLm {

  /** (word, wc) type table of a corpus text column. */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** Seed vocabulary: the `seedSize` highest-scoring substrings of the
    * word types (score = occurrences-within-types weighted by type count
    * — one entry per distinct (position, length) substring occurrence),
    * lengths 2..maxPieceLen, UNION all single characters (closure).
    * Scoring runs on the type table: bounded rows × ≤ len·maxPieceLen
    * substrings each.
    */
  def seedVocab(types: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    val subs = types.select(col("wc"),
      explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
            i -> transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})),
            j -> substring(word, i, j - i + 1))))""")).as("piece"))
    val chars = subs.where(length(col("piece")) === 1)
      .select(col("piece")).distinct()
    val multi = subs.where(length(col("piece")) > 1)
      .groupBy(col("piece")).agg(sum(col("wc")).as("score"))
      .orderBy(col("score").desc, col("piece").asc)
      .limit(seedSize)
      .select(col("piece"))
    multi.unionByName(chars).distinct()
  }

  /** Quantized milli-nat cost table from integer piece counts: cost =
    * round(−1000·ln(cnt / total)), computed on the driver from exact
    * longs — ln never crosses an engine boundary, so downstream
    * segmentation is integer-exact.
    */
  def quantizeCosts(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.iterator.map(_._2).sum.toDouble
    counts.iterator.map { case (p, c) =>
      val cost = BigDecimal(-1000.0 * math.log(c.toDouble / total))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      p -> cost
    }.toMap
  }

  /** Train a unigram-LM vocabulary by Viterbi-EM. Returns the final
    * (piece, cnt, cost_milli) table, counts from the last E-step (chars
    * with zero mass keep cnt = 0 and the unk-adjacent max cost).
    * Non-ASCII word types are EXCLUDED from training (UgVocab's ASCII
    * contract — its path tie-break relies on Java string order equaling
    * UTF-8 byte order); without this filter one accented token would
    * abort the first E-step mid-job.
    */
  def learn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      vocabSize: Int = 60, rounds: Int = 4, seedSize: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val types = wordTypes(docs, textCol)
      .where(col("word").rlike("\\A[\\x21-\\x7e]+\\z"))
      .checkpointed
    val seed = seedVocab(types, maxPieceLen, seedSize)
    // uniform init over the seed: equal counts
    var counts: Seq[(String, Long)] =
      seed.as[String].collect().sorted.map(_ -> 1L).toSeq
    val chars = counts.map(_._1).filter(_.length == 1).toSet

    var r = 0
    while (r < rounds) {
      // zero-mass closure chars are floored to count 1 for the cost table
      // (log 0 otherwise); their cost stays the vocabulary's worst.
      val costs = quantizeCosts(counts.map { case (p, c) =>
        (p, math.max(c, 1L))
      })
      val segged = types.select(col("wc"),
        explode(Unigram.wordPieces(col("word"), costs)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
        .as[(String, Long)].collect().toMap
      // prune zero-mass multi-char pieces, keep chars for closure, cap
      val kept = counts.map(_._1)
        .map(p => p -> segged.getOrElse(p, 0L))
        .filter { case (p, c) => c > 0L || chars.contains(p) }
        .sortBy { case (p, c) => (-c, p) }
      val capped = kept.take(vocabSize) ++
        kept.drop(vocabSize).filter { case (p, _) => chars.contains(p) }
      counts = capped
      r += 1
    }

    val costs = quantizeCosts(counts.map { case (p, c) =>
      (p, math.max(c, 1L))
    })
    counts.map { case (p, c) => (p, c, costs(p)) }
      .toDF("piece", "cnt", "cost_milli")
      .orderBy(col("cnt").desc, col("piece").asc)
  }

  /** The catalog's FIXED reference cost table (single source of truth for
    * the Spark queries and the generated DuckDB DP oracle): full [a-z]
    * closure at a high uniform cost plus hand-set multi-character pieces.
    * Costs are milli-nats; lower = preferred. The table is deliberately
    * static — segmentation semantics under the hash oracle must not move
    * when the corpus is regenerated.
    */
  val RefVocab: Seq[(String, Long)] =
    ('a' to 'z').map(c => c.toString -> 9000L) ++ Seq(
      // full short words
      "agg" -> 2600L, "key" -> 2600L, "row" -> 2600L, "the" -> 2600L,
      "data" -> 2800L, "fast" -> 2800L, "hash" -> 2800L, "join" -> 2800L,
      "line" -> 2800L, "part" -> 2800L, "scan" -> 2800L, "slow" -> 2800L,
      "sort" -> 2800L,
      // sub-pieces that compose the longer words
      "tab" -> 3000L, "le" -> 3200L, "val" -> 3000L, "ue" -> 3200L,
      "str" -> 3000L, "eam" -> 3200L, "win" -> 3000L, "dow" -> 3200L,
      "sp" -> 3400L, "ark" -> 3200L, "gr" -> 3400L, "oup" -> 3200L,
      "col" -> 3000L, "umn" -> 3200L, "fil" -> 3000L, "ter" -> 3200L,
      "cus" -> 3000L, "tom" -> 3200L, "er" -> 3400L, "sm" -> 3400L,
      "all" -> 3200L, "bat" -> 3000L, "ch" -> 3400L, "mer" -> 3000L,
      "ge" -> 3400L, "que" -> 3000L, "ry" -> 3400L)

  /** RefVocab as the Map the segmentation expressions take. */
  val RefCosts: Map[String, Long] = RefVocab.toMap
}
