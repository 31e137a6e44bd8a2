package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SEQUENCE PACKING — the last hop between a curated corpus and a
  * training run: concatenate documents in a deterministic (optionally
  * hash-shuffled) order and cut the token stream into fixed-length
  * training sequences, documents spanning cuts as needed (the standard
  * "concat and chunk" packing of LM pretraining — zero padding waste,
  * every sequence except the final one exactly full).
  *
  * The whole operator is arithmetic over ONE exact exclusive prefix sum
  * ([[GroupRank.withPrefixSum]]): a document's global start offset s
  * places it in sequences floor(s/L) .. floor((s+n-1)/L), each overlap
  * row computed scan-stage from (s, n, L) — one range exchange, then
  * map-only generation of ~n/L+1 rows per document. No single-task
  * sort, no driver-side packing loop; the order key is the engine's exact
  * cross-engine mixer when `shuffled`, so the oracle replays the
  * permutation bit for bit.
  *
  * Output, one row per (document, sequence) overlap:
  * (idCol, seq_id, tok_from, tok_to, seq_off) — the document's tokens
  * [tok_from, tok_to) land in sequence seq_id starting at in-sequence
  * position seq_off. Zero-token documents emit no rows (nothing to
  * place — filter them upstream if their ids must survive).
  */
object Pack {

  def concatChunk(docs: DataFrame, idCol: String, nTokCol: String,
      seqLen: Long, shuffled: Boolean = true): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val order =
      if (shuffled) Seq(Sampling.hashOrder(col(idCol)).asc, col(idCol).asc)
      else Seq(col(idCol).asc)
    val pre = GroupRank.withPrefixSum(
      docs.select(col(idCol), col(nTokCol).cast("long").as("__pn"))
        .filter(col("__pn") > 0L),
      Nil, order, "__pn", "__ps", "__ptot")
    pre
      .withColumn("__sfirst", GroupRank.intDiv(col("__ps"), lit(seqLen)))
      .withColumn("__slast",
        GroupRank.intDiv(col("__ps") + col("__pn") - 1L, lit(seqLen)))
      .select(col(idCol), col("__ps"), col("__pn"),
        explode(sequence(col("__sfirst"), col("__slast"))).as("seq_id"))
      .select(col(idCol), col("seq_id"),
        greatest(col("seq_id") * seqLen - col("__ps"), lit(0L))
          .as("tok_from"),
        least((col("seq_id") + 1L) * seqLen - col("__ps"), col("__pn"))
          .as("tok_to"),
        greatest(col("__ps") - col("seq_id") * seqLen, lit(0L))
          .as("seq_off"))
  }
}
