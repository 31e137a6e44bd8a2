package graft.functions

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** PAIRWISE-PREFERENCE AGGREGATION — Bradley–Terry strength fitting
  * (Bradley & Terry 1952) by the MM algorithm (Hunter 2004, "MM
  * algorithms for generalized Bradley-Terry models"): the model behind
  * RLHF reward-data aggregation and arena-style leaderboards. Given
  * comparison outcomes (winner, loser), estimate item strengths w by
  * the fixed-point iteration
  *
  *   w_i <- W_i / sum over i's comparisons n_ij / (w_i + w_j)
  *
  * (W_i = i's total wins), renormalized each round to mean 2^20.
  *
  * Fixed-point integer arithmetic throughout: strengths live at 2^20
  * scale, each pair term is (n_ij · 2^40) // (wq_i + wq_j) (one
  * truncating division — bit-identical cross-engine), the update
  * (W_i · 2^40) // D_i, and the renormalization a BigInt product over
  * the item count — so `rounds` unrolled CTE stages replay it exactly
  * in the oracle. Items floor at strength 1 (an item with zero wins
  * has BT strength 0 in the limit; the floor keeps later divisions
  * defined, the standard MM guard).
  *
  * EXECUTION: the rounds run as a partitioner-preserving RDD loop —
  * the GraphX/MLlib iteration discipline — because a round's work is
  * three integer map/join/fold passes, while a DataFrame round paid
  * ~0.2 s of driver-side Catalyst (analysis + optimization + planning
  * + codegen-cache lookups, measured as 60% of q_bradley_terry's warm
  * wall) to plan the SAME constant-shape tree every round. Both the
  * static edge list and the carried weight table are hash-partitioned
  * on their join keys by ONE shared partitioner sized from the item
  * count (~100k items/partition — a 10^9-item corpus gets ~10^4
  * partitions), so per round only the endpoint re-key of the edge
  * terms and the per-item fold shuffle; the edge→weight attach and the
  * fold→weight update are co-partitioned narrow joins. Integer sums
  * are partitioning-independent, so the fit is bit-identical to the
  * former DataFrame loop (PreferenceSpec pins it against a BigInt
  * reference replay).
  *
  * Arithmetic parity with the oracle's unrolled CTE: every Long
  * product/sum that the SQL computed in ANSI mode traps loudly here
  * too (`Math.multiplyExact`/`addExact`); the update and renorm steps
  * the SQL ran in decimal(38,0) run in BigInt (both truncate toward
  * zero on the positive operands involved). Bounds: n_ij < 2^22 and
  * W_i < 2^22 keep the 2^40-scaled products in long range (millions
  * of comparisons per PAIR/ITEM — beyond it, pre-scale n).
  *
  * Output: (item, n_wins, w_q, w_ppm) — the fitted strength at 2^20
  * scale and its exact normalized parts-per-million share.
  */
object Preference {

  private val Q = 1099511627776L // 2^40

  def bradleyTerry(pairs: DataFrame, winCol: String, loseCol: String,
      rounds: Int = 8): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = pairs.sparkSession
    val edges0 = pairs
      .select(col(winCol).cast("long").as("__a"),
        col(loseCol).cast("long").as("__b"))
      // null or uncastable ids: the former DataFrame joins dropped them
      // silently; a primitive getLong on a null cell would NPE (and the
      // old path even carried a meaningless null GROUP row) — advisor
      // round 11
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .checkpointed
    val nItems = edges0.select(col("__a").as("item"))
      .unionByName(edges0.select(col("__b").as("item"))).distinct().count()
    // ~100k items per round partition; the cap is a driver-metadata
    // guard, not a data bound (10^9 items -> 10k partitions).
    val parts = math.max(1L, math.min(1L << 15, nItems / 100000L + 1L)).toInt
    val part = new HashPartitioner(parts)
    // The aggregated edge list leaves the SQL layer here:
    // (a -> (b, n)), keyed by the winner endpoint.
    val edges = edges0.rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // W_i (total wins, keyed by item) and the item domain — co-
    // partitioned with `edges` once, reused every round.
    val wins = edges.mapValues(_._2)
      .reduceByKey(part, (x: Long, y: Long) => Math.addExact(x, y))
    val items = edges.flatMap { case (a, (b, _)) => Seq(a, b) }
      .distinct(parts).map((_, ()))
      .partitionBy(part)
    var w = items.leftOuterJoin(wins, part)
      .mapValues { case (_, nw) => (nw.getOrElse(0L), 1L << 20) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    w.count(): Unit // materialize the initial table once
    // the previous round's `updated` cache (wNext is a mapValues view
    // over it) — redundant once the NEXT round's action has pulled the
    // renormed table through; unpersisting closes a per-round cache
    // leak in long-lived sessions (advisor round 11)
    var prevUpd: org.apache.spark.rdd.RDD[(Long, (Long, Long))] = null
    for (_ <- 1 to rounds) {
      // Attach w_a along the co-partitioned winner key (narrow), re-key
      // by the loser endpoint for w_b (the round's one edge-sized
      // shuffle), score the symmetric term once, fan it to both
      // endpoints, fold per item (the round's second shuffle — lands
      // back on the shared partitioner, so the update join is narrow).
      val wq = w.mapValues(_._2)
      val dq = edges.join(wq)
        .map { case (a, ((b, n), wa)) => (b, (a, n, wa)) }
        .join(wq, part)
        .flatMap { case (b, ((a, n, wa), wb)) =>
          val t = Math.multiplyExact(n, Q) / Math.addExact(wa, wb)
          Seq((a, t), (b, t))
        }
        .reduceByKey(part, (x: Long, y: Long) => Math.addExact(x, y))
      val updated = w.join(dq)
        .mapValues { case ((nw, _), d) =>
          (nw, ((BigInt(nw) * Q) / d).max(BigInt(1)).toLong)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Renorm total: the 1-row fold every MM round needs (the former
      // broadcast(tot)); BigInt — pre-renorm strengths can reach
      // n_wins·2^40. One action materializes the round.
      val sw = updated.aggregate(BigInt(0))(
        (acc, kv) => acc + kv._2._2, _ + _)
      // this round's aggregate just materialized `updated` (pulling the
      // previous renormed table through its view) — the previous
      // round's fold cache has no further reader
      if (prevUpd != null) prevUpd.unpersist(false)
      prevUpd = updated
      val wNext = updated.mapValues { case (nw, wq2) =>
        (nw, ((BigInt(wq2) * nItems * 1048576L) / sw)
          .max(BigInt(1)).toLong)
      }
      w.unpersist(false)
      // mapValues preserves the partitioner; the renormed table stays a
      // cheap view over the persisted fold result.
      w = wNext.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val sw = w.aggregate(BigInt(0))((acc, kv) => acc + kv._2._2, _ + _)
    val rows = w.map { case (i, (nw, wq2)) =>
      Row(i, nw, wq2, ((BigInt(wq2) * 1000000L) / sw).toLong)
    }
    val schema = StructType(Seq(
      StructField("item", LongType, nullable = false),
      StructField("n_wins", LongType, nullable = false),
      StructField("w_q", LongType, nullable = false),
      StructField("w_ppm", LongType, nullable = false)))
    // The returned frame owns its rows (localCheckpoint) so the RDD
    // caches can be freed — without it every downstream action would
    // re-walk the full `rounds`-deep lineage.
    val out = spark.createDataFrame(rows.toJavaRDD(), schema)
      .checkpointed
    w.unpersist(false)
    if (prevUpd != null) prevUpd.unpersist(false)
    edges.unpersist(false)
    out
  }
}
