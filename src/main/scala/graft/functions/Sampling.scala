package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling, split assignment, and sequence packing — the
  * corpus-preparation tail of a training-data pipeline.
  *
  * Everything keys off a 64-bit hash of the row's id, never `rand()`:
  * the same row lands in the same sample/split on every run, every
  * engine, and every cluster size — reruns are reproducible, incremental
  * batches are consistent with history, and no seed plumbing is needed.
  * All operators are scan-stage (hash + comparison per row, no shuffle)
  * except packing, which needs one partitioned window.
  */
object Sampling {

  /** Uniform hash bucket in [0, 10000) (basis-point granularity) for a
    * numeric key: affine → QUADRATIC (x²+x) → affine rounds mod 2^31-1.
    * The middle round is the load-bearing one — affine rounds compose to
    * a single affine map whose constant stride visibly correlates
    * adjacent keys; x²+x makes the step between neighbors key-dependent
    * (measured: adjacent co-sampling at the expected rate). Every
    * intermediate stays under 2^62, so the arithmetic is exact and
    * identical in any engine with 64-bit integers (engines like DuckDB
    * ERROR on overflow, ruling out xxhash/splitmix wrapping mixers as a
    * cross-engine contract). A portability-grade mixer for sampling, not
    * a cryptographic hash.
    */
  def hashBucket(key: Column): Column = pmod(hashOrder(key), lit(10000L))

  /** The full-width mixer value in [0, 2^31-1) — `hashBucket` WITHOUT the
    * final basis-point fold. Enough entropy to ORDER a corpus (the
    * training-shuffle key in [[shardAssign]]), same exact cross-engine
    * arithmetic as the bucket form.
    */
  def hashOrder(key: Column): Column = {
    val p = lit(2147483647L) // 2^31 - 1 (Mersenne prime)
    val h1 = pmod(pmod(key.cast("long"), p) * 1103515245L + 12345L, p)
    val h2 = pmod(h1 * h1 + h1, p)
    pmod(h2 * 784588716L + 998244353L, p)
  }

  /** The key column must already be numeric: a string key would go through
    * cast-to-long, silently yielding NULL buckets (legacy cast) or a
    * runtime CAST_INVALID_INPUT (ANSI) — either way not the sample the
    * caller asked for. Hash string keys to a number first (xxhash64).
    */
  private def requireNumericKey(df: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.types.NumericType
    val dt = df.schema(keyCol).dataType
    require(dt.isInstanceOf[NumericType],
      s"Sampling key '$keyCol' must be numeric, got ${dt.sql} " +
        "(hash string keys to a number first, e.g. xxhash64)")
  }

  /** Deterministic ~`bps`/10000 sample of rows by key hash (100 bps = 1%).
    * Scan-stage; at 100 TB this is a pushdown-friendly filter, not a
    * shuffle-and-count.
    */
  def hashSample(df: DataFrame, keyCol: String, bps: Int): DataFrame = {
    require(bps >= 0 && bps <= 10000, "bps must be in [0, 10000]")
    requireNumericKey(df, keyCol)
    df.filter(hashBucket(col(keyCol)) < bps)
  }

  /** Weight-proportional sample WITHOUT replacement by priority
    * (sequential Poisson) sampling (Ohlsson 1998; Duffield, Lund &
    * Thorup 2007, "Priority sampling for estimation of arbitrary subset
    * sums"): every row gets priority = w / u for a deterministic
    * per-key uniform u, and the sample is the top `k` priorities —
    * heavier rows systematically draw larger priorities, and the
    * inclusion rule is a per-row threshold comparison, which is what
    * makes the scheme mergeable and rerun-stable.
    *
    * All arithmetic is exact integer: u = hashOrder(key) + 1 in
    * [1, 2^31-1], priority = (w * (2^31-1)) div u — the truncation
    * changes NO top-k decision a double w/u would make beyond ties,
    * and ties break by key. Weights must be non-negative integers
    * (token counts, byte sizes); w * 2^31 caps weights at ~4*10^9
    * before long overflow — cap or pre-scale above that.
    *
    * Scale (100 TB): one hash + one multiply per row at the scan, then
    * a single TakeOrdered(k) — no shuffle, no sort of the corpus; the
    * same physics as every other sampler here (never `rand()`).
    *
    * Output: the k sampled rows as (keyCol, w, priority).
    */
  def prioritySample(df: DataFrame, keyCol: String, wCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireNumericKey(df, keyCol)
    val p = 2147483647L
    df.select(col(keyCol), col(wCol).cast("long").as("w"))
      .withColumn("__u", hashOrder(col(keyCol)) + 1L)
      .withColumn("priority", expr(s"(w * ${p}L) div __u"))
      .orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k)
      .select(col(keyCol), col("w"), col("priority"))
  }

  /** Deterministic train/validation/test (or any) split: `weights` are
    * (label, positive basis points) summing to <= 10000; rows hash into
    * contiguous bucket ranges per label (leftover buckets get the LAST
    * label, so pass exact 10000-bp weights when every row must be
    * labeled). A NULL key yields a NULL split — consistent with
    * `hashSample`, which drops null-keyed rows — so bad joins surface as
    * unlabeled rows instead of silently flooding one split.
    */
  def splitAssign(df: DataFrame, keyCol: String,
      weights: Seq[(String, Int)], as: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0) &&
        weights.map(_._2).sum <= 10000,
      "weights are positive basis points summing to <= 10000")
    requireNumericKey(df, keyCol)
    val bucket = hashBucket(col(keyCol))
    val bounds = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val chain = weights.zip(bounds).foldLeft(null: Column) {
      case (acc, ((label, _), hi)) =>
        if (acc == null) when(bucket < hi, label)
        else acc.when(bucket < hi, label)
    }.otherwise(weights.last._1)
    df.withColumn(as,
      when(col(keyCol).isNull, lit(null: String)).otherwise(chain))
  }

  /** Deterministic corpus shuffle + sharding — the data-loader handoff:
    * every row gets `(shard, pos)` where `shard = hashOrder(key) %
    * nShards` and `pos` is the row's 0-based rank within its shard by
    * `(hashOrder(key), key)`. Reading shard files in pos order replays a
    * uniform global shuffle of the corpus, identically on every rerun and
    * engine — no `rand()`, no seed plumbing, and an incremental batch
    * appends to the same shards its keys hash to. Rows with a NULL key
    * are dropped (consistent with `hashSample`; a NULL order key would
    * make every null row tie and the rank nondeterministic).
    *
    * Scale (100 TB): one hash per row at the scan, then ONE shuffle keyed
    * by shard with `nShards` sort partitions (the write-out geometry a
    * training run wants anyway — one sorted file per shard). Choose
    * nShards so a shard fits an executor's sort spill budget; pos is
    * dense per shard, so a loader can range-split a shard exactly.
    */
  def shardAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    requireNumericKey(df, keyCol)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(keyCol))
    df.filter(col(keyCol).isNotNull)
      .withColumn("__h", hashOrder(col(keyCol)))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Deterministic stratified sample: the first `perStratum` rows of each
    * stratum, ranked by (hash bucket, key) — a reproducible "n per
    * language/source/domain" quota sample. One window shuffle keyed on the
    * strata columns; partitions are stratum-sized, so choose strata with
    * bounded cardinality skew at scale (or salt a hot stratum and take
    * perStratum/nSalts per salt). Rows with a NULL key are dropped, like
    * `hashSample`.
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], keyCol: String,
      perStratum: Int): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column")
    require(perStratum >= 1, s"perStratum must be >= 1, got $perStratum")
    requireNumericKey(df, keyCol)
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashBucket(col(keyCol)).asc, col(keyCol).asc)
    df.filter(col(keyCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Token-budget corpus mixing: cap each group (source/domain/language)
    * at a token budget — the "mixture weights" step that turns a raw
    * corpus into a training mix. Docs are ranked inside their group by
    * (hash bucket, key) — the same deterministic order as
    * stratifiedSample — and kept while the budget lasts; the doc that
    * STARTS within budget is kept whole (may overshoot by < 1 doc,
    * deterministic, same convention as packBudget). Groups without a
    * budget row are dropped. One window shuffle keyed on the group.
    *
    * @param budgets (group value, max tokens) pairs — group values must
    *                match `groupCol`'s type
    */
  def tokenBudgetSample(df: DataFrame, groupCol: String, tokenCol: String,
      keyCol: String, budgets: Seq[(Any, Long)]): DataFrame = {
    require(budgets.nonEmpty, "at least one (group, budget) row")
    require(budgets.forall(_._2 >= 0), "budgets must be >= 0")
    // A duplicated group key would fan out the join: every doc of that
    // group counted (and emitted) once per budget row — silently wrong.
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate group keys in budgets: ${budgets.map(_._1)}")
    requireNumericKey(df, keyCol)
    val gType = df.schema(groupCol).dataType
    // Fail at the API with a named message, not at first action with an
    // encoder error from deep inside createDataFrame.
    val typeOk: Any => Boolean = gType match {
      case org.apache.spark.sql.types.StringType => _.isInstanceOf[String]
      case org.apache.spark.sql.types.IntegerType => _.isInstanceOf[Int]
      case org.apache.spark.sql.types.LongType => _.isInstanceOf[Long]
      case org.apache.spark.sql.types.ShortType => _.isInstanceOf[Short]
      case _ => _ => true // other types surface in createDataFrame
    }
    require(budgets.map(_._1).forall(typeOk),
      s"budget group values must match $groupCol's type ${gType.sql}")
    val spark = df.sparkSession
    val bdf = broadcast(graft.functions.Dedup.smallTable(spark,
      Seq(groupCol -> gType,
        "__budget" -> org.apache.spark.sql.types.LongType),
      budgets.map { case (g, b) => Seq[Any](g, b) }))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hashBucket(col(keyCol)).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(keyCol).isNotNull)
      .join(bdf, Seq(groupCol))
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") - col(tokenCol) < col("__budget"))
      .drop("__cum", "__budget")
  }

  /** Temperature-scaled mixture weights: per-group sampling shares
    * proportional to n_tokens^(1/T) — the standard rebalancing that lifts
    * low-resource groups (languages, sources) without letting the head
    * group drown the mix (multilingual pretraining's T≈2-5 upsampling;
    * T=1 is proportional, T→∞ uniform).
    *
    * T is restricted to {1, 2, 4}: those exponents evaluate as a chain of
    * IEEE-754 `sqrt` calls, which every conforming engine rounds
    * CORRECTLY (unlike `pow`/`exp`/`ln`, whose last-bit behavior is
    * library-specific — the module-wide no-libm rule). The weight is
    * quantized to an integer (floor of 10^6 × the root) before
    * normalizing, so the denominator is an exact integer sum
    * (order-free) and each share is ONE double division.
    *
    * One partial-aggregable groupBy over the corpus; everything after is
    * group-cardinality-sized. A group whose token sum is NULL (all-null
    * token column) propagates a NULL weight/share rather than inventing
    * a zero. Output: (groupCol, n_docs, n_tokens, weight, share).
    */
  def temperatureMix(df: DataFrame, groupCol: String, tokenCol: String,
      temperature: Int = 2): DataFrame = {
    require(Set(1, 2, 4)(temperature),
      s"temperature must be 1, 2, or 4 (sqrt-chain exponents), got $temperature")
    val byGroup = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("n_tokens"))
    val root = temperature match {
      case 1 => col("n_tokens").cast("double")
      case 2 => sqrt(col("n_tokens").cast("double"))
      case 4 => sqrt(sqrt(col("n_tokens").cast("double")))
    }
    val weighted = byGroup.withColumn("weight",
      floor(root * lit(1000000.0)).cast("long"))
    val tot = broadcast(weighted.agg(sum(col("weight")).as("__tot")))
    weighted.crossJoin(tot)
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("weight"),
        round(col("weight").cast("double") / col("__tot").cast("double"), 6)
          .as("share"))
  }

  /** Mixture-concentration diagnostic: per `groupCol` (source, shard,
    * date), the Herfindahl–Hirschman index of its `partCol` composition
    * (languages, domains) — HHI = Σ share², the log-free concentration
    * measure (1/HHI is an effective-category count, the entropy stand-in
    * under the repo's no-libm rule). A source whose HHI ≈ 1 is
    * single-language; HHI ≈ 1/k is an even k-way mix — the signal a
    * mixture rebalance (e.g. [[temperatureMix]]) is judged by.
    *
    * All arithmetic is exact-integer until ONE division per emitted
    * ratio: HHI = Σ n_p² / n_g², dominant share = max(n_p) / n_g. Two
    * partial-aggregable groupBys, no window, no corpus-sized anything
    * after the first count.
    *
    * Output: (groupCol, n_rows, n_parts, dom_share, hhi).
    */
  def mixConcentration(df: DataFrame, groupCol: String,
      partCol: String): DataFrame =
    df.groupBy(col(groupCol), col(partCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_parts"),
        sum(col("__c") * col("__c")).as("__sumsq"),
        max(col("__c")).as("__maxc"))
      .select(col(groupCol), col("n_rows"), col("n_parts"),
        round(col("__maxc").cast("double") / col("n_rows").cast("double"), 6)
          .as("dom_share"),
        round(col("__sumsq").cast("double") /
          (col("n_rows") * col("n_rows")).cast("double"), 6).as("hhi"))

  /** Budget-quantized sequence packing: assign docs (in `orderCol` order
    * within each `partCols` group) to packs of ~`budget` tokens via the
    * exclusive prefix sum — pack = floor(tokens_before / budget). Docs may
    * straddle a boundary (assigned to the pack their first token falls
    * in); the policy is deterministic, order-stable, and engine-portable,
    * which is what reproducible pretraining shards need. One window sort
    * per group — partition by shard/date at scale so no group is
    * data-sized.
    */
  def packBudget(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long, partCols: Seq[String] = Nil,
      as: String = "pack_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w0 = if (partCols.isEmpty) Window.partitionBy()
             else Window.partitionBy(partCols.map(col): _*)
    val w = w0.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as,
      floor((sum(col(tokenCol)).over(w) - col(tokenCol)) / budget)
        .cast("long"))
  }

  /** UniMax mixture allocation (Chung et al. 2023): split a total token
    * `budget` across groups (languages, sources) as UNIFORMLY as
    * possible, subject to each group contributing at most `maxEpochs`
    * passes over its own data — the principled alternative to
    * temperature sampling that never over-repeats a low-resource group.
    *
    * Closed-form waterfill instead of the paper's greedy loop: with
    * groups sorted ascending by cap = maxEpochs·n_tokens, a group is
    * budget-capped iff cap·(groups from it on) <= budget − (sum of caps
    * before it); the capped set is provably a prefix of that order, so
    * one cumulative-sum window decides every group at once. Capped
    * groups get their cap; the rest share the remainder uniformly —
    * `floor((budget − capped_sum)/n_uncapped)`, with the integer
    * remainder handed one token each to the first uncapped groups in the
    * same sort order. All decisions are exact integer arithmetic
    * (decimal(38,0) for the product — a 64-bit cap times a group count
    * can overflow a long at corpus scale); the only doubles are the
    * emitted epochs ratio.
    *
    * One partial-aggregable groupBy over the corpus; every window after
    * it runs on group-cardinality rows (single partition — group counts
    * are mixture-sized, not data-sized). Groups whose token sum is NULL
    * (all-null token column) are dropped: an unknown size cannot be
    * budgeted. If budget >= sum of all caps, every group is capped and
    * the surplus budget is deliberately left unallocated (epochs beyond
    * maxEpochs are exactly what UniMax exists to prevent).
    *
    * Output: (groupCol, n_tokens, cap, alloc, epochs = round(alloc /
    * n_tokens, 6)).
    */
  def unimaxAllocate(df: DataFrame, groupCol: String, tokenCol: String,
      budget: Long, maxEpochs: Int): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val byGroup = df.groupBy(col(groupCol))
      .agg(sum(col(tokenCol).cast("long")).as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
    val ord = Window.orderBy(col("cap").asc, col(groupCol).asc)
    val dec = "decimal(38,0)"
    val flagged = byGroup
      .withColumn("cap", col("n_tokens") * maxEpochs)
      .withColumn("__i", row_number().over(ord))
      .withColumn("__before", coalesce(
        sum(col("cap")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__n", count(lit(1)).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__capped",
        col("cap").cast(dec) * (col("__n") - col("__i") + 1).cast(dec) <=
          (lit(budget) - col("__before")).cast(dec))
    val totals = broadcast(flagged.agg(
      sum(when(col("__capped"), col("cap")).otherwise(0L)).as("__csum"),
      sum(when(col("__capped"), 0L).otherwise(1L)).as("__u")))
    // Capped groups form a prefix of the sort order, so an uncapped
    // group's rank among the uncapped is __i minus the capped count.
    // budget − csum fits a long: the capped caps never exceed the budget
    // (each passed `cap·remaining <= budget − before`), so the remainder
    // division runs in plain 64-bit integers.
    flagged.crossJoin(totals)
      .withColumn("alloc", when(col("__capped"), col("cap")).otherwise(
        expr(s"(${budget}L - __csum) div __u") +
          when(col("__i") - (col("__n") - col("__u")) <=
            pmod(lit(budget) - col("__csum"), col("__u")), 1L).otherwise(0L)))
      .select(col(groupCol), col("n_tokens"), col("cap"), col("alloc"),
        round(col("alloc").cast("double") / col("n_tokens").cast("double"), 6)
          .as("epochs"))
  }

  /** Curriculum ordering (Bengio et al. 2009): rank the corpus by a
    * difficulty score, cut it into `nBuckets` NTILE difficulty tiers,
    * and emit a deterministic training order that ROUND-ROBINS the
    * tiers — position (r-1)·k + bucket for the bucket's r-th doc — so
    * every training window sees the full difficulty mixture while tier
    * identity stays available for staged curricula (train on buckets
    * 1..i, then widen).
    *
    * One global ranking pass ([[GroupRank]] with no groups — the range
    * exchange yields bounded partitions); tier and position derive from
    * the global rank in closed form (standard NTILE arithmetic: the
    * first n mod k tiers take one extra row), so no second shuffle.
    * Output: (idCol, scoreCol, bucket, order_idx), order_idx a dense
    * 1..n permutation — the shard writer's sort key.
    */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val kL = lit(nBuckets.toLong)
    val ranked = GroupRank.withRankAndCount(
      df.select(col(idCol), col(scoreCol)), Nil,
      Seq(col(scoreCol).asc, col(idCol).asc), "__rn", "__n")
    val q = GroupRank.intDiv(col("__n"), kL)
    val r = col("__n") % kL
    val bucket = GroupRank.ntileFromRank(col("__rn"), col("__n"), nBuckets)
    // rows before bucket b: (b-1)·q + min(b-1, r)
    val before = (bucket - 1L) * q + least(bucket - 1L, r)
    val rb = col("__rn") - before
    ranked
      .withColumn("bucket", bucket)
      .withColumn("order_idx", (rb - 1L) * kL + col("bucket"))
      .select(col(idCol), col(scoreCol), col("bucket"), col("order_idx"))
  }

  /** NEYMAN (optimal) ALLOCATION of a fixed sample budget across
    * strata — minimum-variance stratified sampling (Neyman 1934):
    * n_h ∝ N_h·S_h, so big AND volatile strata get the samples while a
    * huge-but-uniform stratum (boilerplate floods) is sampled lightly
    * — where [[stratifiedSample]]'s proportional allocation spends
    * budget on size alone. S_h is floor(sqrt(·)) of the exact integer
    * variance numerator (IEEE sqrt is correctly rounded, so the floor
    * is engine-identical — the deterministic contract; the ±1 ulp of
    * true sqrt is allocation-irrelevant). Budget lands EXACTLY:
    * largest-remainder rounding over the exact rational shares, ties
    * to the earlier stratum. Output per stratum:
    * (stratum, n_rows, w_q, alloc) with Σ alloc = budget; degenerate
    * all-zero-weight inputs split the budget by largest-remainder over
    * equal weights.
    *
    * Scale shape: one partial-aggregable moment pass + stratum-
    * domain-sized windows.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val dec = "decimal(38,0)"
    val per = df.select(col(stratumCol), col(valueCol).cast("long")
        .as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_rows"), sum(col("__x")).as("__s"),
        sum((col("__x").cast("decimal(19,0)") * col("__x")).cast(dec))
          .cast(dec).as("__t"))
      // w = N_h·S_h = sqrt(N_h²·S_h²) = sqrt((n·T − S²)·n/(n−1));
      // the sqrt argument is (exact-int → double) then double·double /
      // double in THIS order — the one load-bearing op order both
      // engines replay (the duckDotSql discipline)
      .select(col(stratumCol), col("n_rows"),
        when(col("n_rows") < 2L, lit(0L)).otherwise(
          floor(sqrt(
            (col("n_rows").cast(dec) * col("__t") -
              (col("__s").cast("decimal(19,0)") * col("__s")).cast(dec))
              .cast(dec).cast("double") *
              col("n_rows").cast("double") /
              (col("n_rows") - 1L).cast("double")))
            .cast("long")).as("w_q"))
    val tot = per.agg(sum(col("w_q")).as("__W"),
      count(lit(1)).as("__k"))
    val shares = per.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_rows"), col("w_q"),
        // zero total weight: fall back to equal weights so the budget
        // still lands exactly
        when(col("__W") === 0L, lit(1L)).otherwise(col("w_q"))
          .as("__w"),
        when(col("__W") === 0L, col("__k")).otherwise(col("__W"))
          .as("__Weff"))
      .select(col(stratumCol), col("n_rows"), col("w_q"),
        GroupRank.intDiv(lit(budget) * col("__w"), col("__Weff"))
          .as("__base"),
        ((lit(budget) * col("__w")) % col("__Weff")).as("__rem"))
    val w = Window.orderBy(col("__rem").desc, col(stratumCol).asc)
    val totBase = shares.agg(sum(col("__base")).as("__sumBase"))
    shares.crossJoin(broadcast(totBase))
      .withColumn("__rk", row_number().over(w))
      .select(col(stratumCol), col("n_rows"), col("w_q"),
        (col("__base") + when(col("__rk") <= lit(budget) -
          col("__sumBase"), 1L).otherwise(0L)).as("alloc"))
  }

  /** HORVITZ-THOMPSON estimation from the deterministic hash sample —
    * the audit card that makes [[hashSample]] quantitatively honest:
    * every sampled row's inclusion probability is exactly bps/10000 by
    * construction, so est = sample_total·10000 div bps is the unbiased
    * HT estimator of the population total, computed exactly, and the
    * gated err column IS the sampling error (available on the gate
    * corpus because the truth is computable there; at 100 TB the
    * estimate is the point). One row: (n_sampled, sample_total,
    * est_total, true_total, err). One partial-aggregable pass.
    */
  def htEstimate(df: DataFrame, keyCol: String, valueCol: String,
      bps: Int): DataFrame = {
    require(bps >= 1 && bps <= 10000, s"bps must be in [1, 10000], got $bps")
    requireNumericKey(df, keyCol)
    val base = df.select(col(keyCol).as("__k"),
      col(valueCol).cast("long").as("__v"),
      (hashBucket(col(keyCol)) < bps).as("__in"))
    base.agg(
        coalesce(sum(when(col("__in"), 1L).otherwise(0L)), lit(0L))
          .as("n_sampled"),
        coalesce(sum(when(col("__in"), col("__v")).otherwise(0L)),
          lit(0L)).as("sample_total"),
        coalesce(sum(col("__v")), lit(0L)).as("true_total"))
      .select(col("n_sampled"), col("sample_total"),
        GroupRank.intDiv(col("sample_total") * 10000L, lit(bps.toLong))
          .as("est_total"),
        col("true_total"))
      .withColumn("err", col("est_total") - col("true_total"))
  }

  /** Exact 2-D PARETO FRONTIER (skyline) — the non-dominated rows under
    * "minimize `xCol`, maximize `yCol`" (Börzsönyi, Kossmann & Stocker,
    * ICDE 2001): row b dominates a iff x_b ≤ x_a ∧ y_b ≥ y_a with at
    * least one strict. The multi-criteria data-selection primitive
    * (e.g. shortest documents at each lexical-richness level: nothing
    * on the frontier is beaten on both axes at once). Coordinate ties
    * that are equal on BOTH axes dominate neither way — every such
    * duplicate of a frontier point is kept (set semantics, matching the
    * NOT EXISTS oracle form).
    *
    * Shape — NOT the quadratic anti-join: a row survives iff
    * y = M₌(x) (the max y among its exact x peers) and y > M₍(x)
    * (the max y over all strictly smaller x). One partial-aggregable
    * groupBy(x) builds the per-value maxima; the prefix max M₍ runs on
    * that x-DOMAIN-sized relation (distinct values, never rows — the
    * house bounded-domain window convention: document lengths, scores,
    * byte sizes all have value domains orders below row counts); one
    * broadcast-sized join back tags survivors. Linear in rows at any
    * corpus size.
    * Output: the surviving rows as (idCol, xCol, yCol).
    */
  def paretoFront(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol))
      .agg(max(col(yCol)).as("__my"))
    // bounded-domain window: one row per DISTINCT x value
    val w = Window.orderBy(col(xCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = perX
      .withColumn("__mlt", max(col("__my")).over(w))
      .filter(col("__mlt").isNull || col("__my") > col("__mlt"))
      .select(col(xCol).as("__fx"), col("__my").as("__fy"))
    df.select(col(idCol), col(xCol), col(yCol))
      .join(broadcast(front),
        col(xCol) === col("__fx") && col(yCol) === col("__fy"))
      .select(col(idCol), col(xCol), col(yCol))
  }

  /** Deterministic SPAN-CORRUPTION plan statistics — the T5/UL2
    * denoising mask (Raffel et al. 2020) planned with the house hash
    * mixer instead of rand(): token position p of document d is masked
    * iff hashBucket(d·2^20 + p) < `noiseBps`, and maximal masked runs
    * are the corruption spans (adjacent masked tokens merge — the T5
    * convention). Same document, same plan, every run/engine/cluster —
    * the reproducibility contract every Sampling operator carries,
    * applied to the pretraining objective itself. Per document:
    * (idCol, n_tokens, n_masked, n_spans, mask_ratio_ppm,
    * mean_span_len_ppm) — ratio vs the requested noise density is the
    * calibration readout, span count vs n_masked the merge statistics.
    *
    * Scale: scan-stage position explode + ONE per-document window
    * (partitioned, never global) + partial-aggregable groupBy. Linear.
    */
  def spanCorruptionPlan(docs: DataFrame, idCol: String, textCol: String,
      noiseBps: Long): DataFrame = {
    require(noiseBps >= 0 && noiseBps <= 10000,
      s"noiseBps must be in [0, 10000], got $noiseBps")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    docs
      .select(col(idCol),
        posexplode(graft.functions.Text.tokens(col(textCol)))
          .as(Seq("pos", "__tok")))
      .select(col(idCol), col("pos").cast("long").as("pos"))
      .withColumn("__m",
        when(hashBucket(col(idCol) * 1048576L + col("pos")) < noiseBps,
          1L).otherwise(0L))
      .withColumn("__start",
        when(col("__m") === 1L &&
          coalesce(lag(col("__m"), 1).over(byDoc), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__m")).as("n_masked"),
        sum(col("__start")).as("n_spans"))
      .select(col(idCol), col("n_tokens"), col("n_masked"), col("n_spans"),
        Stats.fixedPointExact(col("n_masked"), col("n_tokens"))
          .as("mask_ratio_ppm"),
        when(col("n_spans") > 0,
          Stats.fixedPointExact(col("n_masked"), col("n_spans")))
          .as("mean_span_len_ppm"))
  }
}
