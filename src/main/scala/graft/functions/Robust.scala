package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group outlier statistics — median / MAD (median absolute
  * deviation) gating, the standard heavy-tail-safe alternative to
  * mean/stddev z-scores for corpus signals (token counts, quality scores,
  * line lengths) whose distributions are exactly the kind that break
  * Gaussian assumptions.
  *
  * Medians are EXACT but never buffered: Spark's `median`/`percentile`
  * aggregate collects every group value into an executor-side buffer —
  * a scale-killer for corpus-sized groups — so this module computes the
  * median by RANK ([[GroupRank.withRankAndCount]]: many parallel slices
  * per group, never one sort task per group), keep the one or two middle
  * rows, average them. Interpolation (mean of the two
  * middles at even counts) matches the engines' native medians
  * bit-for-bit, which keeps the whole operator under the hash oracle.
  */
object Robust {

  /** Exact per-group median of `valueCol` via the rank/middle-rows pass.
    * Output: (groupCol, med). */
  def groupMedian(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    // Null values would rank below every real value yet still count into
    // __n, shifting which rows the middle selection picks — exclude them
    // up front (the native median aggregates skip nulls the same way).
    // No tie-break column: tied values are interchangeable for the middle
    // SELECTION (any permutation of a tie run picks the same values).
    GroupRank.withRankAndCount(
        df.select(col(groupCol), col(valueCol))
          .filter(col(valueCol).isNotNull),
        Seq(groupCol), Seq(col(valueCol).asc), "__rn", "__n")
      // 2rn ∈ {n, n+1, n+2} selects exactly the middle row (odd n: only
      // n+1 is even-divisible) or the middle two (even n: n and n+2).
      .filter(col("__rn") * 2 === col("__n") ||
        col("__rn") * 2 === col("__n") + 1 ||
        col("__rn") * 2 === col("__n") + 2)
      .groupBy(col(groupCol))
      .agg(avg(col(valueCol).cast("double")).as("med"))
  }

  /** Exact per-group discrete quantiles by rank selection — SQL
    * `percentile_disc` semantics (the smallest value whose cumulative
    * rank covers the quantile: rank ceil(n·q), never interpolated) for
    * every q in `qsBps` (basis points), all from ONE two-level ranking
    * pass: each ranked row emits the quantiles whose target rank it
    * holds, so k quantiles cost zero extra shuffles. Ties are
    * value-interchangeable exactly as in [[groupMedian]]. Output:
    * (groupCol, q_bps, value).
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      qsBps: Seq[Int]): DataFrame = {
    require(qsBps.nonEmpty, "at least one quantile")
    qsBps.foreach(q => require(q >= 1 && q <= 10000,
      s"quantile must be in [1, 10000] bps, got $q"))
    val qArr = array(qsBps.map(q => lit(q.toLong)): _*)
    GroupRank.withRankAndCount(
        df.select(col(groupCol), col(valueCol))
          .filter(col(valueCol).isNotNull),
        Seq(groupCol), Seq(col(valueCol).asc), "__rn", "__n")
      .withColumn("q_bps", explode(filter(qArr, q =>
        greatest(lit(1L),
          GroupRank.intDiv(col("__n") * q + lit(9999L), lit(10000L)))
          === col("__rn"))))
      .select(col(groupCol), col("q_bps"), col(valueCol).as("value"))
  }

  /** WINSORIZATION — clip every value to its group's [loBps, hiBps]
    * order statistics (the robust-statistics alternative to dropping
    * outliers: extreme rows keep their mass at the clipped boundary,
    * the standard pre-aggregation treatment for heavy-tailed metrics).
    * Thresholds use [[groupQuantiles]]' exact ceil-rank convention
    * (rank = max(1, ceil(n·q/10000)) over values ascending — rank
    * permutations inside tie runs share the value, so the threshold is
    * deterministic). Output: input columns + (lo_clip, hi_clip,
    * winsorized); NULL values pass through unclipped.
    *
    * Scale shape: one rank pass over (group, value), a mixture-sized
    * threshold table joined back group-keyed, and a scan-stage clip.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      loBps: Int, hiBps: Int): DataFrame = {
    require(loBps >= 1 && hiBps <= 10000 && loBps < hiBps,
      s"need 1 <= loBps < hiBps <= 10000, got [$loBps, $hiBps]")
    clipped(df, clipThresholds(df, groupCol, valueCol, loBps, hiBps),
      groupCol, valueCol)
  }

  /** Per-group (lo_clip, hi_clip): the group's non-NULL values at the
    * ceil ranks max(1, ceil(n·q/10000)) of `loBps` and `hiBps`. */
  private def clipThresholds(df: DataFrame, groupCol: String,
      valueCol: String, loBps: Int, hiBps: Int): DataFrame = {
    def rankAt(bps: Int) = greatest(lit(1L),
      GroupRank.intDiv(col("__n") * bps + lit(9999L), lit(10000L)))
    GroupRank.withRankAndCount(
        df.select(col(groupCol), col(valueCol))
          .filter(col(valueCol).isNotNull),
        Seq(groupCol), Seq(col(valueCol).asc), "__rn", "__n")
      .groupBy(col(groupCol))
      .agg(
        max(when(col("__rn") === rankAt(loBps), col(valueCol)))
          .as("lo_clip"),
        max(when(col("__rn") === rankAt(hiBps), col(valueCol)))
          .as("hi_clip"))
  }

  /** `df` + its group's thresholds + `winsorized` (clipped to them). */
  private def clipped(df: DataFrame, thresholds: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.join(thresholds, Seq(groupCol), "left")
      // explicit null guard: Spark's greatest/least SKIP nulls (they
      // behave like max/min over the non-null args), so a null value
      // would otherwise "clip" to lo_clip instead of staying null
      .withColumn("winsorized",
        when(col(valueCol).isNull, lit(null))
          .otherwise(
            least(greatest(col(valueCol), col("lo_clip")), col("hi_clip"))))

  /** SAMPLED-THRESHOLD winsorization — the 100 TB form of [[winsorize]]
    * and the CCNet-mechanics generalization proven out by
    * [[LangModel.lmBucketsSampled]]: instead of ranking EVERY value
    * within its group (a corpus-wide range exchange), rank only a
    * deterministic hash sample ([[Sampling.hashOrder]] mod 1000 <
    * samplePerMille — the exact cross-engine mixer), read the
    * [loBps, hiBps] clip boundaries as the SAMPLE's ceil-rank order
    * statistics, and clip every row SCAN-STAGE against the broadcast
    * (group, lo_clip, hi_clip) table. Per-row cost is flat in corpus
    * size: one broadcast probe + least/greatest — no rank exchange
    * over the population.
    *
    * Exactness contract: at samplePerMille = 1000 the sample IS the
    * population, so thresholds — and therefore every clipped value —
    * equal [[winsorize]]'s exactly (spec-pinned). Below 1000 the
    * boundaries carry order-statistic sampling error; divergence from
    * exact is confined to rows between the true and sampled
    * thresholds. A group with ZERO sampled non-null values falls back
    * to the exact ranking over its own rows (cheap by construction:
    * only groups too small to hit the sample take the rank exchange) —
    * the [[LangModel.lmBucketsSampled]] empty-sample rule.
    *
    * Output: input columns + (lo_clip, hi_clip, winsorized); NULL
    * values pass through unclipped, like [[winsorize]].
    */
  def winsorizeSampled(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, loBps: Int, hiBps: Int,
      samplePerMille: Int = 100): DataFrame = {
    require(loBps >= 1 && hiBps <= 10000 && loBps < hiBps,
      s"need 1 <= loBps < hiBps <= 10000, got [$loBps, $hiBps]")
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille must be in [1, 1000], got $samplePerMille")
    val sampled = clipThresholds(df.filter(pmod(Sampling.hashOrder(
      col(idCol)), lit(1000L)) < samplePerMille), groupCol, valueCol, loBps, hiBps)
    // groups the sample missed: exact thresholds over their own rows
    val missing = df.select(col(groupCol)).distinct()
      .join(sampled.select(col(groupCol)), Seq(groupCol), "left_anti")
    val fallback = clipThresholds(df.join(broadcast(missing), Seq(groupCol)),
      groupCol, valueCol, loBps, hiBps)
    clipped(df, broadcast(sampled.unionByName(fallback)), groupCol, valueCol)
  }

  /** Per-row robust outlier flags for `valueCol` within `groupCol`
    * groups: a row is an outlier when |x − median| > k · MAD. With
    * MAD = 0 (more than half the group shares the median) any deviation
    * flags — the strictest consistent reading, and the deterministic one.
    * Output: input columns + (med, mad, is_outlier), one row per input.
    *
    * Scale shape: two [[GroupRank]] median passes (value, then absolute
    * deviation) and two joins keyed by the group — nothing buffered or
    * serialized per group.
    */
  def outlierStats(df: DataFrame, groupCol: String, valueCol: String,
      k: Double): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val med = groupMedian(df, groupCol, valueCol)
    val withMed = df.join(med, Seq(groupCol))
      .withColumn("__adev", abs(col(valueCol).cast("double") - col("med")))
    val mad = groupMedian(withMed.select(col(groupCol), col("__adev")),
        groupCol, "__adev")
      .withColumnRenamed("med", "mad")
    withMed.join(mad, Seq(groupCol))
      .withColumn("is_outlier", col("__adev") > lit(k) * col("mad"))
      .drop("__adev")
  }

  /** QUANTILE-BASED SHAPE statistics per group — Bowley skewness and
    * Moors kurtosis from the octiles E1..E7 (12.5%..87.5% in
    * [[groupQuantiles]]' exact ceil-rank convention):
    *
    *   bowley = (E6 + E2 − 2·E4) / (E6 − E2)        (quartiles)
    *   moors  = ((E7 − E5) + (E3 − E1)) / (E6 − E2) (octile spread)
    *
    * — the heavy-tail-proof alternative to moment skewness/kurtosis,
    * whose 3rd/4th-power sums both overflow exact integer arithmetic
    * and let three giant documents own the statistic. Order statistics
    * are immune to both, and ride the existing two-level rank
    * machinery (no group-sized windows; the sampled-boundary variant
    * generalizes to 100 TB exactly like winsorizeSampled). Moors'
    * uniform-reference value is 1.233; normal is ~1.23/σ-free 1.233 —
    * rising values read as heavy tails. Exact ppm renderings; a
    * zero interquartile range (degenerate group) renders NULL.
    * Output: (group, bowley_ppm, moors_ppm), one row per group.
    */
  def shapeStats(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val oct = groupQuantiles(df, groupCol, valueCol,
      Seq(1250, 2500, 3750, 5000, 6250, 7500, 8750))
    def at(bps: Int) =
      max(when(col("q_bps") === bps.toLong, col("value"))).as(s"__e$bps")
    oct.groupBy(col(groupCol))
      .agg(at(1250), at(2500), at(3750), at(5000), at(6250), at(7500),
        at(8750))
      .select(col(groupCol),
        when(col("__e7500") === col("__e2500"), lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            col("__e7500") + col("__e2500") - lit(2L) * col("__e5000"),
            col("__e7500") - col("__e2500"))).as("bowley_ppm"),
        when(col("__e7500") === col("__e2500"), lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            (col("__e8750") - col("__e6250")) +
              (col("__e3750") - col("__e1250")),
            col("__e7500") - col("__e2500"))).as("moors_ppm"))
  }
}
