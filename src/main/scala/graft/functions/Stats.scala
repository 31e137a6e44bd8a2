package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-arithmetic statistical testing and fitting — the inference
  * layer over the engine's descriptive stats (profile, covar, median,
  * quantiles): two-sample Kolmogorov-Smirnov distance, chi-square
  * independence, and per-group least-squares trend lines. Every
  * statistic is an integer/rational computation with the division
  * deferred to the final rendering, the house no-libm discipline — so
  * results hash bit-identically against the DuckDB oracle.
  *
  * Scale notes: KS runs its cumulative scan over the DISTINCT VALUE
  * domain of a discrete metric (document lengths, counts, bucketed
  * scores — bounded domains by construction), never over rows;
  * chi-square and OLS are single partial-aggregable passes producing
  * class-x-token / group-sized tables.
  */
object Stats {

  /** Exact round-half-away-from-zero fixed-point rendering of num/den
    * at `scale` (1e6 = parts-per-million) in pure integer arithmetic:
    * decimal(38,0) products, the rounding-free (t - t%d)/d division on
    * positive operands, sign reapplied. Both engines compute the
    * identical BIGINT — no DOUBLE round() and no DECIMAL/HUGEINT ever
    * reaches a gated output (the driver's comparator renders wide
    * integer types differently from BIGINT; rendered doubles from
    * round(x, 6) are additionally version-sensitive near ties, so the
    * statistics layer gates on these exact integers instead). `den`
    * must be > 0; guard den = 0 at the call site.
    */
  private[graft] def fixedPointExact(num: Column, den: Column,
      scale: Long = 1000000L): Column = {
    val dec = "decimal(38,0)"
    val t = (abs(num).cast(dec) * lit(2L * scale).cast(dec)).cast(dec) +
      den.cast(dec)
    val d2 = (den.cast(dec) * lit(2L).cast(dec)).cast(dec)
    val q = ((t - (t % d2)) / d2).cast("long")
    when(num < 0, -q).otherwise(q)
  }

  /** The two-sample side flags: `__ia` / `__ib` are 1 where `aPred` /
    * `bPred` holds, else 0. */
  private def sideFlagCols(aPred: Column, bPred: Column): Seq[Column] =
    Seq(when(aPred, 1L).otherwise(0L).as("__ia"),
      when(bPred, 1L).otherwise(0L).as("__ib"))

  /** Every row with a non-NULL `valueCol` — NULL is not an ordered sample
    * value (and the two engines would even order it differently) — as
    * its value `v` (`__v`) and its side flags. */
  private def sideFlags(df: DataFrame, valueCol: String, v: Column,
      aPred: Column, bPred: Column): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(v.as("__v") +: sideFlagCols(aPred, bPred): _*)

  /** Per `key` value of the flagged rows, the count of each sample
    * (`__ca`, `__cb`). */
  private def sideCounts(flags: DataFrame, key: String): DataFrame =
    flags.groupBy(col(key))
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))

  /** The value-domain count table of the rank and transport statistics:
    * per distinct integer value `__v` of the rows in either sample, the
    * count of each sample (`__ca`, `__cb`). Its size is the DISTINCT
    * value domain, never the row count. */
  private def valueCounts(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame =
    sideCounts(
      sideFlags(df, valueCol, col(valueCol).cast("long"), aPred, bPred)
        .filter(col("__ia") === 1L || col("__ib") === 1L), "__v")

  /** The cumulative window over the rows ordered by `key`: every row up
    * to and including the current one. */
  private def upTo(key: String): org.apache.spark.sql.expressions.WindowSpec =
    Window.orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The KS sup over count table `counts` ordered by `key`: one row
    * (n_a, n_b, d_num) with d_num = max |C_a·n_b − C_b·n_a| over the
    * cumulative counts. */
  private def ksSup(counts: DataFrame, key: String): DataFrame = {
    val w = upTo(key)
    val cum = counts
      .withColumn("__Ca", sum(col("__ca")).over(w))
      .withColumn("__Cb", sum(col("__cb")).over(w))
    val tot = cum.agg(max(col("__Ca")).as("n_a"), max(col("__Cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("__Ca") * col("n_b") - col("__Cb") * col("n_a")).as("__d"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("__d")).as("d_num"))
  }

  /** [[ksSup]]'s d_num / (n_a·n_b) in exact ppm; NULL when a sample is
    * empty (the groupOls den = 0 contract). */
  private def ksPpm: Column =
    when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("long"))
      .otherwise(fixedPointExact(col("d_num"),
        (col("n_a").cast("decimal(19,0)") * col("n_b"))
          .cast("decimal(38,0)")))
      .as("d_ppm")

  /** One pass of two-sample moment sums over `valueCol` as long: sizes
    * (na, nb), sums (__sa, __sb) and square sums (__ssa, __ssb), the
    * square sums in decimal(38,0). */
  private def momentSums(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col(valueCol).cast("long")
    df.select(x.as("__x") +: sideFlagCols(aPred, bPred): _*).agg(
      sum(col("__ia")).as("na"), sum(col("__ib")).as("nb"),
      sum(col("__ia") * col("__x")).as("__sa"),
      sum(col("__ib") * col("__x")).as("__sb"),
      sum((col("__ia") * col("__x")).cast("decimal(19,0)") * col("__x"))
        .cast(dec).as("__ssa"),
      sum((col("__ib") * col("__x")).cast("decimal(19,0)") * col("__x"))
        .cast(dec).as("__ssb"))
  }

  /** The two sample means of [[momentSums]] in exact ppm (`mean_a_ppm`,
    * `mean_b_ppm`); NULL for an empty sample. */
  private def meanPpms: Seq[Column] = Seq(
    when(col("na") === 0, lit(null).cast("long"))
      .otherwise(fixedPointExact(col("__sa"), col("na")))
      .as("mean_a_ppm"),
    when(col("nb") === 0, lit(null).cast("long"))
      .otherwise(fixedPointExact(col("__sb"), col("nb")))
      .as("mean_b_ppm"))

  /** Two-sample KS distance between the `valueCol` distributions of two
    * row sets (`aPred` / `bPred` over the same frame) — exact:
    * D = max_x |F_a(x) - F_b(x)| = D_num / (n_a * n_b) with
    * D_num = max over the merged value domain of
    * |C_a(x) * n_b - C_b(x) * n_a| (C = cumulative counts). One row:
    * (n_a, n_b, d_num, d_ppm, d) — d_ppm is the exact integer
    * parts-per-million rendering ([[fixedPointExact]]), d the
    * convenience double (not gated).
    */
  def ksTest(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    // cumulative over the DISTINCT value domain (bounded for the
    // discrete metrics this test is for); an empty side renders d as null
    val counts = sideCounts(
      sideFlags(df, valueCol, col(valueCol), aPred, bPred), "__v")
    ksSup(counts, "__v")
      .select(col("n_a"), col("n_b"), col("d_num"), ksPpm,
        when(col("n_a") === 0L || col("n_b") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("d_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("d"))
  }

  /** BUCKETIZED two-sample KS for CONTINUOUS value domains — the scale
    * regime [[ksTest]]'s scaladoc flags: the exact form's cumulative
    * window runs over the global DISTINCT value domain, bounded for
    * discrete metrics but unbounded for continuous ones. Here every
    * value maps SCAN-STAGE to one of `nBins` fixed-width bins over the
    * observed [min, max] (one 1-row extrema aggregate, broadcast), and
    * the identical cumulative machinery runs over the <= nBins bin
    * domain — bounded by construction at any corpus size.
    *
    * The statistic is the exact KS distance of the BINNED distributions
    * — equivalently, the exact ECDF difference evaluated at bin right
    * edges only. Since that evaluates the same sup over a SUBSET of the
    * domain, D_binned <= D_exact always, and the gap is bounded by the
    * largest per-bin probability mass (spec-pinned; choose nBins by the
    * resolution the decision needs). Bin index arithmetic —
    * floor((v - min) * nBins / (max - min)), clamped — is plain IEEE
    * double in an order both engines reproduce; all gated outputs are
    * BIGINT: (n_a, n_b, n_bins, d_num, d_ppm) with d_num over the
    * bin-level cumulative counts.
    */
  def ksTestBinned(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val vals = sideFlags(df, valueCol, col(valueCol).cast("double"), aPred,
        bPred)
      .filter(col("__ia") === 1L || col("__ib") === 1L)
    val ext = vals.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val binned = vals.crossJoin(broadcast(ext))
      .select(
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            floor((col("__v") - col("__mn")) * lit(nBins.toDouble) /
              (col("__mx") - col("__mn"))))).as("__b"),
        col("__ia"), col("__ib"))
    ksSup(sideCounts(binned, "__b"), "__b")
      .select(col("n_a"), col("n_b"), lit(nBins.toLong).as("n_bins"),
        col("d_num"), ksPpm)
  }

  /** 1-D Wasserstein-1 (earth mover's) distance between the
    * `valueCol` distributions of two row sets — the transport-cost
    * drift metric beside [[ksTest]]'s sup-norm: where KS sees only the
    * worst single gap, W1 integrates |F_a - F_b| over the value axis,
    * so a broad small shift (which KS under-reports) and a narrow
    * large one are priced by the mass actually moved:
    *
    *   W1 = sum over consecutive distinct values (v' - v) ·
    *        |C_a(v)·n_b - C_b(v)·n_a| / (n_a·n_b)
    *
    * — exact integer arithmetic on the same distinct-value cumulative
    * machinery as KS (bounded discrete domains; bucketize continuous
    * values first, the ksTestBinned convention). One row:
    * (n_a, n_b, w1_num, w1_ppm) with w1_ppm the exact ppm rendering
    * of W1 (in VALUE units — micro-units of the metric's scale).
    */
  def wasserstein1(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val w = upTo("__v")
    val wNext = Window.orderBy(col("__v"))
    val cum = valueCounts(df, valueCol, aPred, bPred)
      .withColumn("__Ca", sum(col("__ca")).over(w))
      .withColumn("__Cb", sum(col("__cb")).over(w))
      .withColumn("__nv", lead(col("__v"), 1).over(wNext))
    val tot = cum.agg(max(col("__Ca")).as("n_a"),
      max(col("__Cb")).as("n_b"))
    // un-keyed 1-row aggregate so a single-value (or empty) domain
    // still yields its zero-transport row instead of vanishing
    val num = cum.filter(col("__nv").isNotNull)
      .crossJoin(broadcast(tot))
      .select(((col("__nv") - col("__v")).cast("decimal(19,0)") *
        abs(col("__Ca") * col("n_b") - col("__Cb") * col("n_a")))
        .cast(dec).as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0).cast(dec)).cast(dec)
        .as("__num"))
    broadcast(tot).crossJoin(num)
      .select(col("n_a"), col("n_b"), col("__num").cast("long").as("w1_num"),
        when(col("n_a") === 0L || col("n_b") === 0L
            || col("n_a").isNull || col("n_b").isNull,
          lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__num"),
            (col("n_a").cast("decimal(19,0)") * col("n_b"))
              .cast(dec))).as("w1_ppm"))
  }

  /** Mann-Whitney U rank test between the `valueCol` distributions of
    * two row sets — the nonparametric location test beside
    * [[welchT2]]'s mean test: ranks are immune to the heavy tails a
    * token-count metric always has, so a shift in the BULK of the
    * distribution registers even when a few giant documents dominate
    * the means. Midranks handle ties; everything stays integer by
    * working at twice the rank scale:
    *
    *   2·midrank(v) = 2·C_prev(v) + t_v + 1
    *   u2_a = 2·U_a = Σ_v c_a(v)·2·midrank(v) − n_a·(n_a + 1)
    *   z² = 3·n·(n−1)·(2·U_a − n_a·n_b)² /
    *        (n_a·n_b·(n³ − n − Σ_v (t_v³ − t_v)))
    *
    * (the standard tie-corrected normal approximation, squared to stay
    * sqrt-free — compare z2_ppm against 3.84·10^6 for the two-sided 5%
    * level). Same distinct-value cumulative machinery as [[ksTest]]:
    * the scan rides the bounded value domain, never rows. One row:
    * (n_a, n_b, u2_a, z2_ppm); z2_ppm is NULL when either side is
    * empty or every value is tied (zero variance).
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val w = upTo("__v")
    val cum = valueCounts(df, valueCol, aPred, bPred)
      .withColumn("__t", col("__ca") + col("__cb"))
      .withColumn("__C", sum(col("__t")).over(w))
    val agg = cum.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"),
      // Σ c_a·(2·C_prev + t + 1) with C_prev = C − t
      coalesce(sum((col("__ca").cast("decimal(19,0)") *
        (lit(2L) * (col("__C") - col("__t")) + col("__t") + lit(1L))
          .cast("decimal(19,0)")).cast(dec)), lit(0).cast(dec)).cast(dec)
        .as("__r2a"),
      coalesce(sum((col("__t").cast("decimal(19,0)") * col("__t") *
        col("__t") - col("__t")).cast(dec)), lit(0).cast(dec)).cast(dec)
        .as("__ties3"))
    agg
      .select(col("n_a"), col("n_b"),
        (col("__r2a") - (col("n_a").cast("decimal(19,0)") *
          (col("n_a") + lit(1L)).cast("decimal(19,0)")).cast(dec))
          .cast(dec).as("__u2a"),
        col("__ties3"),
        (col("n_a") + col("n_b")).as("__n"))
      .select(col("n_a"), col("n_b"), col("__u2a").cast("long").as("u2_a"),
        ((col("__u2a") - (col("n_a").cast("decimal(19,0)") * col("n_b"))
          .cast(dec)).cast(dec)).as("__dev"),
        ((col("__n").cast("decimal(19,0)") * col("__n") * col("__n") -
          col("__n")).cast(dec) - col("__ties3")).cast(dec).as("__vden"),
        col("__n"))
      .select(col("n_a"), col("n_b"), col("u2_a"),
        when(col("n_a") === 0L || col("n_b") === 0L ||
            col("__vden") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(
            (lit(3L).cast(dec) * col("__n") * (col("__n") - 1L) *
              col("__dev") * col("__dev")).cast(dec),
            (col("n_a").cast("decimal(19,0)") * col("n_b")).cast(dec) *
              col("__vden"))).as("z2_ppm"))
  }

  /** Kruskal–Wallis H test across ALL groups of `groupCol` — the
    * k-sample generalization of [[mannWhitneyU]] (same rank machinery:
    * average ranks via the cumulative count over the bounded DISTINCT-
    * VALUE domain, tie correction from the same t³−t sums). H =
    * 12/(N(N+1))·Σ R_i²/n_i − 3(N+1), divided by the tie factor
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Exactness: every division is a [[fixedPointExact]] ppm stage in a
    * PINNED order (per-group R_i²/(n_i·N(N+1)) first, then the linear
    * combination, then the single H/C divide), so both engines replay
    * the identical integer/decimal chain — the statistic is exact at
    * ppm, not merely close. Rank sums are doubled (S_i = 2·R_i) so
    * half-ranks never appear.
    *
    * Scale: one (group, value) count pass, one cumulative window over
    * the bounded distinct-value domain (the documented bounded-domain
    * convention — never rows), then group-count-sized arithmetic.
    *
    * Output: one row — (k_groups, n, h_ppm, c_ppm, h_adj_ppm); h_adj
    * NULL when degenerate (no data or all values tied).
    */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val dom = counts.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
    val w = upTo("__v")
    // __cum, not __C: Spark's case-insensitive resolver would collide a
    // __C window alias with the per-group __c count after the join
    val domc = dom.withColumn("__cum", sum(col("__t")).over(w))
    val grp = counts.join(domc, Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n_i"),
        sum(col("__c") * (lit(2L) * (col("__cum") - col("__t")) +
          col("__t") + lit(1L))).as("__s_i"))
    val tot = domc.agg(sum(col("__t")).as("__N"),
      sum((col("__t").cast("decimal(19,0)") * col("__t") * col("__t") -
        col("__t")).cast("decimal(38,0)")).as("__T3"))
    val t1 = grp.crossJoin(tot)
      .select(col("__N"), col("__T3"),
        fixedPointExact(
          (col("__s_i").cast("decimal(19,0)") * col("__s_i"))
            .cast("decimal(38,0)"),
          (lit(4L) * col("__n_i")).cast("decimal(19,0)") * col("__N") *
            (col("__N") + lit(1L))).as("__t1"))
    // N³ in decimal(38,0) BEFORE the subtraction: a long cube overflows
    // past N ~ 2M rows, well inside this operator's scale contract
    val dec = "decimal(38,0)"
    val n3 = (col("__N").cast(dec) * col("__N").cast(dec) *
      col("__N").cast(dec)).cast(dec) - col("__N").cast(dec)
    t1.groupBy(col("__N"), col("__T3"))
      .agg(count(lit(1)).as("k_groups"), sum(col("__t1")).as("__st"))
      .select(col("k_groups"), col("__N").as("n"),
        (lit(12L) * col("__st") -
          lit(3L) * (col("__N") + lit(1L)) * lit(1000000L)).as("h_ppm"),
        fixedPointExact((n3 - col("__T3").cast(dec)).cast(dec), n3)
          .as("c_ppm"))
      .select(col("k_groups"), col("n"), col("h_ppm"), col("c_ppm"),
        when(col("c_ppm") <= 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("h_ppm"), col("c_ppm")))
          .as("h_adj_ppm"))
  }

  /** Cramér's V association between two categorical columns — the
    * [0, 1]-normalized strength reading the raw chi-square (which
    * grows with n) can't give: V² = χ²/(n·(min(r,c) − 1)). The χ²
    * follows [[chi2Independence]]'s exact quantized-cell discipline
    * (cell contributions (n_xy·N − n_x·n_y)²·10^6 // (n_x·n_y), summed
    * in decimal, divided by N once), then V² is the exact ppm
    * rendering of chi2_q/(n·(k−1)) — a two-stage deterministic floor
    * both engines replay bit for bit. Contingency is category-domain
    * sized (model-sized); the scan is one partial-aggregable count
    * pass. One row: (n, n_x, n_y, chi2_q, v2_pptr) — v2_pptr is V² in
    * parts per TRILLION (ppm of a ppm-scaled χ²).
    */
  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__n"))
    val byX = cells.groupBy(col("__x")).agg(sum(col("__n")).as("__nx"))
    val byY = cells.groupBy(col("__y")).agg(sum(col("__n")).as("__ny"))
    val total = cells.agg(sum(col("__n")).as("__nn"))
    val grid = byX.crossJoin(byY)
      .join(cells, Seq("__x", "__y"), "left")
      .crossJoin(broadcast(total))
      .select(col("__nn"), col("__nx"), col("__ny"),
        coalesce(col("__n"), lit(0L)).as("__c"))
    val chi = grid
      .select(col("__nn"),
        ((col("__c").cast(dec) * col("__nn") -
          col("__nx").cast(dec) * col("__ny")).cast(dec)).as("__diff"),
        (col("__nx").cast(dec) * col("__ny")).cast(dec).as("__den"))
      .select(col("__nn"),
        ((col("__diff") * col("__diff")).cast(dec) *
          lit(1000000L).cast(dec)).cast(dec).as("__num"), col("__den"))
      .select(col("__nn"),
        ((col("__num") - (col("__num") % col("__den"))) / col("__den"))
          .cast(dec).as("__cell"))
      .groupBy(col("__nn"))
      .agg(sum(col("__cell")).cast(dec).as("__sum"))
      .select(col("__nn"),
        expr(s"CAST(__sum div CAST(__nn AS $dec) AS BIGINT)")
          .as("chi2_q"))
    chi
      .crossJoin(broadcast(byX.agg(count(lit(1)).as("n_x"))))
      .crossJoin(broadcast(byY.agg(count(lit(1)).as("n_y"))))
      .select(col("__nn").as("n"), col("n_x"), col("n_y"), col("chi2_q"),
        when(least(col("n_x"), col("n_y")) <= 1L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("chi2_q"),
            col("__nn") * (least(col("n_x"), col("n_y")) - 1L)))
          .as("v2_pptr"))
  }

  /** BROWN-FORSYTHE test of variance homogeneity across k groups —
    * the robust Levene variant (deviations from the MEDIAN, not the
    * mean): the gatekeeper for every pooled-variance analysis (Welch
    * exists because this test usually fails on real corpora) and a
    * drift monitor for SPREAD where the location tests watch the
    * middle. Centers are [[Robust.groupQuantiles]]' ceil-rank medians
    * (integer, so z = |x − med| stays integer); the F statistic
    *
    *   F = (N−k)/(k−1) · SSB(z)/SSW(z)
    *
    * runs through the chi2 quantized-cell discipline: per-group
    * a_i = (10^6·S_i²) // n_i, SSB_q = max(0, Σa_i − (10^6·S²) // N)
    * (the max absorbs the ≤ k ppm of floor slack on a true zero),
    * SSW_q = Σ(10^6·T_i − a_i) ≥ 0 by Cauchy-Schwarz — deterministic
    * integer floors both engines replay exactly. One row:
    * (n, k, f_ppm); NULL when k < 2, N ≤ k, or SSW = 0 (all
    * deviations equal). Scale shape: one rank pass for medians + two
    * partial-aggregable passes; group-domain-sized intermediates.
    */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val med = Robust.groupQuantiles(
        df.select(col(groupCol), col(valueCol).cast("long").as("__v")),
        groupCol, "__v", Seq(5000))
      .select(col(groupCol), col("value").as("__med"))
    def floorDiv(num: Column, den: Column): Column =
      ((num - (num % den)) / den).cast(dec)
    val z = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .join(med, Seq(groupCol))
      .select(col(groupCol), abs(col("__v") - col("__med")).as("__z"))
    val per = z.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ni"), sum(col("__z")).as("__si"),
        sum((col("__z").cast("decimal(19,0)") * col("__z")).cast(dec))
          .cast(dec).as("__ti"))
      .select(col("__ni"), col("__si"), col("__ti"),
        floorDiv((col("__si").cast("decimal(19,0)") * col("__si"))
          .cast(dec) * lit(1000000L), col("__ni").cast(dec)).as("__ai"))
    per.agg(sum(col("__ni")).as("n"), count(lit(1)).as("k"),
        sum(col("__si")).as("__s"),
        sum(col("__ai")).cast(dec).as("__a"),
        sum((col("__ti") * lit(1000000L)).cast(dec) - col("__ai"))
          .cast(dec).as("__ssw"))
      .select(col("n"), col("k"),
        greatest(col("__a") - floorDiv(
          (col("__s").cast(dec) * col("__s")).cast(dec) * lit(1000000L),
          col("n").cast(dec)), lit(0).cast(dec)).as("__ssb"),
        col("__ssw"))
      .select(col("n"), col("k"),
        when(col("k") < 2L || col("n") <= col("k") || col("__ssw") <= 0,
          lit(null).cast("long"))
          .otherwise(fixedPointExact(
            ((col("n") - col("k")).cast(dec) * col("__ssb")).cast(dec),
            ((col("k") - 1L).cast(dec) * col("__ssw")).cast(dec)))
          .as("f_ppm"))
  }

  /** CHANGE-POINT estimation (at-most-one-change, the binary-
    * segmentation step) over an ordered series — WHERE the level
    * shifted, where [[cusum]] says THAT it drifted: the split t
    * maximizing the between-segment sum of squares, located by the
    * scale-free statistic
    *
    *   G(t) = (S_t·N − S·t)² / (t·(N−t)·S²)
    *
    * (S_t = prefix sum; the S² normalization keeps the gated integer
    * bounded by N²·10^6 — domain-bounded at ANY data scale, where the
    * raw between-SS would overflow a long on petascale counts).
    * Quantized at 10^6 by integral division; argmax ties break to the
    * earliest split. Recursing on the two sides gives full binary
    * segmentation. One row: (n, change_at, g_q, mean_left_ppm,
    * mean_right_ppm) — change_at is the LAST orderCol value of the
    * left segment; empty result when the series has < 2 points.
    *
    * Scale shape: the cumulative scan and argmax ride the bounded
    * order domain (days/hours), never rows — the cusum convention.
    */
  def changePoint(df: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def floorDiv(num: Column, den: Column): Column =
      ((num - (num % den)) / den).cast(dec)
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = df.select(col(orderCol), col(valueCol).cast("long").as("__y"))
      .withColumn("__st", sum(col("__y")).over(w))
      .withColumn("__t", row_number().over(Window.orderBy(col(orderCol))))
    val tot = pre.agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s"))
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("__t") < col("__n"))
      .select(col(orderCol), col("__t"), col("__st"), col("__n"),
        col("__s"),
        ((col("__st").cast("decimal(19,0)") * col("__n") -
          col("__s").cast("decimal(19,0)") * col("__t")).cast(dec))
          .as("__d"),
        ((col("__t").cast("decimal(19,0)") * (col("__n") - col("__t")))
          .cast(dec) *
          (col("__s").cast("decimal(19,0)") * col("__s")).cast(dec))
          .cast(dec).as("__den"))
      .select(col(orderCol), col("__t"), col("__st"), col("__n"),
        col("__s"),
        when(col("__s") === 0L, lit(0L))
          .otherwise(floorDiv(
            (col("__d") * col("__d") * lit(1000000L)).cast(dec),
            col("__den")).cast("long")).as("g_q"))
    cand
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("g_q").desc, col(orderCol).asc)))
      .filter(col("__rn") === 1)
      .select(col("__n").as("n"), col(orderCol).as("change_at"),
        col("g_q"),
        fixedPointExact(col("__st"), col("__t")).as("mean_left_ppm"),
        fixedPointExact(col("__s") - col("__st"),
          col("__n") - col("__t")).as("mean_right_ppm"))
  }

  /** THEIL-SEN slope of a (x, y) series — the median of all pairwise
    * slopes (Sen 1968): the robust trend line whose breakdown point
    * (~29%) shrugs off the outlier days that swing [[groupOls]]'
    * least-squares fit. Pairwise slopes are exact ppm rationals
    * ([[fixedPointExact]] per pair); the median is the ceil-rank
    * selection over the quantized slope multiset (the documented
    * quantization: slopes are compared at ppm resolution, the house
    * convention for cross-engine rational ordering). Duplicate x's
    * collapse to max(y) first (a slope needs distinct abscissae).
    * One row: (n_points, n_pairs, slope_med_ppm); NULL with < 2
    * points.
    *
    * Scale shape: quadratic in the POINT DOMAIN by construction (use
    * on bounded series — daily/hourly aggregates); the broadcast
    * self-join never touches row-scale data. For longer series,
    * pre-sample points with [[Sampling.hashOrder]].
    */
  def theilSen(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("__x"))
      .agg(max(col(yCol).cast("long")).as("__y"))
    val slopes = pts.as("a")
      .join(broadcast(pts.as("b")), col("a.__x") < col("b.__x"))
      .select(fixedPointExact(col("b.__y") - col("a.__y"),
        col("b.__x") - col("a.__x")).as("__sl"))
    val ranked = GroupRank.withRankAndCount(
      slopes, Nil, Seq(col("__sl").asc), "__rn", "__np")
    val medRow = ranked
      .filter(col("__rn") === GroupRank.intDiv(
        col("__np") * 5000L + 9999L, lit(10000L)))
      .select(col("__sl").as("slope_med_ppm"), col("__np").as("n_pairs"))
    pts.agg(count(lit(1)).as("n_points"))
      .join(broadcast(medRow), lit(true), "left")
      .select(col("n_points"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("slope_med_ppm"))
  }

  /** PAIRWISE PEARSON CORRELATION MATRIX over k integer-quantized
    * columns in ONE aggregation pass — the descriptive-stats card a
    * feature audit opens with ("which metrics are redundant"):
    * per pair, sign(cov) and the sqrt-free magnitude
    *
    *   r² = cov² / (var_x·var_y),
    *   cov = n·Σxy − Σx·Σy,  var = n·Σx² − (Σx)²
    *
    * rendered as r2_pptr (parts per trillion) by the deterministic
    * two-stage floor a = ppm(cov, var_x); r2_pptr = ppm(a·cov, var_y)
    * — squaring cov directly would overflow decimal(38) on corpus-
    * scale cent sums, the staged form never leaves the safe range
    * (|a| ≤ 10^6·√(var_y/var_x) by |r| ≤ 1). NULL when either
    * variance is 0. Output: one row per unordered pair (x_col <
    * y_col positionally): (x_col, y_col, n, r_sign, r2_pptr).
    *
    * Scale shape: a single partial-aggregable pass computing the
    * k + k + C(k,2) sums; the pair table is k²-bounded.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val dec = "decimal(38,0)"
    val base = df.select(cols.map(c => col(c).cast("long").as(c)): _*)
      .na.drop(cols)
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
      cols.map(c => sum(col(c)).as(s"__s_$c")) ++
      cols.map(c => sum((col(c).cast("decimal(19,0)") * col(c)).cast(dec))
        .cast(dec).as(s"__ss_$c")) ++
      (for { i <- cols.indices; j <- i + 1 until cols.size } yield
        sum((col(cols(i)).cast("decimal(19,0)") * col(cols(j))).cast(dec))
          .cast(dec).as(s"__sp_${cols(i)}_${cols(j)}"))
    val one = base.agg(aggs.head, aggs.tail: _*)
    // ONE aggregation row exploded into the pair table — never one
    // re-aggregation (= one more full scan) per pair. The structs carry
    // only the RAW moments (cov, vx, vy); the ppm/r² rendering chain is
    // computed AFTER the explode, so its decimal expression tree is
    // emitted once instead of C(k,2) times — the all-in-struct form
    // exceeded janino's 64 KB method limit at k = 4 and fell back to
    // interpreted execution (one row, but an ERROR line in every log).
    val pairStructs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield {
        val (x, y) = (cols(i), cols(j))
        val n = col("__n").cast(dec)
        val cov = (n * col(s"__sp_${x}_$y") -
          col(s"__s_$x").cast(dec) * col(s"__s_$y")).cast(dec)
        val vx = (n * col(s"__ss_$x") -
          col(s"__s_$x").cast(dec) * col(s"__s_$x")).cast(dec)
        val vy = (n * col(s"__ss_$y") -
          col(s"__s_$y").cast(dec) * col(s"__s_$y")).cast(dec)
        struct(lit(x).as("x_col"), lit(y).as("y_col"),
          col("__n").as("n"), cov.as("cov"), vx.as("vx"), vy.as("vy"))
      }
    val cov = col("__p.cov")
    val vx = col("__p.vx")
    val vy = col("__p.vy")
    one.select(explode(array(pairStructs: _*)).as("__p"))
      .select(col("__p.x_col").as("x_col"), col("__p.y_col").as("y_col"),
        col("__p.n").as("n"),
        signum(cov.cast("double")).cast("long").as("r_sign"),
        when(vx <= 0 || vy <= 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(
            (fixedPointExact(cov, vx).cast("decimal(19,0)") * cov)
              .cast(dec), vy)).as("r2_pptr"))
  }

  /** CHAO1 RICHNESS estimator of the UNSEEN vocabulary (Chao 1984 —
    * the ecology species estimator, standard for "how big is this
    * corpus's vocabulary really"): singletons predict what sampling
    * missed, chao1 = D + f1·(f1−1)/(2·(f2+1)) (the bias-corrected
    * form — defined even with no doubletons). A chao1 far above D says
    * the corpus has barely scratched its vocabulary (keep scaling
    * data); chao1 ≈ D says the type inventory is saturated — the
    * decision [[heapsFit]]'s growth exponent reads longitudinally,
    * estimated here from one snapshot. Exact integers (the additive
    * term floors — documented; it is an estimate, not a count). One
    * row: (d_obs, f1, f2, chao1).
    *
    * Scale shape: one partial-aggregable token count + one vocabulary-
    * domain aggregate.
    */
  def chao1Richness(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("d_obs"),
        coalesce(sum(when(col("__n") === 1L, 1L)), lit(0L)).as("f1"),
        coalesce(sum(when(col("__n") === 2L, 1L)), lit(0L)).as("f2"))
      .select(col("d_obs"), col("f1"), col("f2"),
        (col("d_obs") + GroupRank.intDiv(col("f1") * (col("f1") - 1L),
          lit(2L) * (col("f2") + 1L))).as("chao1"))

  /** TURING-SMOOTHED COUNTS over the count-of-counts table — the
    * Good-Turing adjusted frequency r* = (r+1)·f_{r+1}/f_r for the
    * low-frequency classes r ≤ maxR (the regime where raw counts
    * overstate: singletons behave like ~r* < 1 occurrences, the
    * correction under Katz backoff and the empirical side of
    * Kneser-Ney's fixed discount). Count-of-counts ride the bounded
    * frequency domain; rstar_ppm is the exact ppm rendering (0 when
    * f_{r+1} = 0 — Turing's estimate of a class with no successor).
    * Output: (r, f_r, rstar_ppm) for r = 1..maxR with f_r > 0.
    */
  def turingCounts(docs: DataFrame, textCol: String,
      maxR: Int = 10, gram: Int = 1): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    require(gram >= 1, s"gram must be >= 1, got $gram")
    // gram > 1 counts HASHED gram ids (the compiled scan-stage
    // generator + long keys of the minhash tid discipline — 3x faster
    // than string-gram shuffles; the 1e9+7 polynomial's rare collision
    // merges two classes identically in both engines)
    val units =
      if (gram == 1)
        docs.select(explode(Text.tokens(col(textCol))).as("__w"))
      else
        docs.select(graft.plans.TextExpressions
            .hashedShingles(col(textCol), gram))
          .select(col("tid").as("__w"))
    val fr = units
      .groupBy(col("__w")).agg(count(lit(1)).as("__r"))
      .groupBy(col("__r").as("r")).agg(count(lit(1)).as("f_r"))
    val w = Window.orderBy(col("r"))
    fr.filter(col("r") <= maxR + 1)
      .withColumn("__fnext", when(lead(col("r"), 1).over(w) ===
        col("r") + 1L, lead(col("f_r"), 1).over(w)).otherwise(0L))
      .filter(col("r") <= maxR)
      .select(col("r"), col("f_r"),
        fixedPointExact((col("r") + 1L).cast("decimal(19,0)") *
          col("__fnext"), col("f_r")).as("rstar_ppm"))
  }

  /** DAY-OF-WEEK SEASONALITY chi-square — is the event volume
    * actually uniform across the week (the null every capacity plan
    * assumes until shown otherwise): χ² = Σ_d (7·c_d − N)²/(7·N) over
    * the full 7-day grid (absent days contribute their expected-count
    * mass), each cell quantized at 10^6 by integral division (the
    * chi2Independence discipline), dof = 6. Days are Monday-based
    * (0..6). One row: (n, chi2_q); compare chi2_q against
    * 12.59·10^6 (the 5% critical value at 6 dof).
    */
  def dowSeasonality(events: DataFrame, tsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = events
      .select(expr(s"weekday(to_date($tsCol))").cast("long").as("__d"))
      .groupBy(col("__d")).agg(count(lit(1)).as("__c"))
    val grid = events.sparkSession.range(7)
      .select(col("id").as("__d"))
      .join(counts, Seq("__d"), "left")
      .select(col("__d"), coalesce(col("__c"), lit(0L)).as("__c"))
    val tot = grid.agg(sum(col("__c")).as("__n"))
    grid.crossJoin(broadcast(tot))
      .select(col("__n"),
        ((lit(7L) * col("__c") - col("__n")).cast("decimal(19,0)") *
          (lit(7L) * col("__c") - col("__n"))).cast(dec).as("__d2"))
      .select(col("__n"),
        (((col("__d2") * lit(1000000L)).cast(dec) -
          ((col("__d2") * lit(1000000L)).cast(dec) %
            (lit(7L).cast(dec) * col("__n")).cast(dec))) /
          (lit(7L).cast(dec) * col("__n")).cast(dec)).cast(dec)
          .as("__cell"))
      .groupBy(col("__n"))
      .agg(sum(col("__cell")).cast("long").as("chi2_q"))
      .select(col("__n").as("n"), col("chi2_q"))
  }

  /** WALD-WOLFOWITZ RUNS TEST of a binary sequence — IS the series
    * actually random, the question [[lagSlope]] (persistence) and
    * [[cusum]] (drift) each answer only half of: too FEW runs means
    * clustering/trend, too MANY means oscillation. Exact rational,
    * sqrt-free:
    *
    *   z² = (R·n − n − 2ab)²·(n−1) / (2ab·(2ab − n))
    *
    * (a/b = the two symbol counts, R = observed runs; compare z2_ppm
    * against 3.84·10^6). NULL when either symbol is too rare for the
    * variance to exist (2ab ≤ n). One row: (n, n_true, runs, z2_ppm).
    * The run count rides a lag window over the bounded order domain
    * (the cusum convention).
    */
  def runsTest(df: DataFrame, orderCol: String,
      flag: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col(orderCol))
    val seq0 = df.select(col(orderCol), flag.cast("boolean").as("__f"))
      .filter(col("__f").isNotNull)
      .withColumn("__prev", lag(col("__f"), 1).over(w))
    seq0.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__f"), 1L).otherwise(0L)), lit(0L))
          .as("n_true"),
        (lit(1L) + coalesce(sum(when(col("__prev").isNotNull &&
          col("__f") =!= col("__prev"), 1L).otherwise(0L)), lit(0L)))
          .as("runs"))
      .select(col("n"), col("n_true"), col("runs"),
        (col("n") - col("n_true")).as("__b"))
      .select(col("n"), col("n_true"), col("runs"),
        when(lit(2L) * col("n_true") * col("__b") <= col("n"),
          lit(null).cast("long"))
          .otherwise(fixedPointExact(
            ((col("runs").cast("decimal(19,0)") * col("n") - col("n") -
              lit(2L) * col("n_true") * col("__b")).cast(dec) *
              (col("runs").cast("decimal(19,0)") * col("n") - col("n") -
                lit(2L) * col("n_true") * col("__b")).cast(dec) *
              (col("n") - 1L)).cast(dec),
            ((lit(2L).cast("decimal(19,0)") * col("n_true") * col("__b"))
              .cast(dec) *
              (lit(2L).cast("decimal(19,0)") * col("n_true") * col("__b")
                - col("n")).cast(dec)).cast(dec))).as("z2_ppm"))
  }

  /** GOOD-TURING MISSING MASS — the probability the NEXT token drawn
    * is a type never seen: p0 = f1/N (Good 1953), the companion
    * number to [[chao1Richness]] (chao1 says how many types are
    * unseen, p0 says how much probability they carry — the mass every
    * unsmoothed LM misassigns). Exact ppm. One row:
    * (n_tokens, f1, p0_ppm); one partial-aggregable pass.
    */
  def goodTuringMass(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_tokens"),
        coalesce(sum(when(col("__n") === 1L, 1L)), lit(0L)).as("f1"))
      .select(col("n_tokens"), col("f1"),
        when(col("n_tokens") === 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("f1"), col("n_tokens")))
          .as("p0_ppm"))

  /** HILL TAIL-INDEX estimator over the top-k order statistics — HOW
    * heavy the tail is (the Pareto exponent α), where [[psi]] and the
    * Zipf slope read distributional SHAPE: α̂ = k / Σ_{i≤k} ln(x_(i) /
    * x_(k+1)). Small α (≤ 2) means the corpus's length/size budget is
    * owned by a few giants — the signal that caps/winsorization are
    * load-bearing, not cosmetic. Logs ride
    * [[graft.plans.FixLog.log2q]] (α is log-base-free since the base
    * cancels in the ratio k/Σ): hill2_q = Σ log2q(x_i) − k·log2q(x_t)
    * over the rank-selected top k with threshold x_t = x_(k+1), and
    * alpha_ppm = ppm of k·2^16/hill2_q. NULL when the top k+1 values
    * are all equal (zero tail information). Values must be ≥ 1 (log
    * domain); zero/NULL rows are excluded. One row:
    * (k, x_threshold, hill2_q, alpha_ppm).
    *
    * Scale shape: [[GroupRank]] selects the top k+1 — no global sort
    * task; one bounded aggregate over k rows.
    */
  def hillTail(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = GroupRank.withRankAndCount(
        df.select(col(valueCol).cast("long").as("__x"))
          .filter(col("__x").isNotNull && col("__x") >= 1L),
        Nil, Seq(col("__x").desc), "__rn", "__n")
      .filter(col("__rn") <= k + 1)
    val thr = ranked.filter(col("__rn") === k + 1)
      .select(col("__x").as("__xt"),
        graft.plans.FixLog.log2qCol(col("__x")).as("__lt"))
    ranked.filter(col("__rn") <= k)
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("k"), max(col("__xt")).as("x_threshold"),
        (sum(graft.plans.FixLog.log2qCol(col("__x"))) -
          count(lit(1)) * max(col("__lt"))).as("hill2_q"))
      .select(col("k"), col("x_threshold"), col("hill2_q"),
        when(col("hill2_q") <= 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("k") * lit(65536L),
            col("hill2_q"))).as("alpha_ppm"))
  }

  /** FANO FACTOR (index of dispersion) per group — sample variance
    * over mean of a count series, the overdispersion card that says
    * whether arrivals are Poisson-like (F ≈ 1), regular (F < 1), or
    * bursty/clustered (F > 1; the [[Quality]] burstiness signal's
    * formal cousin). One exact rational per group:
    *
    *   F = s²/x̄ = (n·T − S²) / ((n−1)·S),  S = Σx, T = Σx²
    *
    * ppm-rendered; NULL when n < 2 or S = 0 (no mean to divide by —
    * note a nonempty count series with S = 0 is all-zero, where F is
    * the 0/0 limit). Output: (group, n, fano_ppm). One partial-
    * aggregable pass, group-domain-sized output.
    */
  def fanoFactor(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.select(col(groupCol), col(valueCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"),
        sum((col("__x").cast("decimal(19,0)") * col("__x")).cast(dec))
          .cast(dec).as("__t"))
      .select(col(groupCol), col("n"),
        when(col("n") < 2L || col("__s") <= 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(
            (col("n").cast(dec) * col("__t") -
              (col("__s").cast("decimal(19,0)") * col("__s")).cast(dec))
              .cast(dec),
            ((col("n") - 1L).cast("decimal(19,0)") * col("__s"))
              .cast(dec))).as("fano_ppm"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * information-theoretic member of the association trio beside
    * [[cramersV]] (effect size) and the chi-square (significance):
    * MI = Σ_xy p_xy·log2(p_xy/(p_x·p_y)) answers "how many BITS does
    * knowing x buy about y" — the units a mixture/curriculum planner
    * actually budgets in. Logs ride [[graft.plans.FixLog.log2q]] (the
    * no-libm discipline): each populated cell contributes the exact
    * integer c_xy·(log2q(c_xy·N) − log2q(n_x·n_y)), summed as mi2_q;
    * MI in bits = mi2_q/(N·2^16). Empty cells contribute exactly 0
    * (the 0·log 0 limit), so only the populated contingency is
    * scanned. One row: (n, n_x, n_y, mi2_q, mi2).
    *
    * Scale shape: one partial-aggregable count pass; category-domain-
    * sized cell and margin tables, broadcast-joined.
    */
  def categoricalMi(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
    val byX = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__nx"))
    val byY = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__ny"))
    val total = cells.agg(sum(col("__c")).as("__nn"))
    cells
      .join(broadcast(byX), Seq("__x"))
      .join(broadcast(byY), Seq("__y"))
      .crossJoin(broadcast(total))
      .select(col("__c"), col("__nn"),
        (col("__c") * (graft.plans.FixLog.log2qCol(col("__c") * col("__nn"))
          - graft.plans.FixLog.log2qCol(col("__nx") * col("__ny"))))
          .as("__t"))
      .agg(max(col("__nn")).as("n"), sum(col("__t")).as("mi2_q"))
      .crossJoin(broadcast(byX.agg(count(lit(1)).as("n_x"))))
      .crossJoin(broadcast(byY.agg(count(lit(1)).as("n_y"))))
      .select(col("n"), col("n_x"), col("n_y"), col("mi2_q"),
        round(col("mi2_q").cast("double") /
          (col("n").cast("double") * 65536.0), 6).as("mi2"))
  }

  /** Chi-square test of independence between token and class over a
    * corpus (the frequentist companion of
    * [[NaiveBayes.tokenClassMi]]): cell contributions
    * (n_tc * N - n_t * n_c)^2 / (n_t * n_c) quantized at 10^6 by
    * integral division, summed exactly in decimal(38,0), divided by N
    * once at the end. One row:
    * (n_tokens, n_classes, dof, chi2_q, chi2). Cells with n_tc = 0
    * contribute their expected-count mass exactly like the textbook
    * statistic (the full grid is classes x vocabulary — model-sized).
    */
  def chi2Independence(docs: DataFrame, textCol: String,
      classCol: String): DataFrame = {
    val counts = NaiveBayes.tokenClassCounts(docs, textCol, classCol)
    val byTok = counts.groupBy(col("token")).agg(sum(col("n")).as("__nt"))
    val byCls = counts.groupBy(col("class")).agg(sum(col("n")).as("__nc"))
    val total = counts.agg(sum(col("n")).as("__nn"))
    val grid = byTok.crossJoin(byCls.select(col("class"), col("__nc")))
      .join(counts, Seq("token", "class"), "left")
      .crossJoin(broadcast(total))
      .select(col("token"), col("class"), col("__nt"), col("__nc"),
        col("__nn"), coalesce(col("n"), lit(0L)).as("__n"))
    // The truncated quotient stays in DECIMAL end to end: Spark's `div`
    // (IntegralDivide) always returns BIGINT and would silently cap a
    // big cell at Long range while the oracle's HUGEINT `//` sails on.
    // (num - num % den) / den is exactly divisible, so the decimal
    // division is rounding-free; diff is computed in decimal too (the
    // long form n*nn would wrap past ~3e9 occurrences). Bound: diff^2
    // needs decimal(38) -> valid to ~10^9 total occurrences; rescale
    // the 10^6 quantization a decade per decade beyond, the
    // Pca/textRank audit convention.
    val dec = "decimal(38,0)"
    grid
      .select(col("__nn"),
        expr(s"""CAST((CAST(__n AS $dec) * __nn - CAST(__nt AS $dec) * __nc)
                 AS $dec)""").as("__diff"),
        expr(s"CAST(CAST(__nt AS $dec) * __nc AS $dec)").as("__den"))
      .select(col("__nn"),
        ((col("__diff") * col("__diff")).cast("decimal(38,0)") *
          lit(1000000L).cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("__num"), col("__den"))
      .select(col("__nn"),
        ((col("__num") - (col("__num") % col("__den"))) / col("__den"))
          .cast("decimal(38,0)").as("__cell"))
      .groupBy(col("__nn"))
      .agg(sum(col("__cell")).cast("decimal(38,0)").as("__sum"))
      .crossJoin(broadcast(byTok.agg(count(lit(1)).as("n_tokens"))))
      .crossJoin(broadcast(byCls.agg(count(lit(1)).as("n_classes"))))
      .select(col("n_tokens"), col("n_classes"),
        ((col("n_tokens") - 1L) * (col("n_classes") - 1L)).as("dof"),
        expr("CAST(__sum div CAST(__nn AS decimal(38,0)) AS BIGINT)")
          .as("chi2_q"),
        round(expr("CAST(__sum div CAST(__nn AS decimal(38,0)) AS BIGINT)")
          .cast("double") / 1e6, 6).as("chi2"))
  }

  /** POPULATION STABILITY INDEX between two row populations' category
    * distributions — THE standard drift monitor for a deployed
    * pipeline's mixture (source shares, language shares, quality-tier
    * shares between two snapshots/splits): PSI = Σ over categories of
    * (p_a − p_b)·log(p_a/p_b). Both factors of every term share a
    * sign, so PSI ≥ 0, zero iff the distributions agree. The usual
    * reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Logarithms are base-2 through [[graft.plans.FixLog.log2q]] (the
    * no-libm discipline): shares are exact ppm integers (clamped at
    * 1 ppm — the standard smoothing for a category absent from one
    * side, and log2q's domain floor), each term the exact integer
    * (pa_ppm − pb_ppm)·(log2q(pa_ppm) − log2q(pb_ppm)), summed as
    * psi2_q. `psi2` = psi2_q / (2^16·10^6) is PSI in log-2 units; the
    * natural-log convention multiplies by ln 2 (≈0.6931) — thresholds
    * above are for the ln convention, so compare psi2·0.6931.
    *
    * Scale shape: one partial-aggregable category count pass + a
    * category-domain-bounded term table. Output: one row
    * (n_cats, psi2_q, psi2).
    */
  def psi(df: DataFrame, catCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val counts = df.select(col(catCol).as("__cat"),
        when(aPred, 1L).otherwise(0L).as("__ia"),
        when(bPred, 1L).otherwise(0L).as("__ib"))
      .groupBy(col("__cat"))
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val tot = counts.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    counts.crossJoin(broadcast(tot))
      .select(
        greatest(fixedPointExact(col("__ca"), col("__na")), lit(1L))
          .as("__pa"),
        greatest(fixedPointExact(col("__cb"), col("__nb")), lit(1L))
          .as("__pb"))
      .select(((col("__pa") - col("__pb")) *
        (graft.plans.FixLog.log2qCol(col("__pa")) -
          graft.plans.FixLog.log2qCol(col("__pb")))).as("__t"))
      .agg(count(lit(1)).as("n_cats"), sum(col("__t")).as("psi2_q"))
      .select(col("n_cats"), col("psi2_q"),
        round(col("psi2_q").cast("double") / 65536.0 / 1000000.0, 6)
          .as("psi2"))
  }

  /** HEAPS'-LAW FIT — vocabulary growth V(n) ≈ K·n^β over the corpus
    * token stream (Heaps 1978), the companion diagnostic to the Zipf
    * slope: β near the English-corpus 0.4–0.6 band says the stream
    * grows vocabulary like natural text; β → 0 flags template/boiler-
    * plate floods (vocabulary saturates), β → 1 flags id/hash floods
    * (every token new). Deterministic stream order = (idCol, position)
    * — the engine's canonical corpus order, replayed by the oracle.
    *
    * Shape: the global token index is [[GroupRank.withRankAndCount]]
    * (NO single-task sort over the corpus stream);
    * first-occurrence positions are a vocabulary-sized min; each type
    * then lands in the FIRST of `gridPoints` evenly-spaced prefix
    * checkpoints that contains it (ceil arithmetic — partial-
    * aggregable), and the cumulative vocabulary rides the
    * gridPoints-bounded domain only (the binned-KS window discipline).
    * The fit is [[groupOls]] over (log2q(prefix), log2q(vocab)) at the
    * checkpoints — slope_ppm ≈ β·10^6 exactly as the gated integer
    * (log base cancels in the slope).
    *
    * Output: one row (n, slope_ppm, intercept_ppm) — n = gridPoints.
    */
  def heapsFit(docs: DataFrame, idCol: String, textCol: String,
      gridPoints: Int = 20): DataFrame = {
    require(gridPoints >= 2, s"gridPoints must be >= 2, got $gridPoints")
    val g = gridPoints.toLong
    val stream = docs.select(col(idCol).as("__id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("__p", "__tok")))
      .where(col("__tok").rlike("^[a-z]+$"))
    val ranked = GroupRank.withRankAndCount(stream, Nil,
      Seq(col("__id").asc, col("__p").asc), "__gp", "__nn")
    val firstpos = ranked.groupBy(col("__tok"))
      .agg(min(col("__gp")).as("__fp"), max(col("__nn")).as("__n"))
    // a type first seen at position fp joins checkpoint ceil(fp·G/N)
    val perIdx = firstpos
      .select((GroupRank.intDiv(col("__fp") * g - 1L, col("__n")) + 1L)
        .as("__i"), col("__n"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__v"), max(col("__n")).as("__n"))
    val spark = docs.sparkSession
    val grid = spark.range(1, gridPoints + 1).toDF("__i")
      .crossJoin(broadcast(perIdx.agg(max(col("__n")).as("__N"))))
    val w = Window.orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = grid.join(perIdx.select(col("__i"), col("__v")), Seq("__i"),
        "left")
      // gridPoints-bounded window only — never corpus rows
      .withColumn("__V", sum(coalesce(col("__v"), lit(0L))).over(w))
      .withColumn("__prefix", GroupRank.intDiv(col("__i") * col("__N"),
        lit(g)))
      .filter(col("__V") > 0L && col("__prefix") > 0L)
    groupOls(pts.select(lit("corpus").as("g"),
        graft.plans.FixLog.log2qCol(col("__prefix")).as("x"),
        graft.plans.FixLog.log2qCol(col("__V")).as("y")),
      "g", "x", "y")
      .select(col("n"), col("slope_ppm"), col("intercept_ppm"))
  }

  /** Gini coefficient of a set of nonnegative integer sizes — the
    * inequality readout (0 = perfectly even, ->1 = one holder): exact
    * rational G = (2 * sum(rank_i * x_i) - (n+1) * sum(x)) /
    * (n * sum(x)) over sizes ranked ascending (deterministic id
    * tie-break, [[GroupRank]]). One row: (n, gini_num, gini_den, gini).
    */
  def gini(df: DataFrame, sizeCol: String, idCol: String): DataFrame = {
    val ranked = GroupRank.withRankAndCount(
      df.select(col(idCol), col(sizeCol).cast("long").as("__gsz")),
      Nil, Seq(col("__gsz").asc, col(idCol).asc),
      "__gr", "__gn")
    ranked.agg(count(lit(1)).as("n"), sum(col("__gsz")).as("__tot"),
        sum(col("__gr") * col("__gsz")).as("__ws"))
      .select(col("n"),
        (lit(2L) * col("__ws") - (col("n") + 1L) * col("__tot"))
          .as("gini_num"),
        (col("n") * col("__tot")).as("gini_den"))
      .withColumn("gini", round(col("gini_num").cast("double") /
        col("gini_den").cast("double"), 6))
  }

  /** YULE'S CHARACTERISTIC K per group — the repeat-rate lexical
    * diversity constant (Yule 1944, "The Statistical Study of Literary
    * Vocabulary"): K = 10^4 * (S2 - N) / N^2 over the group's token
    * frequency spectrum, with S2 = sum over types of m^2 (m = type
    * frequency) and N = token count. Unlike type-token ratio, K is
    * length-invariant under the Poisson urn model — the property that
    * makes it the CROSS-SOURCE comparability card of the corpus QA
    * deck: template/boilerplate floods (few types, hammered) push K
    * up by orders of magnitude, id/hash floods (every token fresh)
    * pull it toward 0, natural prose sits in a stable band. Rendered
    * as the exact integer yule_k_milli = round(1000*K)
    * ([[fixedPointExact]] at scale 1000 over the (10^4*(S2-N), N^2)
    * rational — decimal-widened, overflow-proof at any corpus size).
    * Vocabulary contract: [a-z]+ word types, the engine's NB/zipf
    * token universe.
    *
    * Scale shape: one (group, token) wordcount shuffle with map-side
    * combine, then a group-sized collapse — linear, no windows, no
    * driver round-trip.
    * Output: (groupCol, n_tokens, n_types, sum_m2, yule_k_milli).
    */
  def yuleK(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val tf = docs
      .select(col(groupCol), explode(Text.tokens(col(textCol))).as("__w"))
      .where(col("__w").rlike("^[a-z]+$"))
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("__m"))
    tf.groupBy(col(groupCol))
      .agg(sum(col("__m")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__m").cast(dec) * col("__m").cast(dec)).as("__s2"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("__s2").cast("long").as("sum_m2"),
        fixedPointExact(
          lit(10000L).cast(dec) * (col("__s2") - col("n_tokens").cast(dec)),
          col("n_tokens").cast(dec) * col("n_tokens").cast(dec),
          scale = 1000L).as("yule_k_milli"))
  }

  /** EXACT INTEGER SQUARE ROOT: floored double sqrt with a ±1 integer
    * correction — the double sqrt is correctly rounded (IEEE, identical
    * cross-engine) and the correction makes the result exact for any
    * x < 2^52 regardless of rounding direction at perfect squares.
    */
  private[graft] def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val s1 = when((s0 + 1L) * (s0 + 1L) <= x, s0 + 1L).otherwise(s0)
    when(s1 * s1 > x, s1 - 1L).otherwise(s1)
  }

  /** DELETE-ONE-GROUP JACKKNIFE (Quenouille 1956; Tukey 1958) of the
    * corpus mean of `valueCol`, leaving out one `groupCol` group at a
    * time — the variance/bias estimator that respects CLUSTERED data:
    * bootstrap rows of a 20-source corpus and the resamples are
    * correlated inside sources; deleting whole sources is the honest
    * resampling unit (the survey-statistics "delete-a-group" form).
    *
    *   θ = S/N,  θ_(i) = (S−s_i)/(N−n_i),
    *   bias ≈ (g−1)(θ̄_(.) − θ),
    *   var  = (g−1)/g · Σ_i (θ_(i) − θ̄_(.))²
    *
    * Everything is the exact integer pipeline: leave-one-out means
    * render in ppm ([[fixedPointExact]]) and the variance/bias are
    * computed FROM those gated ppm integers (one documented rounding
    * layer, replayed identically by the oracle); the standard error is
    * the EXACT integer square root of var (a floored double sqrt with
    * ±1 integer correction — exact for var < 2^52, which g·ppm² always
    * is). Groups must be proper subsets (some other group non-empty).
    * Output: one row (g, n, theta_ppm, jk_mean_ppm, jk_bias_ppm,
    * jk_var_ppm2, jk_se_ppm).
    *
    * Scale: one group-domain aggregation, then group-sized arithmetic
    * with broadcast one-row totals — bounded regardless of corpus.
    */
  def jackknifeGroups(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("long")).as("__s"))
    val tot = broadcast(per.agg(sum(col("__n")).as("__NN"),
      sum(col("__s")).as("__SS"), count(lit(1)).as("__GG")))
    // A group equal to the whole frame (g = 1, or one group holding
    // every row) makes __NN - __n = 0 — outside fixedPointExact's
    // den > 0 contract. Null the leave-one-out term EXPLICITLY for
    // that degenerate group instead of tripping the decimal division.
    val loo = per.crossJoin(tot)
      .select(when(col("__NN") === col("__n"), lit(null).cast("long"))
        .otherwise(fixedPointExact(col("__SS") - col("__s"),
          col("__NN") - col("__n"))).as("__t"))
    val head = broadcast(loo
      .agg(sum(col("__t")).as("__ts"))
      .crossJoin(tot)
      .select(col("__GG"), col("__NN"),
        fixedPointExact(col("__SS"), col("__NN")).as("theta_ppm"),
        fixedPointExact(col("__ts"), col("__GG"), scale = 1L)
          .as("jk_mean_ppm")))
    loo.crossJoin(head)
      .groupBy(col("__GG"), col("__NN"), col("theta_ppm"),
        col("jk_mean_ppm"))
      .agg(sum((col("__t") - col("jk_mean_ppm")).cast(dec) *
        (col("__t") - col("jk_mean_ppm")).cast(dec)).as("__ss"))
      .select(col("__GG").as("g"), col("__NN").as("n"), col("theta_ppm"),
        col("jk_mean_ppm"),
        ((col("__GG") - 1L) * (col("jk_mean_ppm") - col("theta_ppm")))
          .as("jk_bias_ppm"),
        fixedPointExact((col("__GG") - 1L).cast(dec) * col("__ss"),
          col("__GG").cast(dec), scale = 1L).as("jk_var_ppm2"))
      .withColumn("jk_se_ppm", isqrt(col("jk_var_ppm2")))
  }

  /** BURROWS' DELTA stylometric distance between groups (Burrows 2002,
    * "'Delta': a Measure of Stylistic Difference") — the authorship /
    * source-forensics classic: over the corpus's `topK` most frequent
    * word types, each group's relative frequencies are standardized
    * against the cross-group distribution (z-scores), and Delta(a, b)
    * is the mean |z_a − z_b| — function-word usage is the stylistic
    * fingerprint content words can't fake, so a low-Delta source pair
    * flags a re-crawl/mirror even when topics differ (the governance
    * twin of the shingle-overlap matrix, orthogonal evidence).
    *
    * Exact pipeline with three documented rounding layers, each an
    * integer the oracle replays bit for bit: relative frequencies in
    * ppm ([[fixedPointExact]]), per-word mean and population variance
    * over groups from those ppm integers, σ via [[isqrt]], z-scores in
    * milli-units, Delta as the mean milli |Δz|. σ = 0 words (uniform
    * across groups) carry z = 0 everywhere — zero stylistic signal,
    * zero contribution, no division hazard.
    * Output: (source_a, source_b, n_words, delta_milli) for every
    * unordered group pair, delta ascending = stylistically closest.
    *
    * Scale: one wordcount shuffle; everything after rides the
    * groups × topK grid (mixture-bounded) — the source-overlap shape.
    */
  def burrowsDelta(docs: DataFrame, groupCol: String, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // Materialized ONCE: four consumers (ng, topw, grid's left join, and
    // through grid every moment pass) would otherwise each re-run the
    // full-corpus tokenize + count — measured as four concurrent
    // corpus-pass jobs at sf0.1. The aggregate is (groups × word types),
    // orders below corpus size at any scale.
    val cnt = docs.select(col(groupCol).as("__grp"),
        explode(Text.tokens(col(textCol))).as("__w"))
      .where(col("__w").rlike("^[a-z]+$"))
      .groupBy(col("__grp"), col("__w")).agg(count(lit(1)).as("__c"))
      .checkpointed
    val ng = cnt.groupBy(col("__grp")).agg(sum(col("__c")).as("__ntok"))
    val topw = broadcast(cnt.groupBy(col("__w"))
      .agg(sum(col("__c")).as("__tot"))
      .orderBy(col("__tot").desc, col("__w").asc).limit(topK)
      .select(col("__w")))
    // The groups × topK grid is checkpointed: its three consumers (mu,
    // sig, z — and through z both self-join sides) would each re-run
    // ng + the topw broadcast build + the cnt join (measured: 24 jobs
    // and ~1.1 s of between-job driver latency at sf0.1 for a
    // mixture-bounded relation). One execution; every moment pass reads
    // the LogicalRDD.
    val grid = ng.crossJoin(topw)
      .join(cnt, Seq("__grp", "__w"), "left")
      .select(col("__grp"), col("__w"),
        fixedPointExact(coalesce(col("__c"), lit(0L)), col("__ntok"))
          .as("__f"))
      .checkpointed
    // Same integers as counting ng/topw directly — the grid holds every
    // (group, top word) pair exactly once — without re-running either
    // chain per consts consumer.
    val consts = broadcast(grid.agg(
      countDistinct(col("__grp")).as("__gcnt"),
      countDistinct(col("__w")).as("__kw")))
    val dec = "decimal(38,0)"
    val mu = grid.groupBy(col("__w")).agg(sum(col("__f")).as("__sf"))
      .crossJoin(consts)
      .select(col("__w"),
        fixedPointExact(col("__sf"), col("__gcnt"), scale = 1L)
          .as("__mu"))
    val sig = grid.join(mu, Seq("__w"))
      .groupBy(col("__w"), col("__mu"))
      .agg(sum((col("__f") - col("__mu")).cast(dec) *
        (col("__f") - col("__mu")).cast(dec)).as("__ssd"))
      .crossJoin(consts)
      .select(col("__w"), col("__mu"),
        isqrt(fixedPointExact(col("__ssd"), col("__gcnt").cast(dec),
          scale = 1L)).as("__sig"))
    val z = grid.join(broadcast(sig), Seq("__w"))
      .select(col("__w"), col("__grp"),
        when(col("__sig") === 0L, lit(0L))
          .otherwise(fixedPointExact(col("__f") - col("__mu"),
            col("__sig"), scale = 1000L)).as("__z"))
    val za = z.select(col("__w"), col("__grp").as("source_a"),
      col("__z").as("__za"))
    val zb = z.select(col("__w"), col("__grp").as("source_b"),
      col("__z").as("__zb"))
    za.join(zb, Seq("__w")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(abs(col("__za") - col("__zb"))).as("__sd"))
      .crossJoin(consts)
      .select(col("source_a"), col("source_b"),
        col("__kw").as("n_words"),
        fixedPointExact(col("__sd"), col("__kw"), scale = 1L)
          .as("delta_milli"))
  }

  /** Per-group ordinary least squares of integer y on integer x —
    * closed-form normal equations with every product exact:
    * slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2),
    * intercept = (Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx^2). Output per group:
    * (groupCol, n, slope_num, den, slope_ppm, intercept_ppm, slope,
    * intercept): the exact decimal numerator/denominator, the exact
    * integer parts-per-million renderings ([[fixedPointExact]] — the
    * gated columns; scale-proof BIGINTs bounded by 1e6·|slope|), and
    * the convenience doubles. Groups whose x is constant (den = 0)
    * emit nulls rather than a division error.
    */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = df.select(col(groupCol).as("__g"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(19,0)")).as("__sx"),
        sum(col("__y").cast("decimal(19,0)")).as("__sy"),
        sum((col("__x").cast("decimal(19,0)") * col("__x"))
          .cast("decimal(38,0)")).as("__sxx"),
        sum((col("__x").cast("decimal(19,0)") * col("__y"))
          .cast("decimal(38,0)")).as("__sxy"))
    sums.select(col("__g").as(groupCol), col("n"),
        expr(s"CAST(n AS $dec) * __sxy - CAST(__sx AS $dec) * __sy")
          .cast("decimal(38,0)").as("slope_num"),
        expr(s"CAST(n AS $dec) * __sxx - CAST(__sx AS $dec) * __sx")
          .cast("decimal(38,0)").as("den"),
        expr(s"CAST(__sy AS $dec) * __sxx - CAST(__sx AS $dec) * __sxy")
          .cast("decimal(38,0)").as("__inum"))
      .withColumn("slope_ppm",
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("slope_num"), col("den"))))
      .withColumn("intercept_ppm",
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__inum"), col("den"))))
      .withColumn("slope",
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(col("slope_num").cast("double") /
            col("den").cast("double"), 6)))
      .withColumn("intercept",
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(col("__inum").cast("double") /
            col("den").cast("double"), 6)))
      .select(col(groupCol), col("n"), col("slope_num"), col("den"),
        col("slope_ppm"), col("intercept_ppm"),
        col("slope"), col("intercept"))
  }

  /** Spearman rank correlation between two columns, tie-broken into a
    * full permutation by `idCol` (both engines then compute IDENTICAL
    * integer ranks — the deterministic-rank contract every exact-rank
    * operator here rides). With permutation ranks the classic closed
    * form is exact rational:
    *   rho = 1 - 6*sum(d^2) / (n*(n^2-1)),  d = rank_x - rank_y,
    * rendered as rho_ppm = ppm((n(n^2-1) - 6*sum d^2) / (n(n^2-1))).
    * One row: (n, d2_sum, rho_ppm); n < 2 renders NULL.
    *
    * Scale: both rankings are [[GroupRank.withRankAndCount]] — never a
    * one-task global window; the d^2 reduction is a single pass. d^2 sums in decimal(38,0)
    * (sum d^2 <= n^3/3: safe far past 1e10 rows).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(col(idCol).as("__id"), col(xCol).as("__x"),
        col(yCol).as("__y"))
    val rx = GroupRank.withRankAndCount(base, Nil,
      Seq(col("__x").asc, col("__id").asc), "__rx", "__n")
    val rxy = GroupRank.withRankAndCount(rx, Nil,
      Seq(col("__y").asc, col("__id").asc), "__ry", "__n2")
    val sums = rxy
      .select((((col("__rx") - col("__ry")).cast("decimal(19,0)") *
          (col("__rx") - col("__ry"))).cast(dec)).as("__d2"),
        col("__n"))
      .groupBy(col("__n"))
      .agg(sum(col("__d2")).cast(dec).as("__d2s"))
    sums.select(col("__n").as("n"), col("__d2s").cast("long").as("d2_sum"),
        expr(s"CAST(__n AS $dec) * (CAST(__n AS $dec) * __n - 1)")
          .cast(dec).as("__den"),
        (expr(s"CAST(__n AS $dec) * (CAST(__n AS $dec) * __n - 1)").cast(dec)
          - lit(6).cast(dec) * col("__d2s")).cast(dec).as("__num"))
      .select(col("n"), col("d2_sum"),
        when(col("n") < 2L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__num"), col("__den")))
          .as("rho_ppm"))
  }

  /** Lag-1 autoregression over an ordered integer series (the
    * first-order autocorrelation readout as an OLS slope of x_{t+1} on
    * x_t — exact rational, no sqrt, the no-libm discipline): pairs via
    * lag over `orderCol`, then the [[groupOls]] normal equations. One
    * row: (n_pairs, sx, sy, sxy, sxx, slope_ppm); a constant or
    * too-short series renders NULL. The window rides a BOUNDED ordered
    * domain (calendar days, window starts — never rows), the house
    * contract for unpartitioned windows.
    */
  def lagSlope(df: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val pairs = df.select(col(orderCol).as("__o"),
        col(valueCol).cast("long").as("__y"))
      .withColumn("__x", lag(col("__y"), 1).over(w))
      .filter(col("__x").isNotNull)
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum((col("__x").cast("decimal(19,0)") * col("__y")).cast(dec))
          .cast(dec).as("__sxy"),
        sum((col("__x").cast("decimal(19,0)") * col("__x")).cast(dec))
          .cast(dec).as("__sxx"))
      .select(col("n_pairs"), col("sx"), col("sy"),
        col("__sxy").cast("long").as("sxy"),
        col("__sxx").cast("long").as("sxx"),
        expr(s"CAST(n_pairs AS $dec) * __sxy - CAST(sx AS $dec) * sy")
          .cast(dec).as("__num"),
        expr(s"CAST(n_pairs AS $dec) * __sxx - CAST(sx AS $dec) * sx")
          .cast(dec).as("__den"))
      .select(col("n_pairs"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__num"), col("__den")))
          .as("slope_ppm"))
  }

  /** 2x2 proportion test — the A/B readout: conversion counts per
    * variant and the chi-square statistic in its exact 2x2 closed form
    * chi2 = N·(ad - bc)² / ((a+b)(c+d)(a+c)(b+d)) (= z² of the
    * two-proportion z-test), one exact rational rendered in ppm.
    * Rows outside both variants are ignored; a degenerate margin
    * (either variant empty, or outcomes all-true/all-false) renders
    * NULL. One row: (n_a, n_b, conv_a, conv_b, rate_a_ppm,
    * rate_b_ppm, chi2_ppm).
    *
    * Scale: one partial-aggregable pass; decimal(38,0) clears the
    * four-margin product.
    */
  def abTest(df: DataFrame, aPred: Column, bPred: Column,
      converted: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = df
      .select(when(aPred, 1L).otherwise(0L).as("__ia"),
        when(bPred, 1L).otherwise(0L).as("__ib"),
        when(converted, 1L).otherwise(0L).as("__c"))
      .filter(col("__ia") === 1L || col("__ib") === 1L)
      .agg(sum(col("__ia")).as("n_a"), sum(col("__ib")).as("n_b"),
        sum(col("__ia") * col("__c")).as("conv_a"),
        sum(col("__ib") * col("__c")).as("conv_b"))
    // a = conv_a, b = n_a - conv_a, c = conv_b, d = n_b - conv_b
    sums.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        when(col("n_a") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("conv_a"), col("n_a")))
          .as("rate_a_ppm"),
        when(col("n_b") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("conv_b"), col("n_b")))
          .as("rate_b_ppm"),
        expr(s"""CAST((CAST(n_a AS $dec) + n_b) *
          (CAST(conv_a AS $dec) * (n_b - conv_b) -
           CAST(conv_b AS $dec) * (n_a - conv_a)) *
          (CAST(conv_a AS $dec) * (n_b - conv_b) -
           CAST(conv_b AS $dec) * (n_a - conv_a)) AS $dec)""")
          .as("__num"),
        expr(s"""CAST(CAST(n_a AS $dec) * n_b *
          (CAST(conv_a AS $dec) + conv_b) *
          (CAST(n_a AS $dec) - conv_a + n_b - conv_b) AS $dec)""")
          .as("__den"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a_ppm"), col("rate_b_ppm"),
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__num"), col("__den")))
          .as("chi2_ppm"))
  }

  /** Cumulative Poisson(1) inverse-CDF cutoffs in ppm — the weight
    * ladder of the POISSON BOOTSTRAP (each resample gives every row an
    * independent Poisson(1) multiplicity; Chamandy et al., the
    * map-reduce bootstrap: no resample ever needs the full dataset in
    * one place). Fixed literals shared with the oracle SQL; the tail
    * past 8 (cumulative 999999 ppm) collapses to weight 9.
    */
  private[graft] val PoissonCumPpm: Seq[Long] = Seq(367879L, 735759L,
    919699L, 981012L, 996340L, 999406L, 999917L, 999990L, 999999L)

  /** Percentile-bootstrap confidence interval for the mean of an
    * integer column, fully DETERMINISTIC: replicate `b`'s weight for
    * row `id` is the Poisson(1) inverse CDF at the engine-shared hash
    * u(id·reps + b) — so reruns, engines, and cluster layouts agree on
    * every resample, and the whole bootstrap is one map-only fan-out
    * (reps rows per input row) plus a reps-sized aggregate. The CI is
    * the (loRank, hiRank) order statistics of the replicate means
    * (exact ppm renderings; an empty replicate sorts first as NULL).
    * One row: (b_reps, point_ppm, lo_ppm, hi_ppm).
    *
    * Scale: the fan-out IS the Poisson bootstrap's documented cost
    * (reps× map-side rows, partial-aggregable to a reps-sized table);
    * nothing is corpus-keyed, no resample materializes.
    */
  def poissonBootstrapCi(df: DataFrame, valueCol: String, idCol: String,
      reps: Int = 64, loRank: Int = 2, hiRank: Int = 63): DataFrame = {
    require(reps >= 2, s"reps must be >= 2, got $reps")
    require(1 <= loRank && loRank < hiRank && hiRank <= reps,
      s"need 1 <= loRank < hiRank <= reps, got $loRank/$hiRank/$reps")
    val base = df.select(col(idCol).cast("long").as("__id"),
      col(valueCol).cast("long").as("__x"))
    val bs = broadcast(df.sparkSession.range(reps)
      .select(col("id").as("__b")))
    val u = pmod(Sampling.hashOrder(col("__id") * reps + col("__b")),
      lit(1000000L))
    val w = PoissonCumPpm.zipWithIndex.foldRight(
        lit(PoissonCumPpm.size.toLong)) { case ((cum, k), els) =>
      when(u < cum, k.toLong).otherwise(els)
    }
    val means = base.crossJoin(bs)
      .select(col("__b"), w.as("__w"), col("__x"))
      .groupBy(col("__b"))
      .agg(sum((col("__w").cast("decimal(19,0)") * col("__x"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__s"),
        sum(col("__w")).as("__n"))
      .select(col("__b"),
        when(col("__n") === 0, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__s"), col("__n")))
          .as("__m"))
    val wRank = Window.orderBy(col("__m").asc_nulls_first, col("__b").asc)
    val ranked = means.withColumn("__rk", row_number().over(wRank))
    val point = base.agg(count(lit(1)).as("__c"), sum(col("__x")).as("__t"))
      .select(when(col("__c") === 0, lit(null).cast("long"))
        .otherwise(fixedPointExact(col("__t"), col("__c")))
        .as("point_ppm"))
    point
      .crossJoin(broadcast(ranked.filter(col("__rk") === loRank)
        .select(col("__m").as("lo_ppm"))))
      .crossJoin(broadcast(ranked.filter(col("__rk") === hiRank)
        .select(col("__m").as("hi_ppm"))))
      .select(lit(reps.toLong).as("b_reps"), col("point_ppm"),
        col("lo_ppm"), col("hi_ppm"))
  }

  /** Welch's two-sample t statistic, SQUARED — the unequal-variance
    * mean-difference test in the engine's sqrt-free discipline (t² is
    * the monotone equivalent for any fixed df, and F(1, df) = t²):
    *
    *   t² = (S_a·n_b - S_b·n_a)² · (n_a-1)(n_b-1) / den,
    *   den = (n_a·SS_a - S_a²)·n_b²(n_b-1) + (n_b·SS_b - S_b²)·n_a²(n_a-1)
    *
    * — the classic form with every division cleared, so the statistic
    * is ONE exact rational over integer sums (S = Σx, SS = Σx²),
    * rendered in exact ppm. Both-degenerate inputs (zero pooled
    * variance or a side with n < 2) render NULL. One row:
    * (n_a, n_b, mean_a_ppm, mean_b_ppm, t2_ppm).
    *
    * Scale: one partial-aggregable pass over the filtered frame;
    * decimal(38,0) clears the cleared-denominator products (valid to
    * ~1e9 rows × 1e6 values — the documented wide-sum audit).
    */
  def welchT2(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    momentSums(df, valueCol, aPred, bPred)
      .select(Seq(col("na"), col("nb")) ++ meanPpms ++ Seq(
        expr(s"""CAST((CAST(na AS $dec) * __ssa -
            CAST(__sa AS $dec) * __sa) *
          (CAST(nb AS $dec) * nb * (nb - 1)) +
          (CAST(nb AS $dec) * __ssb - CAST(__sb AS $dec) * __sb) *
          (CAST(na AS $dec) * na * (na - 1)) AS $dec)""").as("__den"),
        expr(s"""CAST((CAST(__sa AS $dec) * nb - CAST(__sb AS $dec) * na)
          * (CAST(__sa AS $dec) * nb - CAST(__sb AS $dec) * na)
          * (CAST(na - 1 AS $dec) * (nb - 1)) AS $dec)""").as("__num")): _*)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("mean_a_ppm"), col("mean_b_ppm"),
        when(col("na") < 2 || col("nb") < 2 || col("__den") <= 0,
            lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__num"), col("__den")))
          .as("t2_ppm"))
  }

  /** ODDS RATIO of a binary outcome between two exposure groups, with
    * the Haldane-Anscombe-corrected log-domain Wald 95% CI — the
    * ablation/cohort card ("is group A more likely to pass the gate
    * than group B, and does the interval exclude 1?"): from the 2x2
    * table (a, b, c, d) = (A-pass, A-fail, B-pass, B-fail),
    *
    *   OR = a·d / (b·c)   (exact milli rational; NULL if b·c = 0),
    *   log2 OR* = log2q((2a+1)(2d+1)) − log2q((2b+1)(2c+1))
    *   SE²(ln OR*) = Σ 2/(2x+1) over the four cells
    *   CI = log2 OR* ± 1.96·log2(e)·SE   (log2 q units)
    *
    * — the +1/2 correction lands as EXACT integers by doubling every
    * cell ((x+1/2) → 2x+1), the SE² renders at 10^12 scale so
    * [[isqrt]] gives 10^6·SE directly, and the 1.96·log2(e)·2^16
    * constant is the shared integer 185315. A CI that stays above (or
    * below) zero in the log domain is the significance read — no
    * p-value machinery, no libm.
    * Output: one row (a, b, c, d, or_milli, lor2_q, ci_lo2_q,
    * ci_hi2_q).
    *
    * Scale: one partial-aggregable pass over the predicates.
    */
  def oddsRatio(df: DataFrame, exposurePred: Column,
      outcomePred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(
      when(exposurePred, 1L).otherwise(0L).as("__e"),
      when(outcomePred, 1L).otherwise(0L).as("__o"))
      .agg(sum(col("__e") * col("__o")).as("a"),
        sum(col("__e") * (lit(1L) - col("__o"))).as("b"),
        sum((lit(1L) - col("__e")) * col("__o")).as("c"),
        sum((lit(1L) - col("__e")) * (lit(1L) - col("__o"))).as("d"))
    val lg = graft.plans.FixLog.log2qCol _
    val lor = lg((lit(2L) * col("a") + 1L) * (lit(2L) * col("d") + 1L)) -
      lg((lit(2L) * col("b") + 1L) * (lit(2L) * col("c") + 1L))
    val se2 = Seq("a", "b", "c", "d").map(x =>
      fixedPointExact(lit(2L), lit(2L) * col(x) + 1L,
        scale = 1000000000000L)).reduce(_ + _)
    cells
      // se2 lands behind a projection boundary BEFORE isqrt/the ppm
      // rendering touch it: Column composition copies subtrees, so
      // isqrt(se2) (se2 x4) inside fixedPointExact (num x3) builds a
      // multi-thousand-node expression the ANALYZER re-walks on every
      // run — measured 1.8 s/run of pure driver time on a 0.05 s job.
      // Behind the boundary each reuse is one attribute reference;
      // the arithmetic (and the gated integers) are unchanged.
      .select(col("a"), col("b"), col("c"), col("d"),
        when(col("b") * col("c") === 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("a").cast(dec) * col("d"),
            col("b").cast(dec) * col("c"), scale = 1000L))
          .as("or_milli"),
        lor.as("lor2_q"),
        se2.as("__se2"))
      .select(col("a"), col("b"), col("c"), col("d"), col("or_milli"),
        col("lor2_q"),
        fixedPointExact(isqrt(col("__se2")) * lit(185315L),
          lit(1000000L), scale = 1L).as("__dq"))
      .select(col("a"), col("b"), col("c"), col("d"), col("or_milli"),
        col("lor2_q"),
        (col("lor2_q") - col("__dq")).as("ci_lo2_q"),
        (col("lor2_q") + col("__dq")).as("ci_hi2_q"))
  }

  /** MANTEL-HAENSZEL pooled odds ratio across strata (Mantel &
    * Haenszel 1959) — the confounder-adjusted companion of
    * [[oddsRatio]]: when the exposure mix differs by stratum (source,
    * domain, date), the crude 2x2 OR can invert against every stratum
    * (Simpson's paradox); MH pools the per-stratum tables as
    *
    *   OR_MH = Σ_i a_i·d_i/n_i  /  Σ_i b_i·c_i/n_i
    *
    * weighting each stratum by its size. Exact pipeline: the two sums
    * render per stratum in ppm ([[fixedPointExact]] — one documented
    * rounding layer per stratum, replayed by the oracle), the ratio in
    * milli. Reported beside the crude OR so the paradox is VISIBLE:
    * (or_crude_milli, or_mh_milli) disagreeing is the finding.
    * Strata with n = 0 cannot occur (they'd have no rows); a zero
    * pooled denominator renders NULL.
    * Output: one row (n_strata, or_crude_milli, or_mh_milli).
    *
    * Scale: one (stratum, exposure, outcome) count aggregation —
    * stratum-domain-sized, partial-aggregable.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposurePred: Column, outcomePred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(col(stratumCol).as("__st"),
        when(exposurePred, 1L).otherwise(0L).as("__e"),
        when(outcomePred, 1L).otherwise(0L).as("__o"))
      .groupBy(col("__st"))
      .agg(sum(col("__e") * col("__o")).as("__a"),
        sum(col("__e") * (lit(1L) - col("__o"))).as("__b"),
        sum((lit(1L) - col("__e")) * col("__o")).as("__c"),
        sum((lit(1L) - col("__e")) * (lit(1L) - col("__o"))).as("__d"))
      .withColumn("__n",
        col("__a") + col("__b") + col("__c") + col("__d"))
    cells.agg(count(lit(1)).as("n_strata"),
        sum(col("__a")).as("__sa"), sum(col("__b")).as("__sb"),
        sum(col("__c")).as("__sc"), sum(col("__d")).as("__sd"),
        sum(fixedPointExact(col("__a").cast(dec) * col("__d"),
          col("__n"))).as("__mhn"),
        sum(fixedPointExact(col("__b").cast(dec) * col("__c"),
          col("__n"))).as("__mhd"))
      .select(col("n_strata"),
        when(col("__sb") * col("__sc") === 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__sa").cast(dec) * col("__sd"),
            col("__sb").cast(dec) * col("__sc"), scale = 1000L))
          .as("or_crude_milli"),
        when(col("__mhd") === 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("__mhn"), col("__mhd"),
            scale = 1000L)).as("or_mh_milli"))
  }

  /** ENERGY DISTANCE (Székely & Rizzo 2004) between the `valueCol`
    * distributions of two row sets — the distribution-difference
    * metric beside KS (sup-norm), Wasserstein (transport cost) and MMD
    * (kernel mean): E² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|, zero iff the
    * distributions are equal, sensitive to ALL moments where KS
    * saturates on the CDF gap. Exact: every pairwise-|difference| sum
    * collapses to cumulative count/value sums over the SORTED DISTINCT
    * VALUE DOMAIN (the binned-KS window discipline — never row-sized
    * windows), the three sums combine over the common n_a²·n_b²
    * denominator, and the statistic renders as the exact milli integer
    * (value units). Self-pairs contribute zero, matching the
    * independent-copies convention with n² denominators.
    * Output: one row (n_a, n_b, e_milli); either side empty → NULL.
    *
    * Scale: one value-domain count aggregation + domain-bounded
    * cumulative windows + one fold — the wasserstein1 shape.
    */
  def energyDistance(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = valueCounts(df, valueCol, aPred, bPred)
    val w = upTo("__v")
    val cum = counts
      .withColumn("__qa", sum(col("__ca")).over(w))
      .withColumn("__qb", sum(col("__cb")).over(w))
      .withColumn("__ra", sum((col("__ca") * col("__v")).cast(dec)).over(w))
      .withColumn("__rb", sum((col("__cb") * col("__v")).cast(dec)).over(w))
    // Totals via direct sums over the value-domain counts — NOT max of
    // the running sum: cumsum(c*v) is monotone only for nonnegative v,
    // so a signed value domain would make max(__ra) != total and
    // silently corrupt e_milli. Count cumsums (__qa/__qb) stay monotone
    // either way, but both totals come from the same cheap aggregate.
    val tot = broadcast(counts.agg(sum(col("__ca")).as("__na2"),
      sum(col("__cb")).as("__nb2"),
      sum((col("__ca") * col("__v")).cast(dec)).cast(dec).as("__rat"),
      sum((col("__cb") * col("__v")).cast(dec)).cast(dec).as("__rbt")))
    // Σ_j c_j·|v_i − v_j| = v·Q − R (at-or-below) + (Rt − R) − v·(Nt − Q)
    def absSum(q: Column, r: Column, nt: Column, rt: Column): Column =
      (col("__v").cast(dec) * q - r) + (rt - r) -
        col("__v").cast(dec) * (nt - q)
    val sums = cum.crossJoin(tot)
      .select(
        (col("__ca").cast(dec) *
          absSum(col("__qb"), col("__rb"), col("__nb2"), col("__rbt")))
          .as("__tab"),
        (col("__ca").cast(dec) *
          absSum(col("__qa"), col("__ra"), col("__na2"), col("__rat")))
          .as("__taa"),
        (col("__cb").cast(dec) *
          absSum(col("__qb"), col("__rb"), col("__nb2"), col("__rbt")))
          .as("__tbb"))
      .agg(coalesce(sum(col("__tab")), lit(0).cast(dec)).as("__sab"),
        coalesce(sum(col("__taa")), lit(0).cast(dec)).as("__saa"),
        coalesce(sum(col("__tbb")), lit(0).cast(dec)).as("__sbb"))
    tot.crossJoin(sums)
      .select(col("__na2").as("n_a"), col("__nb2").as("n_b"),
        when(col("__na2").isNull || col("__nb2").isNull ||
            col("__na2") === 0L || col("__nb2") === 0L,
          lit(null).cast("long"))
          .otherwise(fixedPointExact(
            lit(2).cast(dec) * col("__sab") * col("__na2") * col("__nb2")
              - col("__saa") * col("__nb2") * col("__nb2")
              - col("__sbb") * col("__na2") * col("__na2"),
            col("__na2").cast(dec) * col("__na2") *
              col("__nb2") * col("__nb2"),
            scale = 1000L)).as("e_milli"))
  }

  /** CRONBACH'S ALPHA (Cronbach 1951) over a battery of per-row
    * integer item scores — the measurement-theory card for the quality
    * suite: do the sub-scores measure ONE construct (α near 1, safe to
    * sum into a composite gate) or disagree (α low, a composite
    * threshold mixes incompatible signals)?
    *
    *   α = k/(k−1) · (1 − Σ_i var_i / var_total)
    *
    * Raw covariance alpha with population variances; since every
    * variance is (n·ss − s²)/n², the n² cancels and
    * α = k·(D − N) / ((k−1)·D) with N = Σ_i (n·ss_i − s_i²) and
    * D = n·ss_t − s_t² over the rowwise total — ONE exact decimal
    * rational from one aggregation pass, rendered in milli. Zero
    * total variance (constant battery) renders NULL.
    * Output: one row (n, k, alpha_milli).
    */
  def cronbachAlpha(df: DataFrame, items: Seq[String]): DataFrame = {
    require(items.size >= 2, s"need >= 2 items, got ${items.size}")
    val dec = "decimal(38,0)"
    val k = items.size
    val withTotal = df.select(
      items.map(i => col(i).cast("long").as(s"__i_$i")) :+
        items.map(i => col(i).cast("long")).reduce(_ + _).as("__t0"): _*)
    val aggs = Seq(count(lit(1)).as("__n0")) ++
      items.flatMap(i => Seq(
        sum(col(s"__i_$i")).as(s"__s_$i"),
        sum(col(s"__i_$i").cast("decimal(19,0)") * col(s"__i_$i"))
          .cast(dec).as(s"__q_$i"))) ++
      Seq(sum(col("__t0")).as("__st"),
        sum(col("__t0").cast("decimal(19,0)") * col("__t0")).cast(dec)
          .as("__qt"))
    val s = withTotal.agg(aggs.head, aggs.tail: _*)
    val itemVarNum = items.map(i =>
      col("__n0").cast(dec) * col(s"__q_$i") -
        col(s"__s_$i").cast(dec) * col(s"__s_$i")).reduce(_ + _)
    val totVarNum = col("__n0").cast(dec) * col("__qt") -
      col("__st").cast(dec) * col("__st")
    s.select(col("__n0").as("n"), lit(k.toLong).as("k"),
      when(totVarNum <= 0, lit(null).cast("long"))
        .otherwise(fixedPointExact(
          lit(k.toLong).cast(dec) * (totVarNum - itemVarNum),
          lit((k - 1).toLong).cast(dec) * totVarNum,
          scale = 1000L)).as("alpha_milli"))
  }

  /** COHEN'S d effect size between two row sets — the magnitude
    * companion of [[welchT2]]'s significance test (a huge corpus makes
    * any difference "significant"; d says whether it MATTERS):
    * d = (μ_a − μ_b) / s_p with the pooled standard deviation
    * s_p² = ((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2). Exact pipeline:
    * raw decimal moment sums, pooled variance rendered at 10^12 scale
    * (so its [[isqrt]] is the ppm-scaled σ directly), means in ppm,
    * d in milli-units from the gated integers — three documented
    * rounding layers, each replayed by the oracle. Degenerate inputs
    * (a side under 2 rows, zero pooled variance) render NULL.
    * Output: one row (n_a, n_b, mean_a_ppm, mean_b_ppm, sp_ppm,
    * d_milli).
    *
    * Scale: one partial-aggregable pass (the welchT2 shape).
    */
  def cohensD(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    momentSums(df, valueCol, aPred, bPred)
      .select(Seq(col("na"), col("nb")) ++ meanPpms ++ Seq(
        expr(s"""CAST((CAST(na AS $dec) * __ssa -
            CAST(__sa AS $dec) * __sa) * nb +
          (CAST(nb AS $dec) * __ssb - CAST(__sb AS $dec) * __sb) * na
          AS $dec)""").as("__pnum"),
        expr(s"""CAST(CAST(na AS $dec) * nb * (na + nb - 2)
          AS $dec)""").as("__pden")): _*)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("mean_a_ppm"), col("mean_b_ppm"),
        when(col("na") < 2 || col("nb") < 2 || col("__pnum") < 0,
            lit(null).cast("long"))
          .otherwise(isqrt(fixedPointExact(col("__pnum"), col("__pden"),
            scale = 1000000000000L))).as("sp_ppm"))
      .withColumn("d_milli",
        when(col("sp_ppm").isNull || col("sp_ppm") === 0L,
          lit(null).cast("long"))
          .otherwise(fixedPointExact(
            col("mean_a_ppm") - col("mean_b_ppm"), col("sp_ppm"),
            scale = 1000L)))
  }

  /** One-sided (upper) CUSUM control chart over an ordered integer
    * series — sequential change detection for pipeline monitoring
    * (ingest-volume surges, quality-score drift): the classic
    * recurrence S_t = max(0, S_{t-1} + x_t - k) taken in its CLOSED
    * FORM, S_t = P_t - min(0, min_{j<=t} P_j) with P the running sum
    * of (x - k) — so both engines compute it with two windows over the
    * bounded ordered domain (calendar days, window starts) instead of
    * a row recurrence. The reference k is the floored global mean
    * (sum div count, broadcast 1-row); the alarm threshold is
    * `hMult`·k. All arithmetic exact integer.
    * Output per input row: (orderCol, valueCol, cusum, alarm).
    */
  def cusum(df: DataFrame, orderCol: String, valueCol: String,
      hMult: Long = 2L): DataFrame = {
    require(hMult >= 1, s"hMult must be >= 1, got $hMult")
    val base = df.select(col(orderCol).as("__o"),
      col(valueCol).cast("long").as("__x"))
    val ref = broadcast(base
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__c"))
      .select(expr("__s div __c").as("__k")))
    val w = Window.orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.crossJoin(ref)
      .withColumn("__p", sum(col("__x") - col("__k")).over(w))
      .withColumn("__m", least(lit(0L), min(col("__p")).over(w)))
      .select(col("__o").as(orderCol), col("__x").as(valueCol),
        (col("__p") - col("__m")).as("cusum"),
        (col("__p") - col("__m") > col("__k") * hMult).as("alarm"))
  }

  /** Kendall's tau-a rank correlation over a BOUNDED key domain —
    * the concordance view of monotone association next to [[spearman]]
    * (which compares rank positions; tau counts order agreements and
    * is the standard "did the two metrics rank the mixture the same
    * way" readout for source/language/bucket tables). All K·(K-1)/2
    * unordered key pairs are classified exactly: concordant
    * (sgn(dx)·sgn(dy) = +1), discordant (-1), or tied (either delta
    * 0); tau_a = (C - D) / n_pairs in exact ppm.
    *
    * CONTRACT: `keyCol`'s domain must be mixture-sized (sources,
    * languages, buckets — the engine's bounded-domain rule); the pair
    * build is a broadcast nested loop over that domain, aggregate
    * data by construction. For row-scale monotone association use
    * [[spearman]], which is O(n log n) by [[GroupRank]].
    * Output: (n_pairs, concordant, discordant, tau_ppm); an empty or
    * single-key input yields n_pairs = 0 and a NULL tau.
    */
  def kendallTau(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val a = df.select(col(keyCol).as("__ka"),
      col(xCol).cast("long").as("__xa"), col(yCol).cast("long").as("__ya"))
    val b = df.select(col(keyCol).as("__kb"),
      col(xCol).cast("long").as("__xb"), col(yCol).cast("long").as("__yb"))
    val sgn = signum(col("__xb") - col("__xa")).cast("long") *
      signum(col("__yb") - col("__ya")).cast("long")
    a.join(broadcast(b), col("__ka") < col("__kb"))
      .select(sgn.as("__s"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("__s") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("concordant"),
        coalesce(sum(when(col("__s") === -1L, 1L).otherwise(0L)), lit(0L))
          .as("discordant"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        when(col("n_pairs") === 0L, lit(null).cast("long"))
          .otherwise(fixedPointExact(col("concordant") - col("discordant"),
            col("n_pairs"))).as("tau_ppm"))
  }

  /** Benford's-law first-digit ppm constants: log10(1 + 1/d) rounded to
    * the nearest ppm — they sum to exactly 1,000,000, so the expected
    * side is a proper integer distribution. Fixed literals shared with
    * the oracle SQL (the no-libm discipline: the log10 is baked in, not
    * computed).
    */
  private[graft] val BenfordPpm: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Benford's-law first-digit audit over a positive integer column —
    * the classic fabricated/truncated-data screen for financial and
    * count fields (naturally occurring multi-magnitude data follows
    * log10(1+1/d); uniform or invented data does not). The first digit
    * comes from the engine-portable integer decimal rendering (no
    * log10, no float formatting). Per occupied digit: observed count,
    * exact observed ppm, the Benford expectation, and the signed
    * excess. Non-positive values are excluded (Benford is defined on
    * magnitudes).
    * Output: (digit, n_obs, obs_ppm, exp_ppm, excess_ppm).
    *
    * Scale: one partial-aggregable 9-group count; the total joins back
    * as a broadcast 1-row aggregate.
    */
  def benford(df: DataFrame, intCol: String): DataFrame = {
    val counts = df.filter(col(intCol) > 0L)
      .select(substring(col(intCol).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).as("__n"))
    val exp = BenfordPpm.foldLeft(lit(null).cast("long")) {
      case (acc, (dg, ppm)) =>
        when(col("digit") === dg.toLong, lit(ppm)).otherwise(acc)
    }
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        fixedPointExact(col("n_obs"), col("__n")).as("obs_ppm"),
        exp.as("exp_ppm"))
      .withColumn("excess_ppm", col("obs_ppm") - col("exp_ppm"))
  }

  /** CUPED variance-reduced A/B effect (Deng, Xu, Kohavi & Walker,
    * WSDM 2013): the experiment metric Y is adjusted by the
    * pre-experiment covariate X — Ycv = Y − θ·X with θ = cov(X,Y)/var(X)
    * pooled over both arms — removing the variance X explains (the
    * workhorse sensitivity trick of large-scale experimentation).
    * `xCol`/`yCol` must be integer-valued (cents); θ is the exact
    * rational (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) REPORTED — and applied —
    * as its ppm quantization: the adjusted delta is defined as
    * Δ_raw − θ_ppm·Δx/10⁶, so both engines compose the identical
    * integers (composing the unrounded rational would gate a
    * denominator product neither engine can render; the θ quantization
    * shifts the estimate by < 10⁻⁶·Δx — far inside the estimator's own
    * noise). A constant covariate (var = 0) renders NULL θ and NULL
    * adjusted delta; an empty arm renders all-NULL effects.
    * One row: (n_a, n_b, theta_ppm, delta_raw_ppm, delta_cuped_ppm) —
    * deltas in the unit of `yCol` per 10⁶ (a − b).
    *
    * Scale: ONE partial-aggregable pass over the unit table; all
    * composition happens on the single aggregate row. decimal(38,0)
    * clears n·Σxy at 10⁹ units of 10⁶-cent sums (~10³⁰).
    */
  def cuped(df: DataFrame, aPred: Column, bPred: Column,
      xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val sums = df
      .select(when(aPred, 1L).otherwise(0L).as("__ia"),
        when(bPred, 1L).otherwise(0L).as("__ib"),
        x.as("__x"), y.as("__y"))
      .filter(col("__ia") === 1L || col("__ib") === 1L)
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("__x")).cast(dec).as("sx"),
        sum(col("__y")).cast(dec).as("sy"),
        sum(col("__x").cast(dec) * col("__x")).cast(dec).as("sxx"),
        sum(col("__x").cast(dec) * col("__y")).cast(dec).as("sxy"),
        sum(col("__ia")).cast(dec).as("n_a"),
        sum(col("__ib")).cast(dec).as("n_b"),
        sum(col("__ia") * col("__x")).cast(dec).as("sx_a"),
        sum(col("__ib") * col("__x")).cast(dec).as("sx_b"),
        sum(col("__ia") * col("__y")).cast(dec).as("sy_a"),
        sum(col("__ib") * col("__y")).cast(dec).as("sy_b"))
    sums
      .withColumn("__tnum",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast(dec))
      .withColumn("__tden",
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(dec))
      .withColumn("theta_ppm", when(col("__tden") > 0,
        fixedPointExact(col("__tnum"), col("__tden"))))
      .withColumn("__dynum",
        (col("sy_a") * col("n_b") - col("sy_b") * col("n_a")).cast(dec))
      .withColumn("__dxnum",
        (col("sx_a") * col("n_b") - col("sx_b") * col("n_a")).cast(dec))
      .withColumn("__dden", (col("n_a") * col("n_b")).cast(dec))
      .select(col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("theta_ppm"),
        when(col("__dden") > 0,
          fixedPointExact(col("__dynum"), col("__dden")))
          .as("delta_raw_ppm"),
        when(col("__dden") > 0 && col("theta_ppm").isNotNull,
          fixedPointExact(
            (lit(1000000L).cast(dec) * col("__dynum") -
              col("theta_ppm").cast(dec) * col("__dxnum")).cast(dec),
            (lit(1000000L).cast(dec) * col("__dden")).cast(dec)))
          .as("delta_cuped_ppm"))
  }

  /** Difference-in-differences — the 2×2 panel estimator of causal
    * effect under the parallel-trends assumption (Card & Krueger 1994):
    * DiD = (Ȳ_treated,post − Ȳ_treated,pre) − (Ȳ_control,post −
    * Ȳ_control,pre). `yCol` must be integer-valued (cents); each
    * within-group trend is ONE exact rational in ppm, and the reported
    * DiD is their integer difference (composing the four-cell rational
    * directly would need an n⁴ denominator product that overflows
    * decimal(38,0) at 10⁹-row cells; the per-trend ppm quantization
    * bounds the composition error at 2 ppm). Any empty cell renders the
    * dependent effects NULL. One row: (n_t_pre, n_t_post, n_c_pre,
    * n_c_post, mean_t_pre_ppm, mean_t_post_ppm, mean_c_pre_ppm,
    * mean_c_post_ppm, trend_t_ppm, trend_c_ppm, did_ppm).
    *
    * Scale: ONE partial-aggregable pass; composition on the single
    * aggregate row.
    */
  def diffInDiff(df: DataFrame, treatedPred: Column, postPred: Column,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val y = col(yCol).cast("long")
    def cell(t: Boolean, p: Boolean): Column =
      when(treatedPred === lit(t) && postPred === lit(p), 1L).otherwise(0L)
    val sums = df
      .select(cell(true, false).as("__tq"), cell(true, true).as("__tp"),
        cell(false, false).as("__cq"), cell(false, true).as("__cp"),
        y.as("__y"))
      .agg(sum(col("__tq")).cast(dec).as("n_tq"),
        sum(col("__tp")).cast(dec).as("n_tp"),
        sum(col("__cq")).cast(dec).as("n_cq"),
        sum(col("__cp")).cast(dec).as("n_cp"),
        sum(col("__tq") * col("__y")).cast(dec).as("s_tq"),
        sum(col("__tp") * col("__y")).cast(dec).as("s_tp"),
        sum(col("__cq") * col("__y")).cast(dec).as("s_cq"),
        sum(col("__cp") * col("__y")).cast(dec).as("s_cp"))
    def meanPpm(s: String, n: String): Column =
      when(col(n) > 0, fixedPointExact(col(s), col(n)))
    def trendPpm(sp: String, np: String, sq: String, nq: String): Column =
      when(col(np) > 0 && col(nq) > 0, fixedPointExact(
        (col(sp) * col(nq) - col(sq) * col(np)).cast(dec),
        (col(np) * col(nq)).cast(dec)))
    sums.select(
      col("n_tq").cast("long").as("n_t_pre"),
      col("n_tp").cast("long").as("n_t_post"),
      col("n_cq").cast("long").as("n_c_pre"),
      col("n_cp").cast("long").as("n_c_post"),
      meanPpm("s_tq", "n_tq").as("mean_t_pre_ppm"),
      meanPpm("s_tp", "n_tp").as("mean_t_post_ppm"),
      meanPpm("s_cq", "n_cq").as("mean_c_pre_ppm"),
      meanPpm("s_cp", "n_cp").as("mean_c_post_ppm"),
      trendPpm("s_tp", "n_tp", "s_tq", "n_tq").as("trend_t_ppm"),
      trendPpm("s_cp", "n_cp", "s_cq", "n_cq").as("trend_c_ppm"),
      (trendPpm("s_tp", "n_tp", "s_tq", "n_tq") -
        trendPpm("s_cp", "n_cp", "s_cq", "n_cq")).as("did_ppm"))
  }

  /** MANN–KENDALL trend test over an ordered series (Mann 1945;
    * Kendall 1975) — the distribution-free IS-there-a-trend companion
    * of [[theilSen]]'s how-steep: S = Σ_{i<j} sgn(x_j − x_i) over all
    * ordered pairs, with the tie-corrected variance
    * Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5). The squared
    * continuity-corrected statistic z² = 18·(|S|−1)² / (Var·18) is one
    * exact rational in ppm (compare against 3.84·10⁶ for two-sided
    * 5%); S = 0 renders z² = 0, zero variance renders NULL.
    * One row: (n_obs, s_stat, var18, z2_ppm).
    *
    * Scale: the pair join is |series|²-BOUNDED — the series is a
    * bounded-domain aggregate (days, buckets), never corpus rows; at
    * 10⁹-row grain use the O(n log n) rank form instead (documented
    * trade, same statistic).
    */
  def mannKendall(df: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val t = df.select(col(orderCol).as("__o"),
      col(valueCol).cast("long").as("__x"))
    val pairs = t.select(col("__o").as("__oa"), col("__x").as("__xa"))
      .join(t.select(col("__o").as("__ob"), col("__x").as("__xb")),
        col("__oa") < col("__ob"))
      .agg(coalesce(sum(signum(col("__xb") - col("__xa")).cast("long")),
        lit(0L)).as("s_stat"))
    val ties = t.groupBy(col("__x")).agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum((col("__t").cast(dec) * (col("__t") - 1) *
        (lit(2L) * col("__t") + 5)).cast(dec)), lit(0).cast(dec))
        .cast(dec).as("__tsum"),
        coalesce(sum(col("__t")), lit(0L)).as("n_obs"))
    pairs.crossJoin(broadcast(ties))
      .withColumn("__var18",
        ((col("n_obs").cast(dec) * (col("n_obs") - 1) *
          (lit(2L) * col("n_obs") + 5)).cast(dec) - col("__tsum"))
          .cast(dec))
      .select(col("n_obs"), col("s_stat"),
        col("__var18").cast("long").as("var18"),
        when(col("s_stat") === 0L, lit(0L))
          .when(col("__var18") > 0, fixedPointExact(
            (lit(18L).cast(dec) * (abs(col("s_stat")) - 1) *
              (abs(col("s_stat")) - 1)).cast(dec), col("__var18")))
          .as("z2_ppm"))
  }

  /** CLIFF'S DELTA effect size (Cliff 1993) — the ordinal dominance
    * companion of [[mannWhitneyU]]'s significance: δ = (#(a>b) −
    * #(a<b)) / (n_a·n_b) ∈ [−1, 1], computed from the same bounded
    * distinct-value cumulative scan (δ·n_a·n_b = 2·U_a − n_a·n_b, no
    * pair join). The reported magnitude band uses the Romano et al.
    * 2006 thresholds (0.147 / 0.33 / 0.474). One row: (n_a, n_b,
    * dominance, cliffs_ppm, magnitude) — NULL δ when either side is
    * empty.
    *
    * Scale: [[mannWhitneyU]]'s exact shape — value-domain-sized state.
    */
  def cliffsDelta(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // #(a>b) − #(a<b) = Σ_v c_a(v)·(C_b_below(v) − (n_b − C_b_upto(v)))
    val cum = valueCounts(df, valueCol, aPred, bPred)
      .withColumn("__cbBelow", coalesce(sum(col("__cb")).over(w), lit(0L)))
    val agg = cum.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"),
      coalesce(sum((col("__ca").cast(dec) *
        (lit(2L) * col("__cbBelow") + col("__cb"))).cast(dec)),
        lit(0).cast(dec)).cast(dec).as("__winTerm"))
    // Σ c_a·(2·C_b_below + t_b) = 2·#(a>b) + #ties = 2·U_a, so
    // dominance = 2·U_a − n_a·n_b
    agg
      .withColumn("__dom", (col("__winTerm") -
        (col("n_a").cast(dec) * col("n_b")).cast(dec)).cast(dec))
      .select(col("n_a"), col("n_b"),
        col("__dom").cast("long").as("dominance"),
        when(col("n_a") > 0 && col("n_b") > 0, fixedPointExact(
          col("__dom"), (col("n_a").cast(dec) * col("n_b")).cast(dec)))
          .as("cliffs_ppm"))
      .withColumn("magnitude",
        when(col("cliffs_ppm").isNull, lit(null).cast("string"))
          .when(abs(col("cliffs_ppm")) < 147000L, lit("negligible"))
          .when(abs(col("cliffs_ppm")) < 330000L, lit("small"))
          .when(abs(col("cliffs_ppm")) < 474000L, lit("medium"))
          .otherwise(lit("large")))
  }

  /** Post-stratified treatment effect (ATT form) — the covariate-
    * adjustment that needs no model: within each stratum of a
    * confounder the arms are compared directly, and the per-stratum
    * differences average with TREATED weights (Cochran 1968;
    * the standardization estimator). Strata missing either arm
    * contribute nothing (no counterfactual — the overlap condition
    * made explicit). `yCol` must be integer-valued (cents). Per-stratum
    * differences are exact rationals in ppm; the ATT composes them with
    * integer weights, one more half-up rounding (the house ppm-
    * quantization contract — error ≤ 1 ppm per level). The unadjusted
    * difference over the same rows rides along for contrast — their gap
    * IS the measured confounding.
    * One row: (n_strata_used, n_t_used, att_ppm, raw_diff_ppm).
    *
    * Scale: one partial-aggregable groupBy(stratum) — stratum-domain-
    * sized state — then one aggregate over the stratum table.
    */
  def stratifiedEffect(df: DataFrame, treatedPred: Column,
      strataCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val y = col(yCol).cast("long")
    val perStratum = df
      .select(col(strataCol).as("__s"),
        when(treatedPred, 1L).otherwise(0L).as("__it"), y.as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__it")).cast(dec).as("n_t"),
        sum(lit(1L) - col("__it")).cast(dec).as("n_c"),
        sum(col("__it") * col("__y")).cast(dec).as("s_t"),
        sum((lit(1L) - col("__it")) * col("__y")).cast(dec).as("s_c"))
    val used = perStratum.filter(col("n_t") > 0 && col("n_c") > 0)
      .withColumn("diff_ppm", fixedPointExact(
        (col("s_t") * col("n_c") - col("s_c") * col("n_t")).cast(dec),
        (col("n_t") * col("n_c")).cast(dec)))
    val att = used.agg(count(lit(1)).as("n_strata_used"),
      sum(col("n_t")).cast(dec).as("__nt"),
      sum(col("n_t") * col("diff_ppm")).cast(dec).as("__wd"))
    val raw = perStratum.agg(sum(col("n_t")).cast(dec).as("__rnt"),
      sum(col("n_c")).cast(dec).as("__rnc"),
      sum(col("s_t")).cast(dec).as("__rst"),
      sum(col("s_c")).cast(dec).as("__rsc"))
    att.crossJoin(broadcast(raw))
      .select(col("n_strata_used"),
        col("__nt").cast("long").as("n_t_used"),
        when(col("__nt") > 0,
          fixedPointExact(col("__wd"), col("__nt"), scale = 1L))
          .as("att_ppm"),
        when(col("__rnt") > 0 && col("__rnc") > 0, fixedPointExact(
          (col("__rst") * col("__rnc") - col("__rsc") * col("__rnt"))
            .cast(dec),
          (col("__rnt") * col("__rnc")).cast(dec))).as("raw_diff_ppm"))
  }
}
