package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale design (100 TB): everything is expressed as explode → hash →
  * partial-aggregable groupBy → equi-join, so Spark's map-side combine and
  * AQE do the heavy lifting; there is no global sort and no driver-side
  * collection anywhere. Candidate generation (LSH banding / inverted gram
  * lists) caps posting-list length so hub keys can't produce quadratic
  * blowup.
  *
  * Two token-hash strategies:
  *  - `xxhash64(...)` (production): fully distributed, codegen'd, no
  *    dictionary needed. Used by the *Hashed variants.
  *  - rank-based token ids (oracle mode): a dictionary of distinct tokens
  *    numbered by lexicographic rank, so the DuckDB oracle can reproduce
  *    signatures exactly with pure integer arithmetic. The dictionary is a
  *    groupBy-distinct (scales) plus a row_number over token order — fine
  *    for bounded vocabularies; production pipelines use the hashed path.
  */
object Dedup {

  val MersennePrime: Long = 2147483647L // 2^31 - 1

  /** Tiny literal DataFrame without reflection-derived encoders (safe in
    * REPL/notebook classloaders where TypeTag resolution fails).
    */
  private[graft] def smallTable(spark: org.apache.spark.sql.SparkSession,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)],
      rows: Seq[Seq[Any]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.map(r => Row(r: _*)).asJava),
      schema)
  }

  /** Deterministic universal-hash parameters (a_j, b_j) for permutation j. */
  def permA(j: Int): Long = 1223L + 2741L * j + 37L * j * j
  def permB(j: Int): Long = 7919L + 104729L * j

  /** Arithmetic token id: rolling polynomial hash of the token's
    * characters (Text.charFingerprint). Per-row, shuffle-free, and
    * reproducible in plain SQL — the preferred id for oracle-checked
    * MinHash/SimHash at any scale (no dictionary, no global rank). For
    * maximum dispersion in production use xxhash64 instead.
    */
  def polyId(c: Column): Column = Text.charFingerprint(c)

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup: one representative row id per key (the smallest
    * `idCol`), with the group size. A hash groupBy — partial aggregation
    * on the map side, single shuffle on the key.
    */
  def exactGroups(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping whole representative rows (first by `orderCol`
    * within each key) — window form, one shuffle on the key.
    */
  def dedupRows(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------------
  // Token / shingle preparation
  // ------------------------------------------------------------------

  /** (id, token) rows: distinct tokens per document. */
  def docTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .distinct()

  /** (id, tid) rows: polynomial-hashed shingles, NOT deduplicated — the
    * minhash input. Dedup is pointless ahead of a min-aggregate (min over
    * a multiset equals min over its set), so this path has zero shuffles
    * before the final partial-aggregable groupBy. The hashed_shingles
    * generator fuses tokenize → shingle → hash into one compiled pass.
    */
  def docShingleIds(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol),
      graft.plans.TextExpressions.hashedShingles(col(textCol), n))

  /** Pairwise source-overlap matrix — the governance report behind
    * "which sources are re-crawls of each other": per unordered source
    * pair, the shared distinct shingle count and the Jaccard over each
    * side's shingle vocabulary. The FULL matrix emits (pairs with zero
    * shared grams included) — sources are mixture-sized, so the matrix
    * is bounded at |S|·(|S|−1)/2 rows whatever the corpus.
    *
    * Shape: one distinct over (source, tid) — corpus-sized, partial-
    * aggregable — then a per-tid self-join whose fan-out is bounded by
    * srcCap²: grams present in more than `srcCap` sources are DROPPED
    * from the pair stage (ubiquitous grams carry no discriminative
    * overlap signal — the dfCap hub-cut rationale; they still count in
    * each side's vocabulary size, so Jaccard stays honest about them
    * only in the denominator — documented estimator choice).
    */
  /** Session memo for the exact source-overlap matrix — built by both
    * q_source_overlap and the MinHash-calibration entry. Mixture²-sized
    * output; one shingle pass shared. */
  private val soMemo = new PlanMemo[DataFrame]

  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int, srcCap: Int = 1000): DataFrame = {
    require(srcCap >= 2, s"srcCap must be >= 2, got $srcCap")
    soMemo(docs, groupCol, textCol, n, srcCap) {
      val grams = docs.select(col(groupCol),
          graft.plans.TextExpressions.hashedShingles(col(textCol), n))
        .distinct()
      val sizes = grams.groupBy(col(groupCol))
        .agg(count(lit(1)).as("__sz"))
      val capped = grams.join(
        grams.groupBy(col("tid")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= srcCap).select(col("tid")),
        Seq("tid"))
      val shared = capped.select(col("tid"), col(groupCol).as("src_a"))
        .join(capped.select(col("tid"), col(groupCol).as("src_b")), Seq("tid"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
      val all = sizes.select(col(groupCol).as("src_a"), col("__sz").as("n_a"))
        .crossJoin(sizes.select(col(groupCol).as("src_b"), col("__sz").as("n_b")))
        .filter(col("src_a") < col("src_b"))
      all.join(shared, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
        .withColumn("jaccard",
          col("shared_grams").cast("double") /
            (col("n_a") + col("n_b") - col("shared_grams")).cast("double"))
        .localCheckpoint(true)
    }
  }

  /** Sketch estimate of [[sourceOverlap]]'s Jaccard matrix from ONE
    * MinHash signature per source (numHashes mins over the source's
    * shingle stream — no distinct, no per-gram pair join): the estimate
    * is the fraction of matching signature slots, the textbook unbiased
    * MinHash Jaccard estimator with stderr sqrt(J(1-J)/k). The pair
    * stage joins signatures on the permutation index — |S|²·k rows,
    * mixture-bounded whatever the corpus — where the exact matrix pays
    * a per-gram self-join over the full (source, gram) table.
    *
    * The trade: the exact matrix's shared-gram counts cost a
    * corpus-vocabulary shuffle; this costs one partial-aggregable min
    * per (source, permutation) and never touches gram pairs. Same
    * accepted-collision contract (poly-hashed shingles) as every
    * minhash operator here.
    */
  def sourceOverlapMinhash(docs: DataFrame, groupCol: String,
      textCol: String, n: Int, numHashes: Int = 64): DataFrame = {
    val grams = docs.select(col(groupCol),
      graft.plans.TextExpressions.hashedShingles(col(textCol), n))
    val sig = minhashSignature(grams, groupCol, col("tid"), numHashes)
    val a = sig.select(col(groupCol).as("src_a"), col("j"),
      col("mh").as("__ma"))
    val b = sig.select(col(groupCol).as("src_b"), col("j"),
      col("mh").as("__mb"))
    a.join(b, Seq("j"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("__ma") === col("__mb"), 1L).otherwise(0L))
        .as("matching_mins"))
      .withColumn("jaccard_est",
        col("matching_mins").cast("double") / lit(numHashes.toDouble))
  }

  /** Oracle-mode token dictionary: distinct tokens numbered by
    * lexicographic rank. Rank is computed with a distributed range-
    * partitioned sort + per-partition zipWithIndex (offsets from partition
    * sizes) — identical semantics to an unpartitioned row_number window
    * without its single-partition bottleneck, so the dictionary scales to
    * large vocabularies; the hashed variants below avoid ranking entirely.
    */
  def tokenDict(toks: DataFrame, tokCol: String = "tok"): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.select(col(tokCol)).distinct()
      .orderBy(col(tokCol))
      .select(col(tokCol).cast("string"))
      .as[String]
      .rdd
      .zipWithIndex()
      .map { case (t, i) => (t, i + 1L) }
      .toDF(tokCol, "tid")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** MinHash signatures in long form: (id, j, mh) for j in [0, numHashes).
    * `tokenId` must be a long column (rank id or hash). The numHashes
    * mins are computed as one aggregate row per id (one min column per
    * permutation, exploded to long form AFTER the fold): every token row
    * updates its group's numHashes buffer slots in the scan stage, where
    * the former perm-table cross join materialized numHashes ROWS per
    * token through the partial aggregate — a ×numHashes row fan-out on
    * the corpus-sized stream for the same arithmetic. Map-side
    * combinable either way; post-aggregate rows are |ids|·numHashes.
    */
  def minhashSignature(docTok: DataFrame, idCol: String, tokenId: Column,
      numHashes: Int): DataFrame = {
    // Materialize the token id ONCE per row: the (possibly expensive) id
    // expression feeds all numHashes hash lanes.
    val mins = (0 until numHashes).map { j =>
      min((col("__tid") * lit(permA(j)) + lit(permB(j))) % MersennePrime)
        .as(s"__mh$j")
    }
    docTok.select(col(idCol), tokenId.as("__tid"))
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), posexplode(
        array((0 until numHashes).map(j => col(s"__mh$j")): _*))
        .as(Seq("j", "mh")))
  }

  /** MinHash CALIBRATION card — per LSH candidate pair, the sketch's
    * Jaccard estimate (matching signature components / k) against the
    * EXACT shingle-set Jaccard, with the signed error: the
    * estimator-quality readout that justifies (or indicts) the
    * configured k before a corpus-wide dedup run trusts it. Rides the
    * same memoized shingle → signature → band chain as the dedup
    * entries, so the catalog pays no extra corpus pass; the exact side
    * touches only candidate pairs (LSH-bounded), never all pairs.
    * Output: (id_a, id_b, k_match, n_inter, n_union, est_ppm,
    * exact_ppm, err_ppm).
    */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sh = docShingleIds(docs, idCol, textCol, shingleN)
    val sig = minhashSignature(sh, idCol, col("tid"), numHashes)
    val pairs = lshCandidatePairs(lshBands(sig, idCol, rowsPerBand), idCol)
    val sa = sig.select(col(idCol).as("id_a"), col("j"),
      col("mh").as("__ma"))
    val sb = sig.select(col(idCol).as("id_b"), col("j"),
      col("mh").as("__mb"))
    val est = pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b", "j"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(when(col("__ma") === col("__mb"), 1L).otherwise(0L))
        .as("k_match"))
    // SET semantics for the exact side: the shingle generator emits
    // per-occurrence rows (min over a multiset = min over its set, so
    // the signature path never needs the distinct — Jaccard does)
    val ds = sh.select(col(idCol), col("tid")).distinct()
    val sizes = ds.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val ia = ds.select(col(idCol).as("id_a"), col("tid"))
    val ib = ds.select(col(idCol).as("id_b"), col("tid"))
    val inter = pairs.join(ia, Seq("id_a")).join(ib, Seq("id_b", "tid"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("__za")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("__zb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("k_match"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("__za") + col("__zb") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        Stats.fixedPointExact(col("k_match"), lit(numHashes.toLong))
          .as("est_ppm"))
      .withColumn("exact_ppm",
        when(col("n_union") === 0L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(col("n_inter"),
            col("n_union"))))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
  }

  /** Production MinHash: token ids from xxhash64 (no dictionary). The
    * shingle rows are NOT deduplicated — min over a multiset equals min
    * over its set, so a pre-distinct would shuffle the job's largest
    * intermediate for nothing (set semantics matter only to the Jaccard
    * paths).
    */
  def minhashSignatureHashed(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(Text.wordNgrams(Text.tokens(col(textCol)), shingleSize))
        .as("gram"))
    minhashSignature(sh, idCol, pmod(xxhash64(col("gram")), lit(MersennePrime)),
      numHashes)
  }

  /** LSH band values from long-form signatures: bands of `rowsPerBand`
    * consecutive hashes packed into one bigint
    * (band_val = sum(mh_j * 2^31^(j mod r))) — order-sensitive, collision-
    * safe for mh < 2^31 and r <= 2.
    */
  def lshBands(sig: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand <= 2, "band packing supports r <= 2 in one bigint")
    sig.withColumn("band", (col("j") / rowsPerBand).cast("int"))
      .withColumn("slot", col("j") % rowsPerBand)
      .groupBy(col(idCol), col("band"))
      .agg(sum(when(col("slot") === 0, col("mh")).otherwise(lit(0L)) * lit(2147483648L) +
           when(col("slot") === 1, col("mh")).otherwise(lit(0L))).as("band_val"))
  }

  /** Candidate pairs: documents sharing at least one LSH band bucket.
    * Bucket posting lists longer than `bucketCap` are dropped (degenerate
    * buckets — e.g. empty docs — would otherwise go quadratic).
    */
  /** Session memo ([[PlanMemo]]) for the banded LSH candidate set —
    * FOUR catalog entries (pair listing, near-dup clustering, canonical
    * selection, leakage-safe split) build the identical shingle →
    * signature → band → bucket-join chain; the memoized result is the
    * bounded candidate-pair artifact.
    */
  private val lshMemo = new PlanMemo[DataFrame]

  def lshCandidatePairs(bands: DataFrame, idCol: String,
      bucketCap: Int = DerivedCap.toInt): DataFrame = {
    val cap = resolveBucketCap(bucketCap, distinctIdCount(bands, idCol))
    lshMemo(bands, idCol, cap) {
      val w = Window.partitionBy(col("band"), col("band_val"))
      val capped = bands
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= cap)
        .drop("__n")
      val a = capped.select(col("band"), col("band_val"), col(idCol).as("id_a"))
      val b = capped.select(col("band"), col("band_val"), col(idCol).as("id_b"))
      a.join(b, Seq("band", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
        .localCheckpoint(true)
    }
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** SimHash fingerprints (`bits`-wide, default 16): per token occurrence,
    * hash to h, then each bit contributes +1/-1 to its lane; the
    * fingerprint sets bit k where the lane sum is positive. Bit extraction
    * uses floor(h / 2^k) % 2 — exact in double for h < 2^31, matching the
    * oracle's arithmetic.
    */
  def simhash(docTok: DataFrame, idCol: String, tokenId: Column,
      bits: Int = 16): DataFrame = {
    val spark = docTok.sparkSession
    val bitsDf = broadcast(smallTable(spark,
      Seq("k" -> org.apache.spark.sql.types.IntegerType,
        "pow2" -> org.apache.spark.sql.types.LongType),
      (0 until bits).map(k => Seq[Any](k, 1L << k))))
    docTok
      .select(col(idCol),
        ((tokenId * permA(0) + permB(0)) % MersennePrime).as("h"))
      .join(bitsDf)
      .select(col(idCol), col("k"), col("pow2"),
        when(floor(col("h") / col("pow2")) % 2 === 1, lit(1L))
          .otherwise(lit(-1L)).as("contrib"))
      .groupBy(col(idCol), col("k"), col("pow2"))
      .agg(sum(col("contrib")).as("lane"))
      .groupBy(col(idCol))
      .agg(sum(when(col("lane") > 0, col("pow2")).otherwise(lit(0L))).as("simhash"))
  }

  /** Scan-stage SimHash fingerprint of a text column: bit-identical to
    * `simhash(hashedShingles(text, 1), polyId)` but computed per row at
    * the scan — no |tokens|×bits lane shuffle, constant memory. This is
    * the production fingerprint path; the groupBy form above remains the
    * distributed-aggregation reference the oracle arithmetic mirrors.
    */
  def simhashScan(text: Column, bits: Int): Column =
    graft.plans.TextExpressions.simhashFp(text, bits, permA(0), permB(0),
      MersennePrime)

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash hamming distance <= `maxHamming`, blocked
    * by the pigeonhole principle: the `bits`-wide fingerprint splits into
    * maxHamming+1 contiguous chunks, and a pair within the hamming ball
    * differs in at most maxHamming bits, so it agrees EXACTLY on at least
    * one chunk. Candidates are the union of per-chunk equi-join buckets —
    * one shuffle on (chunk, value), linear for bounded bucket occupancy,
    * no all-pairs — then exact hamming verification on the (tiny)
    * candidate set. Chunk buckets longer than `bucketCap` are dropped
    * (degenerate near-constant fingerprints would otherwise go quadratic;
    * same rationale as lshCandidatePairs).
    * Output: (id_a, id_b, hd) with id_a < id_b.
    */
  /** Pigeonhole chunking of a `bits`-wide fingerprint into maxHamming+1
    * near-even contiguous chunks: (chunk index, 2^start divisor, 2^len
    * modulus) — chunk value = (fp / cp) % cmod in plain integer
    * arithmetic, exact and reproducible verbatim in the oracle's // and %
    * operators. Shared by simhashPairs and its oracle SQL so the blocking
    * can never drift between engines.
    */
  private[graft] def chunkSpec(bits: Int, maxHamming: Int): Seq[(Int, Long, Long)] = {
    val nChunks = maxHamming + 1
    val base = bits / nChunks
    val extra = bits % nChunks
    (0 until nChunks).map { k =>
      val len = base + (if (k < extra) 1 else 0)
      val start = (0 until k).map(j => base + (if (j < extra) 1 else 0)).sum
      (k, 1L << start, 1L << len)
    }
  }

  def simhashPairs(fps: DataFrame, idCol: String, fpCol: String, bits: Int,
      maxHamming: Int, bucketCap: Int = DerivedCap.toInt): DataFrame = {
    val cap = resolveBucketCap(bucketCap, distinctIdCount(fps, idCol))
    // Capped at 31, not 62: the simhash kernel's per-token hash is mod 2^31-1,
    // so fingerprint lanes above bit ~31 are constant zero. Wider widths
    // would make the upper pigeonhole chunks a single degenerate all-equal
    // bucket that bucketCap silently drops — voiding the hamming-ball
    // recall guarantee for pairs that agree only on those chunks.
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming")
    val spark = fps.sparkSession
    val chunksDf = broadcast(smallTable(spark,
      Seq("ck" -> org.apache.spark.sql.types.IntegerType,
        "cp" -> org.apache.spark.sql.types.LongType,
        "cmod" -> org.apache.spark.sql.types.LongType),
      chunkSpec(bits, maxHamming).map { case (k, cp, cm) => Seq[Any](k, cp, cm) }))
    // Chunk extraction by div/mod is bit extraction ONLY for fingerprints
    // in [0, 2^bits); a negative or over-wide fp (e.g. raw xxhash64 output)
    // would silently break the pigeonhole guarantee and drop true pairs —
    // fail loudly instead. One codegen'd comparison per row.
    val guarded = when(
      col(fpCol) >= 0 && col(fpCol) < lit(1L << bits), col(fpCol))
      .otherwise(raise_error(concat(
        lit(s"simhashPairs: fingerprint outside [0, 2^$bits): "),
        col(fpCol).cast("string"))))
    // Carry the fingerprint THROUGH the blocking join instead of rejoining
    // the fps relation per pair side: fps (often a scan-stage simhash kernel
    // over full document text) is evaluated exactly once into the
    // checkpointed keyed relation (4 longs x maxHamming+1 rows per doc),
    // and the exact-hamming verify reads the carried lanes — no re-scan of
    // the text, no verify-side joins.
    val keyed = fps.select(col(idCol), guarded.as("__fp"))
      .join(chunksDf)
      .select(col(idCol), col("__fp"), col("ck"),
        expr("(__fp div cp) % cmod").as("cv"))
    val w = Window.partitionBy(col("ck"), col("cv"))
    val capped = keyed
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= cap)
      .drop("__n")
      .localCheckpoint(true)
    val a = capped.select(col("ck"), col("cv"),
      col(idCol).as("id_a"), col("__fp").as("__fa"))
    val b = capped.select(col("ck"), col("cv"),
      col(idCol).as("id_b"), col("__fp").as("__fb"))
    a.join(b, Seq("ck", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__fa"), col("__fb"))
      .distinct()
      .withColumn("hd", hamming(col("__fa"), col("__fb")).cast("long"))
      .filter(col("hd") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hd"))
  }

  /** Benchmark decontamination: drop training documents sharing more than
    * `maxSharedShingles` distinct word n-grams with ANY document of an
    * evaluation set — the standard pretraining-hygiene step against eval
    * contamination. The eval side is tiny by construction, so its hashed
    * shingle set broadcasts and the whole check is one map-side semi-join
    * + a small aggregate: linear in the corpus, no corpus self-join.
    * Returns the SURVIVING training docs.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int,
      maxSharedShingles: Long = 0L): DataFrame = {
    val trainSh = docShingleIds(docs, idCol, textCol, shingleSize).distinct()
    val evalSh = broadcast(
      docShingleIds(evalDocs, idCol, textCol, shingleSize)
        .select(col("tid")).distinct())
    val contaminated = trainSh.join(evalSh, Seq("tid"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") > maxSharedShingles)
      .select(col(idCol))
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Graded contamination report — [[decontaminate]]'s audit twin. Where
    * decontaminate drops past a threshold, this emits the evidence: per
    * training document, its distinct shingle count, how many of those
    * shingles appear in ANY eval document, and the shared fraction — the
    * report a curation team reads before choosing the drop threshold
    * (and the artifact an eval-integrity audit archives).
    *
    * Same scale shape as decontaminate: the eval gram set broadcasts, the
    * corpus gram stream left-joins against it map-side, and both counts
    * come from one partial-aggregable pass — linear in the corpus. Docs
    * too short to emit a shingle stay in the report with ratio 0 (nothing
    * sharable), not silently dropped.
    */
  def contaminationStats(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame = {
    val trainSh = docShingleIds(docs, idCol, textCol, shingleSize).distinct()
    val evalSh = broadcast(
      docShingleIds(evalDocs, idCol, textCol, shingleSize)
        .select(col("tid")).distinct().withColumn("__hit", lit(1L)))
    val stats = trainSh.join(evalSh, Seq("tid"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("shared"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("shared"), lit(0L)).as("shared"))
      .withColumn("contam_ratio",
        when(col("n_shingles") === 0, lit(0.0)).otherwise(
          round(col("shared").cast("double") /
            col("n_shingles").cast("double"), 6)))
  }

  // ------------------------------------------------------------------
  // Repeated-span (substring-level) dedup
  // ------------------------------------------------------------------

  /** Substring-level duplication map, the span analog of whole-document
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — which removes repeated SPANS, not
    * documents): every maximal token interval of a document covered by
    * `n`-gram windows that occur more than once in the corpus (in the
    * same document or any other).
    *
    * Three stages, all linear: (1) positioned n-gram stream from the
    * fused hashed_shingles_pos generator (tokenize → shingle → hash → emit
    * position in one compiled scan pass); (2) repeated-gram detection as
    * a partial-aggregable count over gram hashes, then a semi-join of
    * positions against the repeated set (AQE sizes it — the repeated set
    * is small for clean corpora, corpus-like for crawl dumps, and neither
    * case is a broadcast assumption); (3) per-document interval merge of
    * the surviving [pos, pos+n) windows — one doc-partitioned window over
    * gram hits, the gaps-and-islands pass, never corpus-global.
    *
    * Output: (idCol, span_start, span_end, n_grams) — token-interval
    * [span_start, span_end) half-open, `n_grams` = repeated windows
    * merged into the span. Hash collisions (poly hash mod 2^31-1) can
    * merge distinct grams identically in both engines — the same
    * accepted-collision contract as every hashed-shingle operator here.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val pos = docs.select(col(idCol),
      graft.plans.TextExpressions.hashedShinglesPos(col(textCol), n))
    val repeated = pos.groupBy(col("tid"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > 1)
      .select(col("tid"))
    val hits = pos.join(repeated, Seq("tid"))
    // Gaps-and-islands: a hit starts a new span when its window begins
    // past every previous window's end.
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + lit(n.toLong))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__new_span",
        when(col("pos") > coalesce(prevMaxEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("__span_id", sum(col("__new_span")).over(w))
      .groupBy(col(idCol), col("__span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Per-document span-dedup summary: total tokens, tokens inside
    * repeated spans, and the keep ratio after span removal — the
    * filter-stage rendering of [[repeatedSpans]] (docs with no repeated
    * span keep ratio 1). Ratio is one exact-integer double division.
    */
  def spanDedupStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start")).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select(col(idCol),
        Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("keep_ratio",
        when(col("n_tokens") === 0, lit(1.0)).otherwise(
          (col("n_tokens") - col("dup_tokens")).cast("double") /
            col("n_tokens").cast("double")))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): over each document's stream of word n-gram hashes,
    * every window of `w` consecutive hashes contributes its MINIMUM
    * (rightmost occurrence on ties — the paper's rule), and the distinct
    * selected (position, hash) pairs are the fingerprint. Guarantee: two
    * documents sharing a token run of length >= w + n - 1 share at least
    * one fingerprint, at an expected density of ~2/(w+1) of the gram
    * stream — the local-sampling property plain "every k-th hash"
    * schemes lack.
    *
    * The min-with-rightmost-tie-break is ONE exact integer `min` over a
    * composite key `tid * 2^31 + (2^31 - 1 - pos)` (tid < 2^31 by the
    * poly-hash modulus; positions are capped at 2^31 - 1 tokens per doc
    * — beyond any real document): ordering by the key orders by (tid
    * asc, pos desc), so no struct comparison or second pass is needed
    * and both engines agree bit-for-bit.
    *
    * Scale shape: the gram stream comes from the fused positioned-
    * shingle generator (scan-stage), and selection is one doc-
    * partitioned window frame — partitions are document-sized, never
    * corpus-global. Documents with fewer than `w` grams contribute the
    * minimum of their whole (clipped) stream; documents with no grams
    * contribute nothing. Output: (idCol, sel_pos, tid) distinct.
    */
  /** Session memo for the winnow fingerprint selection — the doc-keyed
    * window min is the expensive half of both the fingerprint listing
    * (q_winnow) and the pair generator ([[winnowPairs]]); identical
    * (corpus, n, w) → identical selection, built once. Per-batch
    * STREAMING callers use [[winnowFingerprintsUncached]] — a memo
    * keyed on an ever-changing batch plan would thrash.
    */
  private val wfMemo = new PlanMemo[DataFrame]

  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame =
    wfMemo(docs, idCol, textCol, n, w) {
      winnowFingerprintsUncached(docs, idCol, textCol, n, w)
        .localCheckpoint(true)
    }

  // private[graft]: plan-shape assertions and streaming per-batch
  // callers target the unmemoized chain
  private[graft] def winnowFingerprintsUncached(docs: DataFrame,
      idCol: String, textCol: String, n: Int, w: Int): DataFrame =
    // One compiled scan pass (the winnow_select generator): the sliding-window
    // minimum is sequential WITHIN a document, so the doc-partitioned
    // declarative window (a full gram-stream shuffle) and its trailing
    // distinct are replaced by a monotonic-deque generator — the
    // fingerprint stream never shuffles at all. Bit-parity with the
    // declarative construction is pinned by SpanDedupSpec's independent
    // model and the unchanged DuckDB window-min oracle (q_winnow).
    docs.select(col(idCol),
      graft.plans.TextExpressions.winnowSelect(col(textCol), n, w))

  /** Near-duplicate pairs via winnowing fingerprints: candidates are
    * documents sharing at least one selected fingerprint hash, then
    * exact-verified over the FULL shingle sets by the shared
    * [[verifyJaccard]]. The candidate index holds only ~2/(w+1) of the
    * gram postings — the winnow guarantee (any shared run >= w + n - 1
    * tokens shares a fingerprint) keeps recall for long overlaps while
    * the inverted-list join runs over a fraction of `ngramJaccardPairs`'
    * postings. Fingerprints in more than `dfCap` documents are dropped
    * before pairing (the same hub cut as every inverted-list path here;
    * boilerplate fingerprints carry no pair signal and go quadratic).
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      w: Int, minJaccard: Double, dfCap: Long = DerivedCap,
      minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val cap = resolveDfCap(dfCap, corpusCount(docs))
    // The fingerprint selection (one compiled scan pass) comes from the
    // SHARED memoized [[winnowFingerprints]] checkpoint — the listing
    // entry (q_winnow) and this generator split the cost. Postings are
    // GROUPED per fingerprint (one shuffle of the ~2/(w+1)-density
    // winnow index; collect_set dedups multi-position selections of the
    // same gram inline), the df cut becomes a size filter on the
    // grouped arrays, and candidate pairs expand SCAN-STAGE from the
    // sorted id arrays (id_a < id_b by sort order) — the self-join,
    // its df-cut pre-join, and the (id, tid) projection shuffle of the
    // former inverted-list plan all collapse into this one aggregate,
    // which the endpoint-id list below reuses via exchange reuse
    // instead of a second checkpoint.
    val fp = winnowFingerprints(docs, idCol, textCol, n, w)
    val grouped = fp.groupBy(col("tid"))
      .agg(sort_array(collect_set(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) >= 2 && size(col("__ids")) <= cap)
    val pairs = grouped.select(explode(expr(
        """flatten(transform(__ids, (x, i) ->
           transform(slice(__ids, i + 2, size(__ids) - i - 1), y ->
             struct(x AS id_a, y AS id_b))))""")).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
    // minShared > 1 demands that many DISTINCT shared fingerprints per
    // pair before verification (the arrays are per-tid distinct ids,
    // so the pair-occurrence count is exact) — a candidate-mass cut
    // that trades recall on SHORT overlaps: the winnow guarantee only
    // promises ONE shared fingerprint per shared run of >= w+n-1
    // tokens, so a pair whose entire overlap selects a single
    // fingerprint (e.g. two near-identical sub-w-hash documents, which
    // winnow gives exactly one clipped-window fingerprint each) is
    // structurally dropped. Documents long enough to select several
    // fingerprints are unaffected at any Jaccard threshold that
    // implies several shared runs. Measured at sf0.1 (n=3, w=4,
    // j>=0.2): candidates 337,125 -> 8,374 (40x), verified pairs
    // 256 -> 256 (zero loss) — the cut the catalog's q_winnow_pairs
    // adopts, with the recall contract in its oracle mirrored to match.
    val cands =
      if (minShared <= 1) pairs.distinct()
      else pairs.groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("__nsh"))
        .filter(col("__nsh") >= minShared)
        .select(col("id_a"), col("id_b"))
    // Endpoint superset for the verify's semi-join cut, derived from
    // the SAME grouped-postings aggregate (every candidate endpoint
    // shares a rare fingerprint with someone): the grouped exchange is
    // physically reused, so candidates are computed ONCE — no
    // checkpoint, no double posting pass.
    val endpointIds = grouped.select(explode(col("__ids")).as(idCol))
      .distinct()
    // Array-form verify: shingled text keeps per-doc gram sets bounded,
    // and winnow buckets on hub-dominated corpora emit candidate volumes
    // where the compact-array join measured 2× over the gram stream.
    // RAW gram stream (no corpus-wide distinct): the endpoint semi-join
    // cuts the scan-stage generator output before any shuffle, and
    // per-doc dedup rides the collect_set — only candidate docs' grams
    // ever move.
    verifyJaccardArrays(cands,
      docShingleIds(docs, idCol, textCol, n), idCol, minJaccard,
      idsOverride = Some(endpointIds))
  }

  /** Exact Jaccard verification restricted to candidate pairs: joins a
    * candidate list (id_a, id_b) back to the (id, tid) element sets, keeps
    * pairs with round(jaccard, 6) >= `minJaccard`. The ONE shared
    * verification used by every blocked near-dup path (LSH candidates,
    * banded buckets) — duplicating the sizes/intersection/denominator
    * arithmetic is how thresholds silently drift between paths.
    */
  def verifyJaccard(candidates: DataFrame, sets: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    // Cut the element table to candidate docs BEFORE anything corpus-
    // sized happens: blocked candidate generators (LSH bands, winnow
    // buckets) emit pairs over a small fraction of the corpus, so the
    // two intersection joins and the size aggregate below should shuffle
    // candidate-doc grams, not every doc's. Set sizes are per-doc counts
    // of the doc's OWN grams, so the restriction is exact. When the
    // candidate set approaches the corpus (heavy-dup replays) the
    // semi-join degenerates to a pass-through — linear overhead, never a
    // correctness or blow-up risk.
    // One explode instead of a self-union: the union form evaluates the
    // candidate generator (the expensive blocked join feeding this)
    // twice just to list its endpoint ids.
    val ids = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val cs = sets.join(ids, Seq(idCol), "left_semi")
    val sizes = cs.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter = candidates
      .join(cs.select(col(idCol).as("id_a"), col("tid")), Seq("id_a"))
      .join(cs.select(col(idCol).as("id_b"), col("tid")), Seq("id_b", "tid"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardRatio(col("inter"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** round(|A∩B| / |A∪B|, 6) from the intersection and the two set
    * sizes — the one Jaccard ratio every verify path in this file emits,
    * rounded to 6 places for cross-engine stability. */
  private def jaccardRatio(inter: Column, nA: Column, nB: Column): Column =
    round(inter.cast("double") / (nA + nB - inter).cast("double"), 6)

  /** [[verifyJaccard]] over compact per-doc gram ARRAYS instead of the
    * exploded gram stream: one corpus groupBy packs each doc's distinct
    * grams into a sorted array, candidates join twice BY ID (no per-gram
    * fan-out), and the intersection is one `array_intersect` per pair.
    * Bit-identical output by construction (same distinct-gram counts,
    * same rounding) — asserted against the stream form in WinnowIndexSpec.
    *
    * Regime: wins when candidate volume is high and docs are BOUNDED
    * (the per-pair row carries both arrays; measured 2× over the stream
    * form on the 337k-candidate winnow verify at sf0.1). The stream form
    * remains the right tool for unbounded documents — a pathological
    * multi-MB doc becomes a multi-MB join row here, but stays a flat
    * gram stream there. Callers pick by their doc-size contract;
    * winnowPairs (shingled text, bounded grams per doc) uses this form.
    */
  def verifyJaccardArrays(candidates: DataFrame, sets: DataFrame,
      idCol: String, minJaccard: Double,
      idsOverride: Option[DataFrame] = None): DataFrame =
    // One explode instead of a self-union (see verifyJaccard).
    // idsOverride: any SUPERSET of the candidate endpoints works for
    // the semi-join cut (extra docs' arrays simply never join) — a
    // caller that can list endpoints from an already-shuffled subtree
    // (winnowPairs' grouped postings) passes it to avoid re-running
    // the candidate generator just to enumerate its ids.
    arrayJaccard(candidates, sets, idCol, minJaccard,
        idsOverride.getOrElse(candidates
          .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
          .distinct()))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The array verify behind [[verifyJaccardArrays]] and
    * [[jaccardPairsPrefix]]: candidates joined twice by id to their
    * sorted distinct gram arrays (`__ga`, `__gb`), `inter` from one
    * `array_intersect`, filtered on `jaccard >= minJaccard`. `ids` is
    * any superset of the candidate endpoints.
    */
  private def arrayJaccard(candidates: DataFrame, sets: DataFrame,
      idCol: String, minJaccard: Double, ids: DataFrame): DataFrame = {
    // collect_set, not collect_list: per-doc dedup happens INSIDE the
    // aggregation, so callers may pass the raw (non-distinct) gram
    // stream — the candidate semi-join then cuts the stream BEFORE any
    // shuffle, instead of a corpus-wide distinct shuffling every doc's
    // grams just to verify a small candidate set. Identical output for
    // already-distinct input (Jaccard is over distinct gram sets).
    val arr = sets.join(ids, Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(array_sort(collect_set(col("tid"))).as("__g"))
    candidates
      .join(arr.select(col(idCol).as("id_a"), col("__g").as("__ga")), Seq("id_a"))
      .join(arr.select(col(idCol).as("id_b"), col("__g").as("__gb")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .withColumn("jaccard",
        jaccardRatio(col("inter"), size(col("__ga")), size(col("__gb"))))
      .filter(col("jaccard") >= minJaccard)
  }

  // ------------------------------------------------------------------
  // N-gram Jaccard near-dup pairs
  // ------------------------------------------------------------------

  /** Near-duplicate pairs by word-n-gram Jaccard similarity >= `minJaccard`,
    * computed over hashed shingle sets: shingles are polynomial-hashed to
    * longs first, so the shuffle/join keys are fixed-width instead of
    * strings (hash collisions merge shingles identically on both engines —
    * the standard scalable design). Inverted-list self-join; shingles
    * appearing in more than `dfCap` documents are dropped before the join
    * (stopword-gram hubs are the quadratic risk at scale, and carry no
    * dedup signal).
    * Output: (id_a, id_b, inter, n_a, n_b, jaccard) with jaccard rounded
    * to 6 places for cross-engine stability.
    */
  /** Prefix-filtered exact Jaccard self-join (the All-Pairs/SSJoin prefix
    * filter; Chaudhuri et al. 2006, Bayardo et al. 2007): order grams
    * globally by (df, tid) and index ONLY each document's prefix — its
    * |d| − ⌈τ·|d|⌉ + 1 RAREST grams. Lossless by the prefix lemma: a
    * pair with Jaccard ≥ τ needs overlap ≥ ⌈τ·|d|⌉ on each side, and if
    * its globally-smallest shared gram escaped either prefix, the whole
    * intersection would have to fit in that side's ⌈τ·|d|⌉ − 1 suffix —
    * contradiction. So prefix-to-prefix candidates cover every
    * qualifying pair, and exact verification over the FULL sets emits
    * the same columns (and oracle) as [[ngramJaccardPairs]].
    *
    * Versus the dfCap inverted list: the cap is a RECALL heuristic
    * (hub grams leave the join and the denominators), while the prefix
    * filter is exact, and candidate PAIRS are a strict subset of the
    * full inverted list's at every threshold. REGIME CAVEAT, measured:
    * the win presumes Zipfian gram rarity — each doc must own some
    * genuinely rare grams for its prefix's posting lists to be short.
    * On the synthetic probe corpus (tiny vocabulary; every replica
    * shares its marker shingle with thousands of docs) even the
    * "rarest" prefix grams are hubs, and the candidate materialization
    * + array verification loses to the inverted list's direct
    * partial-aggregated intersection count (5.4/10.4/92 s vs
    * 6.6/20.5/479 s at 1x/4x/16x, sf0.1) — which is why this operator
    * is NOT a benched catalog entry: it is the right tool for real text
    * at scale, spec-proven lossless against the catalog-gated inverted
    * join, and the wrong tool for hub-dominated gram distributions.
    *
    * Arithmetic care, twice: ⌈τ·n⌉ is computed in integers
    * ((τ·10⁶·n + 10⁶ − 1) div 10⁶ — a double ceil can round 0.2·55 up
    * and silently SHORTEN the prefix, voiding the lemma), and the
    * filter derives from τ − 10⁻⁶ so any pair whose ROUNDED jaccard
    * (6 places, the output contract) clears τ is still a candidate.
    */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val tauNum = math.round(minJaccard * 1e6) - 1 // rational tau', see above
    val grams = docShingleIds(docs, idCol, textCol, n).distinct()
    val dft = grams.groupBy(col("tid")).agg(count(lit(1)).as("__df"))
    val sizes = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("tid"))
    val prefix = grams.join(dft, Seq("tid"))
      .withColumn("__pos", row_number().over(w))
      .join(sizes, Seq(idCol))
      .filter(col("__pos") <= col("n_grams") -
        expr(s"($tauNum * n_grams + 999999) div 1000000") + 1)
      .select(col("tid"), col(idCol))
    val cand = prefix.select(col("tid"), col(idCol).as("id_a"))
      .join(prefix.select(col("tid"), col(idCol).as("id_b")), Seq("tid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // Verification on COMPACT set arrays — one row per candidate, the
    // intersection via array_intersect — instead of re-exploding each
    // candidate by its gram set (measured 10x slower: the re-expansion
    // shuffles candidate x set-size rows where this ships one array).
    // Every candidate endpoint indexed a prefix gram, so the prefix ids
    // are the endpoint superset.
    arrayJaccard(cand, grams, idCol, minJaccard,
        prefix.select(col(idCol)).distinct())
      .select(col("id_a"), col("id_b"), col("inter"),
        size(col("__ga")).cast("long").as("n_a"),
        size(col("__gb")).cast("long").as("n_b"), col("jaccard"))
  }

  /** Session memo ([[PlanMemo]]) of the n-gram-Jaccard pair build:
    * THREE catalog consumers (the pair listing, the 2-core peel, the
    * blocker-recall truth side) run the identical
    * shingle→df-cap→self-join→verify pipeline over the same corpus;
    * the memoized result is the VERIFIED pair set — bounded output,
    * far smaller than the postings it came from — so sharing it is a
    * cache of the artifact, not of a corpus-sized intermediate.
    */
  private val njMemo = new PlanMemo[DataFrame]

  /** Session memo for the df-capped inverted postings table (id, tid):
    * distinct hashed shingles with hub grams (df > dfCap) removed — the
    * candidate index BOTH pair generators ([[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]) build from the same (corpus, n, dfCap),
    * previously twice. It is the bounded artifact an inverted-list
    * system stores anyway; sharing it leaves each generator paying only
    * its own self-join + verify.
    */
  private val pgMemo = new PlanMemo[DataFrame]

  /** Fraction-of-corpus document-frequency cap: `max(floor,
    * nDocs·maxDfPpm/1e6)`. A FIXED dfCap stops guarding the moment the
    * corpus outgrows it — the skew card measured the catalog's
    * comfortable 100000 default doing NOTHING against a hub occupying
    * 20% of a 20k-doc corpus — whereas occupancy is what makes a key a
    * hub: a gram/fingerprint/band in more than `maxDfPpm` parts-per-
    * million of documents is stopword-like (no discrimination value for
    * near-dup evidence, quadratic pair fan-out) at ANY corpus size.
    * Deriving the cap from the corpus count is the IR max-df discipline
    * applied to blocking, and it is scale-invariant: the same 10000 ppm
    * (1%) setting guards a 10^4-doc fixture and a 10^10-doc crawl. The
    * floor keeps small corpora from dropping legitimately shared grams
    * (at 1000 docs a 1% cap would be df ≤ 10 — below real boilerplate).
    * `nDocs` is one count() the caller typically has anyway; pass the
    * result as the `dfCap`/`bucketCap` of any generator in this file.
    */
  def fractionalDfCap(nDocs: Long, maxDfPpm: Long, floor: Long = 50L): Long = {
    require(nDocs >= 0, s"nDocs must be >= 0, got $nDocs")
    require(maxDfPpm >= 1 && maxDfPpm <= 1000000L,
      s"maxDfPpm in [1, 1e6], got $maxDfPpm")
    require(floor >= 1, s"floor must be >= 1, got $floor")
    math.max(floor, nDocs / 1000000L * maxDfPpm
      + nDocs % 1000000L * maxDfPpm / 1000000L)
  }

  /** Sentinel default for every dfCap/bucketCap in this file: "derive
    * the cap from THIS corpus via [[fractionalDfCap]]". The round-10
    * skew card proved a fixed default cap is only a guard when it
    * happens to sit below the corpus's hub occupancy — so the shipped
    * default is now the scale-invariant derivation (1% of the corpus,
    * [[DefaultMaxDfPpm]], floored at 50 so small fixtures never cut
    * legitimately shared keys). An explicit non-negative argument
    * always wins. Deriving costs one count over the input at PLAN-BUILD
    * time (an eager action, memoized per canonicalized plan — the same
    * documented eagerness as the fan-out-sized pair-join partitioning).
    */
  val DerivedCap: Long = -1L

  /** Default hub-occupancy cap for [[DerivedCap]] derivation: 10000 ppm
    * (1% of the corpus) — the IR max-df discipline; below any >1%-
    * occupancy hub at every corpus size (skew-card setting). */
  val DefaultMaxDfPpm: Long = 10000L

  /** Plan-keyed memo of corpus cardinalities used by cap derivation —
    * the count is an eager plan-build action, so repeated generator
    * calls over the same (memoized-checkpoint) input must not re-count.
    */
  private val nDocsMemo = new PlanMemo[Long]

  private def memoCount(df: DataFrame, tag: String, cols: Seq[String])(
      build: => Long): Long =
    nDocsMemo(tag +: df +: cols: _*)(build)

  private[graft] def corpusCount(docs: DataFrame): Long =
    memoCount(docs, "rows", Nil)(docs.count())

  private[graft] def distinctIdCount(df: DataFrame, idCol: String): Long =
    memoCount(df, "ids", Seq(idCol))(df.select(col(idCol)).distinct().count())

  /** `dfCap` verbatim if explicitly set (>= 0), else the scale-invariant
    * derivation from the corpus cardinality. */
  private[graft] def resolveDfCap(dfCap: Long, nDocs: => Long): Long =
    if (dfCap == DerivedCap) fractionalDfCap(nDocs, DefaultMaxDfPpm)
    else dfCap

  private[graft] def resolveBucketCap(bucketCap: Int, nDocs: => Long): Int =
    if (bucketCap.toLong == DerivedCap)
      math.min(Int.MaxValue.toLong, fractionalDfCap(nDocs, DefaultMaxDfPpm)).toInt
    else bucketCap

  private[graft] def cappedPostings(docs: DataFrame, idCol: String,
      textCol: String, n: Int, dfCap: Long): DataFrame =
    pgMemo(docs, idCol, textCol, n, dfCap) {
      // The RAW shingle-set table is deliberately NOT persisted: with
      // the compiled hashed_shingles generator, recomputing the
      // scan→hash→distinct chain is cheaper than materializing it
      // (measured at sf0.1: 2.2s vs 2.6s steady-state plus a 7s+
      // first-run cost), and caching a corpus-sized intermediate is
      // infeasible at 100 TB anyway. The POST-CAP table below is the
      // hub-cut index — smaller, and read by many consumers.
      val grams = docShingleIds(docs, idCol, textCol, n).distinct()
      val rare = grams.groupBy("tid").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= dfCap).select("tid")
      grams.join(rare, Seq("tid")).localCheckpoint(true)
    }

  /** Fan-out-sized partitioning for an inverted-list pair join: the
    * post-shuffle work of a GENERATING join is Σ_tid df·(df−1)/2 pairs,
    * not its input bytes, so AQE's byte-based coalescing (and any fixed
    * shuffle-partition count) under-partitions exactly when the join is
    * heaviest — measured as a spill-merge OOM in the intersection
    * aggregate at 16× corpus under a 2 GiB heap (SpillProbe): AQE
    * coalesced the small postings shuffle to a handful of tasks, each
    * then generating billions of pairs whose partial-agg spill files
    * could not all be buffered for the final merge. Partition count =
    * predicted pair volume over a MEMORY-ADAPTIVE per-task pair budget
    * (see [[pairTaskBudget]]), floored at the session's shuffle
    * parallelism, capped at 65536. The predicting aggregate is
    * tid-domain-sized and rides the already-materialized postings memo;
    * an explicit repartition is exempt from AQE coalescing, so the
    * sizing sticks.
    */
  private def pairJoinParts(g: DataFrame): Int = {
    val dec = "decimal(38,0)"
    val row = g.groupBy(col("tid")).agg(count(lit(1)).as("__df"))
      .agg(coalesce(sum(col("__df").cast(dec) * (col("__df") - lit(1L))),
        lit(0).cast(dec)).as("__p2"))
      .collect()(0)
    val pairs =
      if (row.isNullAt(0)) BigInt(0)
      else BigInt(row.getDecimal(0).toBigInteger) / 2
    val target = (pairs / pairTaskBudget(g.sparkSession)).toLong + 1L
    val base = g.sparkSession.sessionState.conf.numShufflePartitions.toLong
    math.min(65536L, math.max(base, target)).toInt
  }

  /** Per-task PAIR budget for the generating join: the number of
    * distinct pairs whose partial-aggregate hash map fits comfortably
    * in one task's share of execution memory. The former fixed 2M
    * budget was tuned on a 128 GiB heap and silently assumed ~200 MB
    * of aggregate map per task; under a constrained heap (the 2 GiB
    * spill-probe posture — and any real cluster's per-core share) the
    * same 2M-pair map exceeds the task's unified-memory slice, so every
    * task built a map, overflowed it, and spilled ~the whole pair
    * stream through sorted runs. Budget = half a task's execution-
    * memory share at ~256 B per map entry (two long keys + count, each
    * UnsafeRow-framed, plus BytesToBytesMap pointer/page sparsity at its
    * working load factor — 128 B of payload measures as ~2× resident),
    * clamped to [250k, 2M] — the 2M ceiling
    * reproduces the tuned big-heap plans exactly, the floor keeps tiny
    * heaps from exploding into degenerate task counts. Executor memory
    * resolves from spark.executor.memory when set (cluster mode),
    * else this JVM's max heap (local mode, where the executor IS the
    * driver JVM). Slots are PER-EXECUTOR task slots: spark.executor
    * .cores when set, else total parallelism divided by the live
    * executor count — dividing one executor's memory by the CLUSTER's
    * core count (the former fallback) undersized per-task memory by
    * the executor count under real multi-executor isolation, found by
    * the round-11 ClusterProbe.
    */
  private def pairTaskBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    val sc = spark.sparkContext
    val conf = sc.getConf
    val execBytes = conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)
    val memFrac =
      conf.getOption("spark.memory.fraction").map(_.toDouble).getOrElse(0.6)
    val slots = math.max(1,
      conf.getOption("spark.executor.cores").map(_.toInt).getOrElse {
        // block-manager census counts the driver alongside executors
        // except in local mode, where the driver IS the one executor
        val census = sc.getExecutorMemoryStatus.size
        val workers = math.max(1, census - 1)
        sc.defaultParallelism / workers
      })
    val perTask = execBytes * memFrac / slots
    math.min(2000000L, math.max(250000L, (perTask * 0.5 / 256).toLong))
  }

  /** Near-dup pairs by word-n-gram Jaccard over a df-capped inverted
    * list. NOTE: constructing this frame runs EAGER Spark actions — the
    * derived-cap corpus count (default dfCap only) and the fan-out
    * sizing aggregate behind [[pairJoinParts]] — so plan BUILD triggers
    * jobs and surfaces input failures immediately; both actions are
    * memoized alongside the pair memo, and the postings they aggregate
    * are the memoized checkpoint, so repeated builds don't re-scan.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, dfCap: Long = DerivedCap): DataFrame = {
    val cap = resolveDfCap(dfCap, corpusCount(docs))
    njMemo(docs, idCol, textCol, n, minJaccard, cap) {
      gramOverlap(docs, idCol, textCol, n, cap)
        .withColumn("jaccard",
          jaccardRatio(col("inter"), col("n_a"), col("n_b")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
          col("jaccard"))
        .localCheckpoint(true)
    }
  }

  /** (id_a, id_b, inter, n_a, n_b) for every id_a < id_b pair sharing a
    * gram of the df-capped postings: the fan-out-sized tid self-join,
    * the intersection count and both set sizes that
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]] score. */
  private def gramOverlap(docs: DataFrame, idCol: String, textCol: String,
      n: Int, cap: Long): DataFrame = {
    // Post-cap postings feed THREE consumers (sizes + both join sides),
    // each of which would re-run the distinct AND the df join —
    // shuffles, not the compiled scan. Materialized once (measured on
    // the containment generator: 3.1 → 2.5 s) in the SHARED
    // [[cappedPostings]] memo, which both generators read.
    val g = cappedPostings(docs, idCol, textCol, n, cap)
    // Set sizes come from the CAPPED table too: hub shingles must leave
    // both the intersection and the denominators, or docs made of hub
    // shingles would see their score biased toward zero and be missed.
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    // Fan-out-sized tid partitioning (see [[pairJoinParts]]); both join
    // sides read the SAME repartitioned subtree — one exchange, reused.
    val gp = g.repartition(pairJoinParts(g), col("tid"))
    val a = gp.select(col("tid"), col(idCol).as("id_a"))
    val b = gp.select(col("tid"), col(idCol).as("id_b"))
    // SHUFFLE-HASH everywhere on this chain, never sort-merge: SMJ
    // would SORT the generated pair stream (and the postings), and
    // those sort buffers both spill ~the whole stream and starve the
    // intersection aggregate's hash map in the unified pool — the
    // spill probe measured the verify joins re-spilling the pair
    // stream once per join. Hash sides are per-task slivers (a tid
    // partition of the postings; an id partition of the one-row-per-
    // doc sizes table), bounded at any corpus size.
    val inter = a.hint("shuffle_hash").join(b, Seq("tid"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_grams").as("n_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_grams").as("n_b"))
        .hint("shuffle_hash"), Seq("id_b"))
  }

  /** Asymmetric near-dup pairs by shingle CONTAINMENT — |A∩B| / min(|A|,
    * |B|) — the subset detector Jaccard structurally misses: a short doc
    * fully quoted inside a long one has containment 1.0 but Jaccard ≈
    * |A|/|B| → 0 as the long doc grows, so a Jaccard threshold silently
    * whitelists quote-expansion duplicates. Containment ≥ Jaccard always;
    * thresholds are NOT interchangeable between the two.
    *
    * Same inverted-list candidate machinery (and therefore the same
    * 100 TB shape: distinct shingles, df-capped posting lists, one
    * tid-keyed self-equi-join, partial-aggregable intersection counts —
    * never all-pairs) and the same hub-consistency rule: df-capped
    * shingles leave the intersection AND both set sizes, or hub-heavy
    * docs would bias the ratio toward zero and be missed.
    *
    * Output: (id_a, id_b, inter, n_a, n_b, containment) for id_a < id_b,
    * containment rounded to 6.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minContainment: Double, dfCap: Long = DerivedCap): DataFrame = {
    val cap = resolveDfCap(dfCap, corpusCount(docs))
    gramOverlap(docs, idCol, textCol, n, cap)
      .withColumn("containment",
        round(col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        col("containment"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995) — the
    * SORT-based blocking family, complementing the hash (LSH/SimHash),
    * inverted-list (n-gram), and learned-partition (k-means cell)
    * blockers already here: order the corpus by a domain sort key and
    * emit every pair within a sliding window of `window` consecutive
    * rows. Near-duplicates with a shared prefix/key land adjacent in the
    * total order, so the candidate volume is exactly (window−1)·n —
    * linear by construction, no distribution assumptions, which is what
    * makes SNM the standard blocker when key skew defeats hashing.
    *
    * Scale shape: the global rank comes from [[GroupRank]]'s two-level
    * plan (range exchange + local windows + a shard-count-sized offset
    * broadcast — NO single-partition sort), and the neighborhood join is
    * a rank-keyed equi-join against `window−1` exploded rank slots per
    * row. Ties in `key` break by id, so ranks — and therefore the pair
    * set — are fully deterministic.
    *
    * Output: (id_a, id_b, key_a, key_b, rdist) with id_a the LOWER-ranked
    * doc and rdist ∈ [1, window−1] its rank distance to id_b. Feed a
    * verifier ([[verifyJaccardArrays]], [[verifyEditDistance]]) — SNM is
    * a candidate generator, not a match decision.
    */
  /** Session memo ([[PlanMemo]]) of the SNM candidate build: SEVEN
    * catalog consumers (pair listing, edit-distance verify, blocker
    * recall, label propagation, PPR, triangles, common neighbors) run the identical rank+window
    * pipeline over the same (corpus, key, window); the memoized result
    * is the (window−1)·n candidate set — linear by construction.
    */
  private val snmMemo = new PlanMemo[DataFrame]

  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, key: Column,
      window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    snmMemo(docs, idCol, key.toString, window) {
      val keyed = docs.select(col(idCol), key.as("__snmkey"))
        .withColumn("__snmall", lit(1))
      // Materialized once: both neighborhood-join sides read the ranked
      // table, and the two-level rank behind it is a range exchange + a
      // window + an offset broadcast — not a chain to run twice.
      val ranked = graft.functions.GroupRank.withRankAndCount(keyed,
          Seq("__snmall"), Seq(col("__snmkey").asc, col(idCol).asc),
          "__snmrn", "__snmn")
        .select(col(idCol), col("__snmkey"), col("__snmrn"))
        .localCheckpoint(true)
      val a = ranked
        .select(col(idCol).as("id_a"), col("__snmkey").as("key_a"),
          col("__snmrn").as("__rna"))
        .select(col("id_a"), col("key_a"), col("__rna"),
          explode(sequence(col("__rna") + 1,
            col("__rna") + (window - 1))).as("__snmj"))
      val b = ranked.select(col(idCol).as("id_b"),
        col("__snmkey").as("key_b"), col("__snmrn").as("__snmj"))
      // Repartition BEFORE the checkpoint: AQE coalesces the (w−1)·n
      // candidate rows — a few MB — into ONE partition, and every
      // checkpoint consumer inherits that single partition. The
      // consumers are the CPU-bound verify stages (banded edit/Damerau
      // DP, gram-multiset evals: quadratic-per-ROW work on narrow
      // rows), so bytes-sized coalescing serializes them onto one core
      // at any scale — the bruteForceTopK scan-partitioning hazard,
      // same one-linear-exchange fix (measured here: the Damerau DP
      // stage ran 1-partition, 2.3 s; 32-way it is ~0.1 s).
      val pairs = a.join(b, Seq("__snmj"))
        .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
          (col("__snmj") - col("__rna")).cast("long").as("rdist"))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      // the eager checkpoint above has read every ranked row: free the
      // ranked table now, not whenever a GC lets the cleaner find it
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(ranked)
      pairs
    }
  }

  /** Blocking-quality report: how much of a TRUTH pair set a candidate
    * generator reaches — the metric a curation team tracks when swapping
    * or tuning a blocker (LSH bands, SNM window, df caps): recall lost
    * here is recall no verifier downstream can recover. One row:
    * (n_truth, n_candidates, n_hit, recall). Pairs are normalized to
    * unordered (least, greatest) form before matching, so generators
    * that emit by rank order (SNM) compare correctly against id-ordered
    * truth. Shapes: one semi-join (truth is the small side by
    * construction — it passed a verifier) + three bounded aggregates.
    */
  def blockerRecall(candidates: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame): DataFrame = df.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    // Both sides feed two consumers (their count + the hit join) and
    // both are products of whole candidate pipelines — materialize the
    // normalized pair sets (bounded: truth passed a verifier, cand is
    // (w−1)·n-ish) instead of re-running those pipelines per aggregate.
    val cand = norm(candidates).localCheckpoint(true)
    val tru = norm(truth).localCheckpoint(true)
    val nTruth = tru.agg(count(lit(1)).as("n_truth"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nHit = tru.join(cand, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTruth.crossJoin(nCand).crossJoin(nHit)
      .withColumn("recall",
        when(col("n_truth") === 0, lit(1.0)).otherwise(
          round(col("n_hit").cast("double") / col("n_truth").cast("double"),
            6)))
      // candidate efficiency: the verifier pays for every candidate, so
      // low precision is the COST axis of the same trade
      .withColumn("precision",
        when(col("n_candidates") === 0, lit(1.0)).otherwise(
          round(col("n_hit").cast("double") /
            col("n_candidates").cast("double"), 6)))
  }

  /** Edit-distance verification of candidate pairs — the record-linkage
    * match decision over any blocker's output: (id_a, id_b) pairs gain
    * `dist` (Levenshtein between the docs' first `prefixLen` chars) and
    * keep only dist <= maxDist. The DP is quadratic in its operand
    * length, so verification runs on a BOUNDED prefix — at corpus scale
    * the cost is candidates × prefixLen², never corpus × full-text².
    * Two id-keyed equi-joins ship one bounded prefix per side; nothing
    * here scales with pair text beyond the prefix.
    */
  def verifyEditDistance(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, prefixLen: Int,
      maxDist: Int): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    withPrefixes(candidates, docs, idCol, textCol, prefixLen)
      // The threshold form runs the BANDED DP — O(len·maxDist) per pair
      // instead of O(len²) — returning −1 past the threshold, which is
      // exactly the filter anyway; kept distances equal the full DP's.
      .withColumn("dist",
        levenshtein(col("__pa"), col("__pb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Per-document n-gram NOVELTY against the rest of the corpus — the
    * selection/curriculum signal the within-doc repetition stats
    * (gopher n-grams) and the pairwise containment miss: what fraction
    * of a document's distinct word n-grams appears in NO other
    * document. Low novelty means the doc is assembled from corpus
    * boilerplate (near-dup tail, template floods — prune or
    * down-weight); high novelty means fresh text (or noise — pair with
    * the quality gate). novelty_ppm = (distinct grams with df = 1) /
    * distinct grams, exact ppm; docs too short to gram drop.
    *
    * Shape: one compiled shingle scan, distinct over (doc, tid), a
    * tid-keyed df count (partial-aggregable), one join back — the
    * wordcount shape, linear at any corpus size; the gram space is
    * hashed longs end to end (the q_sgt_counts discipline — no string
    * shuffles).
    * Output: (idCol, n_grams, n_shared, novelty_ppm).
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val sh = docShingleIds(docs, idCol, textCol, n)
      .select(col(idCol), col("tid")).distinct()
    val dfq = sh.groupBy(col("tid")).agg(count(lit(1)).as("__df"))
    sh.join(dfq, Seq("tid"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col(idCol), col("n_grams"), col("n_shared"),
        graft.functions.Stats.fixedPointExact(
          col("n_grams") - col("n_shared"), col("n_grams"))
          .as("novelty_ppm"))
  }

  /** Damerau–Levenshtein verify stage beside [[verifyEditDistance]]:
    * the same candidate x bounded-prefix discipline, scored with the
    * TRUE transposition-aware metric ([[graft.plans.Damerau]]) next to
    * plain Levenshtein — `transposition_gain` (lev − dl) is the count
    * of single-op transpositions plain edit distance double-charged,
    * the typo class that dominates real linkage corpora (Damerau
    * 1964). Pairs are kept by the DL threshold, so near-misses that
    * only transpositions rescue ENTER the match set here while
    * [[verifyEditDistance]] at the same threshold drops them.
    *
    * Scale shape: two id-equi-joins fan the bounded prefixes onto the
    * candidate pairs; the O(prefixLen^2) kernel runs scan-stage per
    * pair (codegen'd) — candidates x prefix^2 cost, never corpus x
    * full-text^2. Output: (id_a, id_b, dist, lev_dist,
    * transposition_gain), DL-threshold-filtered.
    */
  def verifyDamerau(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, prefixLen: Int,
      maxDist: Int): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    withPrefixes(candidates, docs, idCol, textCol, prefixLen)
      .withColumn("dist",
        graft.plans.Damerau.damerau(col("__pa"), col("__pb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("lev_dist",
        levenshtein(col("__pa"), col("__pb")).cast("long"))
      .select(col("id_a"), col("id_b"), col("dist"), col("lev_dist"),
        (col("lev_dist") - col("dist")).as("transposition_gain"))
  }

  /** The candidate pairs with each side's first `prefixLen` characters of
    * `textCol` (`__pa`, `__pb`) — the bounded operands of the verify DPs.
    */
  private def withPrefixes(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, prefixLen: Int): DataFrame =
    withDocColumns(candidates,
      docs.select(col(idCol), substring(col(textCol), 1, prefixLen).as("__pfx")),
      idCol, Seq(("__pfx", "__pa", "__pb")))

  /** Pairs (id_a, id_b) with per-document columns fanned onto both sides
    * by two id-keyed equi-joins — the candidate → fan-out → verify shape
    * of every pair verifier: each (column, aName, bName) of `perDoc`
    * lands as `aName` from id_a's row and as `bName` from id_b's. Pairs
    * with a side absent from `perDoc` drop (inner joins).
    */
  private[functions] def withDocColumns(pairs: DataFrame, perDoc: DataFrame,
      idCol: String, cols: Seq[(String, String, String)]): DataFrame =
    pairs.select(col("id_a"), col("id_b"))
      .join(perDoc.select(col(idCol).as("id_a") +:
        cols.map { case (c, a, _) => col(c).as(a) }: _*), Seq("id_a"))
      .join(perDoc.select(col(idCol).as("id_b") +:
        cols.map { case (c, _, b) => col(c).as(b) }: _*), Seq("id_b"))
}
