package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CheckpointOps
import graft.merge.Merge
import graft.ops.Medallion

/** The reference's medallion pipeline end-to-end (batch variant):
  * raw multiline JSON → bronze (enveloped, partitioned) → silver
  * (movie/genres/language) with data-quality quarantine → quarantine
  * repair. Mirrors /root/reference/Batch_notebook/main.py:10-65 and
  * operations/operations.py:19-165, re-expressed with the graft operator
  * library over parquet (no Delta in this environment).
  *
  * Divergences (deliberate, SURVEY.md §7.5):
  *  - silver_update guards the re-append with a left-anti join on Id (the
  *    reference's batch variant double-appends on rerun; the Autoloader
  *    variant's whenNotMatchedInsertAll semantics are adopted as canonical).
  *  - the flattened bronze branch point is cached before fanning out into
  *    movie/genres/language/clean/quarantine (the reference recomputes it
  *    per branch).
  */
object MoviePipeline {

  val BudgetFloor = 100000L

  /** Stage 1 — raw → bronze (main.py:10-17). */
  def rawToBronze(spark: SparkSession, rawPath: String, bronzePath: String,
      ingestTime: org.apache.spark.sql.Column = current_timestamp()): Unit = {
    val raw = Medallion.readRawJson(spark, rawPath)
    val records = Medallion.explodeRecords(raw, "movie", "record")
    val bronze = Medallion.transformRaw(records, "record", "movie.json", ingestTime)
    Medallion.batchWriter(bronze, bronzePath, "p_ingestdate")
  }

  /** The silver movie projection (operations.py:62-84): flatten + cast +
    * budget floor + genre-id array + language FK stub.
    */
  def transformMovie(flat: DataFrame): DataFrame =
    Medallion.withFloor(flat, "Budget", BudgetFloor).select(
      col("value"),
      col("Id").cast("integer").as("Id"),
      col("Budget"),
      col("Revenue"),
      col("RunTime").cast("integer").as("RunTime"),
      col("Price"),
      col("Title"), col("Overview"), col("Tagline"),
      col("ImdbUrl"), col("TmdbUrl"), col("PosterUrl"), col("BackdropUrl"),
      col("ReleaseDate").cast("date").as("ReleaseDate"),
      col("CreatedDate").cast("date").as("p_CreatedDate"),
      col("UpdatedDate"), col("UpdatedBy"), col("CreatedBy"),
      col("Genres.id").as("Genres_Id"),
      lit(1).as("Language_Id"))

  /** Genres dimension (fix_genres, operations.py:53-54). */
  def transformGenres(flat: DataFrame): DataFrame =
    Medallion.dimensionFromArray(flat, "Genres")

  /** Language dimension (operations.py:91-97). */
  def transformLanguage(flat: DataFrame): DataFrame =
    flat.select(lit(1).as("Id"), col("OriginalLanguage")).distinct()

  /** The silver quality gate. Clean requires a non-null Id as well: Id
    * is the merge/idempotency key everywhere downstream, and NULL never
    * equals NULL in an anti-join, so a null-Id row could neither be
    * deduplicated nor replay-guarded — it quarantines instead.
    */
  private def isClean = col("RunTime") >= 0 && col("Id").isNotNull

  /** What one bronze → silver step hands back: the flattened rows
    * (cached; the caller unpersists them), the split's source `movies`,
    * both sides of the quality split, and `keyed` — every row's (value,
    * status, p_ingestdate), checkpointed.
    */
  private[graft] case class SilverSplit(flat: DataFrame, movies: DataFrame,
      clean: DataFrame, quarantined: DataFrame, keyed: DataFrame)

  /** The bronze → silver step the batch and streaming variants share:
    * flatten the 'new' bronze rows, project movies, split on the quality
    * gate, append the clean rows to `movie_silver` behind the Id replay
    * guard (a crash between this write and the status writeback would
    * otherwise re-append the same still-'new' rows on rerun), and key
    * each row's final status with the bronze partition it lives in.
    */
  private[graft] def splitToSilver(spark: SparkSession, bronzeNew: DataFrame,
      silverDir: String): SilverSplit = {
    val flat = Medallion.flattenValue(bronzeNew).cache()
    val movies = transformMovie(flat).distinct()
    val (clean, quarantined) = Medallion.cleanQuarantineSplit(movies, isClean)
    Merge.antiJoinAppend(spark, clean.drop("value"),
      s"$silverDir/movie_silver", Seq("Id"), "p_CreatedDate")
    // One (value, status, p_ingestdate) source for BOTH statuses,
    // materialized here: the batch writeback rewrites the bronze files
    // these lazy plans read, and the streaming side probes it before
    // writing it.
    val statused = clean.select(col("value")).withColumn("status", lit("loaded"))
      .unionByName(
        quarantined.select(col("value")).withColumn("status", lit("quarantined")))
      .distinct()
    val keyed = withPartitions(bronzeNew, statused).checkpointed
    SilverSplit(flat, movies, clean, quarantined, keyed)
  }

  /** Stage 2 — bronze → silver (main.py:21-46). Returns
    * (cleanCount, quarantinedCount) for reconciliation.
    */
  def bronzeToSilver(spark: SparkSession, bronzePath: String,
      silverDir: String): (Long, Long) = {
    val bronzeNew = Medallion.filterStatus(
      spark.read.parquet(bronzePath), "new")
    val step = splitToSilver(spark, bronzeNew, silverDir)
    // Dimensions accumulate across batches via anti-join upsert: a plain
    // overwrite would wipe rows from earlier batches (dangling FKs from
    // older silver movies), and the reference's plain append would
    // duplicate dimension rows on every run.
    upsertDimension(spark, transformGenres(step.flat),
      s"$silverDir/genres_silver", Seq("Id", "name"))
    upsertDimension(spark, transformLanguage(step.flat),
      s"$silverDir/language_silver", Seq("Id", "OriginalLanguage"))
    val counts = Medallion.cleanQuarantineCounts(step.movies, isClean)

    // MERGE status writeback on the full struct key (operations.py:112-129),
    // ONE rewrite restricted to the partitions that contain matched keys.
    updateBronzeStatuses(spark, bronzePath, step.keyed)
    step.flat.unpersist()
    counts
  }

  /** Tag each (value, status) key with the bronze partitions it lives in, so
    * the writeback can prune its rewrite to exactly those partitions. The
    * key set is the small side — Catalyst broadcasts it against bronze.
    */
  private def withPartitions(bronze: DataFrame, statusedKeys: DataFrame): DataFrame =
    bronze.select(col("value"), col("p_ingestdate"))
      .join(statusedKeys, Seq("value"))
      .distinct()

  /** Dimension upsert: append only the rows whose key is absent (J2 shape).
    * First batch creates the table.
    */
  def upsertDimension(spark: SparkSession, dim: DataFrame, path: String,
      keyCols: Seq[String]): Unit =
    Merge.antiJoinAppend(spark, dim, path, keyCols, "Id"): Unit

  /** J1 — mark bronze rows whose `value` struct matches a source key with
    * that key's status (whenMatchedUpdate on struct equality), in ONE
    * rewrite restricted to the partitions the keys live in.
    *
    * Expects `keyed`: (value, status, p_ingestdate), already-distinct per
    * (value, p_ingestdate), already-materialized (localCheckpoint) — the
    * caller owns materialization so the key set is built exactly once per
    * stage and survives the underlying files being swapped.
    */
  def updateBronzeStatuses(spark: SparkSession, bronzePath: String,
      keyed: DataFrame): Unit = {
    val parts = keyed.select(col("p_ingestdate").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    // A value maps to exactly one status (the split is a partition of the
    // rows), so the per-value source below is unique and cannot multiply
    // target rows through the join.
    val source = keyed.select(col("value"), col("status")).distinct()
    Merge.rewritePartitions(spark, bronzePath, "p_ingestdate", parts) { bronze =>
      Merge.whenMatchedUpdateOn(bronze, source,
        (t, s) => t("value") === s("value"),
        Map("status" -> col("s.status")),
        dedupSource = false)
    }
  }

  /** Single-status convenience wrapper over `updateBronzeStatuses`: tags
    * `keys` (a single-`value`-column DataFrame) with the partitions they
    * occupy, then runs the one pruned rewrite.
    */
  def updateBronzeStatus(spark: SparkSession, bronzePath: String,
      keys: DataFrame, status: String): Unit = {
    val keyed = withPartitions(spark.read.parquet(bronzePath),
      keys.withColumn("status", lit(status))).checkpointed
    updateBronzeStatuses(spark, bronzePath, keyed)
  }

  /** Stage 3 — quarantine repair (main.py:50-59 + the Autoloader anti-join
    * guard, Silver_update.py:50-60).
    */
  def silverUpdate(spark: SparkSession, bronzePath: String,
      silverDir: String): Long = {
    val quarantined = Medallion.filterStatus(
      spark.read.parquet(bronzePath), "quarantined")
    val flat = Medallion.flattenValue(quarantined).distinct()
    // Re-apply the quality gate AFTER the repair: abs() fixes negative
    // runtimes but leaves NULLs NULL, and promoting an unrepairable row
    // would launder it into silver as clean. Rows still failing the gate
    // stay quarantined (not inserted, not marked loaded) for the next
    // repair strategy.
    val (repaired, _) = Medallion.cleanQuarantineSplit(
      transformMovie(Medallion.repairAbs(flat, "RunTime")).distinct(), isClean)

    val repairedKeys = repaired.select(col("value")).distinct().checkpointed
    val n = Merge.antiJoinAppend(spark, repaired.drop("value"),
      s"$silverDir/movie_silver", Seq("Id"), "p_CreatedDate")
    updateBronzeStatus(spark, bronzePath, repairedKeys, "loaded")
    n
  }

  /** Full pipeline (main.py:63-65). */
  def run(spark: SparkSession, rawPath: String, bronzePath: String,
      silverDir: String): Unit = {
    rawToBronze(spark, rawPath, bronzePath)
    bronzeToSilver(spark, bronzePath, silverDir)
    silverUpdate(spark, bronzePath, silverDir)
  }
}
