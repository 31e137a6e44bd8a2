package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CheckpointOps

/** The reference's operator library (see SURVEY.md §2), generalized into
  * reusable `DataFrame => DataFrame` combinators.
  *
  * Mirrors `/root/reference/Batch_notebook/operations/operations.py` 19-165
  * in capability, re-expressed Spark-first: every op is a lazy logical-plan
  * transformation (Catalyst handles pushdown/pruning); nothing collects to
  * the driver; writes are partitioned for scale.
  */
object Medallion {

  /** S1 — multiline JSON scan (operations.py:19-21). One task per file (a
    * multiline JSON doc is not splittable); callers should repartition after
    * explode when the downstream work is heavy. FAILFAST: a malformed
    * (e.g. truncated) file fails the read instead of becoming a
    * `_corrupt_record` row whose NULL record array `explodeRecords` would
    * silently drop; [[readRawJsonSafe]] is the quarantining read.
    */
  def readRawJson(spark: SparkSession, path: String): DataFrame =
    spark.read.format("json").option("multiline", "true")
      .option("mode", "FAILFAST").load(path)

  /** S1 with corrupt-input quarantine: PERMISSIVE multiline-JSON read that
    * routes unparseable documents to a `_corrupt_record` side output
    * instead of failing the batch (FAILFAST) or silently dropping them
    * (DROPMALFORMED) — the bronze-layer contract is that EVERY raw input
    * lands somewhere. Returns (valid, corrupt); `corrupt` carries the raw
    * text of each malformed document for a quarantine sink.
    *
    * The corrupt side is computed under a short-lived cache purely to
    * satisfy Spark's rule against corrupt-column-only queries on a direct
    * file relation; the valid side stays a lazy plan that re-reads the
    * source on use (deliberate: recomputable lineage over a pinned cache).
    */
  def readRawJsonSafe(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val df = spark.read.format("json")
      .option("multiline", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(path)
    if (df.columns.contains("_corrupt_record")) {
      // The corrupt side references ONLY the corrupt column, which Spark
      // disallows as a direct query on the file relation — so it is
      // computed under a short-lived cache and materialized (it is the
      // small side by construction). The VALID side stays a lazy,
      // recomputable plan: materializing it would truncate lineage (an
      // executor loss later could not recompute), and pinning the cache
      // for the caller's lifetime would leak executor storage.
      val cached = df.cache()
      val corrupt =
        try cached.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record")).checkpointed
        finally cached.unpersist()
      val valid = df.filter(col("_corrupt_record").isNull)
        .drop("_corrupt_record")
      (valid, corrupt)
    } else {
      // No malformed inputs: still hand back a corrupt side with the
      // SAME one-column schema, so quarantine sinks written against it
      // analyze identically on clean and dirty batches.
      val emptyCorrupt = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType))))
      (df, emptyCorrupt)
    }
  }

  /** Schema-drift rescue for the frozen-schema ingestion path: the
    * reference probes a schema once and parses with it forever
    * (Raw_to_Bronze.py:21-38), which silently DROPS any field added to
    * the feed later. This reads each record against the frozen
    * `recordSchema` AND as a raw map, surfacing unknown top-level fields
    * in a `_rescued` map<string,string> column (NULL when nothing was
    * rescued) — the stock-Spark analog of Autoloader's `_rescued_data`.
    * Values arrive as raw JSON text (scalars unquoted, objects as JSON),
    * ready for a quarantine/evolution decision downstream. Per-row,
    * scan-stage; the double parse is the price of rescue and is confined
    * to this entry point.
    *
    * `arrayField` names the top-level array of records (the reference's
    * `movie`).
    */
  def readJsonWithRescue(spark: SparkSession, path: String,
      recordSchema: org.apache.spark.sql.types.StructType,
      arrayField: String = "movie"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
    val docs = spark.read.option("wholetext", "true").text(path)
    // TWO-STAGE parse, both to string targets (Spark's JSON parser
    // renders any node as its raw source text when the target type is
    // string): doc → map<string,string> first, THEN only the record
    // array's entry → array<string>. A single map<string,array<string>>
    // parse would NULL the whole document — dropping every record — the
    // moment the feed drifts at the DOC level (any non-array top-level
    // field), which is precisely the drift this entry point tolerates.
    val recs = docs.select(explode(from_json(
        from_json(col("value"), MapType(StringType, StringType))
          .getItem(arrayField),
        ArrayType(StringType))).as("__raw"))
    val known = recordSchema.fieldNames.toSeq
    val asMap = from_json(col("__raw"), MapType(StringType, StringType))
    val rescued = map_filter(asMap,
      (k, _) => !array_contains(array(known.map(lit): _*), k))
    recs.select(
      from_json(col("__raw"), recordSchema).as("record"),
      when(size(map_keys(rescued)) > 0, rescued).as("_rescued"))
  }

  /** S3 — schema probe: infer a schema from a batch read so a streaming
    * source (which requires an explicit schema) can reuse it
    * (Autoloader_notebook/Raw_to_Bronze.py:21-23).
    */
  def probeSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    readRawJson(spark, path).schema

  /** G1 — explode a top-level record array into one row per record
    * (operations.py:21).
    */
  def explodeRecords(df: DataFrame, arrayCol: String,
      as: String = "record"): DataFrame =
    df.select(explode(col(arrayCol)).as(as))

  /** P1 — bronze envelope: wrap the record in `value` and attach ingestion
    * metadata (operations.py:25-32). `ingestTime` is injectable so tests and
    * oracle queries stay deterministic (the reference hard-codes
    * current_timestamp()).
    */
  def transformRaw(df: DataFrame, recordCol: String, datasource: String,
      ingestTime: Column = current_timestamp()): DataFrame =
    df.select(
      col(recordCol).as("value"),
      lit(datasource).as("datasource"),
      ingestTime.as("ingesttime"),
      lit("new").as("status"),
      ingestTime.cast("date").as("p_ingestdate"))

  /** P2 — struct flatten: keep the struct column and expand its fields to
    * top level (operations.py:60).
    */
  def flattenStruct(df: DataFrame, structCol: String): DataFrame =
    df.select(col(structCol), col(s"$structCol.*"))

  /** P2 (canonical form) — `select("value", "value.*")`. */
  def flattenValue(df: DataFrame): DataFrame =
    df.select(col("value"), col("value.*"))

  /** P4 — conditional floor rewrite (operations.py:84):
    * when(c < floor, floor).otherwise(c).
    */
  def withFloor(df: DataFrame, c: String, floor: Long): DataFrame =
    df.withColumn(c, when(col(c) < floor, lit(floor)).otherwise(col(c)))

  /** P5 — status equality filter (operations.py:49,136). Pushed to the scan
    * by Catalyst when applied directly over a source.
    */
  def filterStatus(df: DataFrame, status: String): DataFrame =
    df.filter(col("status") === status)

  /** P6 — clean/quarantine split on a predicate (operations.py:103-107).
    * Returns (clean, quarantined): two sibling plans over the same parent.
    * Rows where the predicate is NULL go to quarantine (deliberate
    * divergence: the reference's twin filters drop NULL-predicate rows
    * from BOTH sides, leaving their bronze status 'new' forever — silent
    * data loss plus unbounded reprocessing; quarantining them keeps every
    * row accounted for and repairable). Caller may `.cache()` the parent
    * when both sides are consumed — the reference recomputes (SURVEY §3.2).
    */
  def cleanQuarantineSplit(df: DataFrame, cleanPred: Column)
      : (DataFrame, DataFrame) = {
    val pred = coalesce(cleanPred, lit(false))
    (df.filter(pred), df.filter(!pred))
  }

  /** P10 — numeric repair via abs (operations.py:141). */
  def repairAbs(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, abs(col(c)))

  /** A1 + P7 + O1 — dimension extraction à la `fix_genres`
    * (operations.py:53-54): explode an array-of-struct column, flatten,
    * dedup, drop empties, sort. The distinct is the only shuffle; sort is a
    * range partition.
    */
  def dimensionFromArray(df: DataFrame, arrayCol: String,
      nameCol: String = "name", idCol: String = "id"): DataFrame =
    df.select(explode(col(arrayCol)).as("g"))
      .select(col(s"g.$idCol").as("Id"), col(s"g.$nameCol").as(nameCol))
      .distinct()
      // empty names AND null ids are malformed dimension rows; a null Id
      // would also defeat the upsert's anti-join (NULL never matches) and
      // re-append on every batch
      .filter(col(nameCol) =!= "" && col("Id").isNotNull)
      .orderBy("Id")

  /** K1 — partitioned batch writer (operations.py:36-44): drop excluded
    * columns, write parquet partitioned by `partitionCol`. Parquet stands in
    * for Delta (no Delta jars in this environment; the reference uses Delta
    * purely as a writer format — SURVEY.md §7.5).
    */
  def batchWriter(df: DataFrame, path: String, partitionCol: String,
      excludeCols: Seq[String] = Nil, mode: String = "append"): Unit = {
    val pruned = if (excludeCols.isEmpty) df else df.drop(excludeCols: _*)
    pruned.write.format("parquet").mode(mode)
      .partitionBy(partitionCol).save(path)
  }
}
