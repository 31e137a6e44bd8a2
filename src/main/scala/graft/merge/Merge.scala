package graft.merge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-MERGE emulation with stock Spark joins (SURVEY.md §2.6).
  *
  * The reference's only nontrivial relational ops are Delta MERGE upserts:
  *  - J1 `whenMatchedUpdate` — update target columns where a source row
  *    matches on the key (operations.py:112-129; the reference keys on the
  *    full nested struct column `value`, which Spark joins natively).
  *  - J2 `whenNotMatchedInsertAll` — insert source rows that have no key
  *    match in the target (Autoloader_notebook/Silver_update.py:50-60).
  *
  * Scale notes: both are plain equi-joins, so Catalyst picks broadcast vs
  * sort-merge by size and AQE handles skew. The merge *source* in the
  * reference's pipelines is always the small side (one microbatch / one
  * day's quarantine set), so at 100 TB the target never re-shuffles for J2
  * (broadcast anti-join) and J1 is a single shuffle-or-broadcast join —
  * never a driver-side loop.
  */
object Merge {

  /** CDC-style snapshot diff — the inverse of MERGE: given two versions
    * of a keyed table, emit what a MERGE would have to apply to turn
    * `old` into `neu`: one row per key whose state changed, tagged
    * `added` (key only in `neu`), `removed` (only in `old`), or
    * `changed` (present in both, any of `cmpCols` differs — null-safe).
    * Unchanged keys emit NOTHING: the diff is change-sized, not
    * corpus-sized, which is what makes auditing a 100 TB refresh
    * feasible. One full-outer equi-join on the key (AQE sizes it); at
    * scale `cmpCols` should be fingerprints, not document bodies — the
    * join then moves fixed-width columns only.
    */
  def diffSnapshots(old: DataFrame, neu: DataFrame, idCol: String,
      cmpCols: Seq[String]): DataFrame = {
    require(cmpCols.nonEmpty, "diffSnapshots needs at least one compare column")
    val o = old.select(col(idCol) +: cmpCols.map(c => col(c).as(s"__o_$c")) :+
      lit(1).as("__in_o"): _*)
    val n = neu.select(col(idCol) +: cmpCols.map(c => col(c).as(s"__n_$c")) :+
      lit(1).as("__in_n"): _*)
    val differs = cmpCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__in_o").isNull, lit("added"))
          .when(col("__in_n").isNull, lit("removed"))
          .when(differs, lit("changed")))
      .filter(col("change").isNotNull)
      .select(col(idCol), col("change"))
  }

  /** SCD TYPE-2 history bootstrap: every snapshot row becomes an open
    * interval [version, ∞) — (keyCols..., valueCols..., valid_from,
    * valid_to NULL, is_current true). */
  def scd2Init(snapshot: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String], version: Long): DataFrame =
    snapshot.select((keyCols ++ valueCols).map(col): _*)
      .dropDuplicates(keyCols)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** SCD TYPE-2 apply — the warehouse-standard DIMENSION HISTORY form
    * of MERGE (Kimball's slowly-changing dimension, type 2): instead of
    * overwriting a matched row ([[whenMatchedUpdate]]), a changed key
    * CLOSES its current interval (valid_to = version, is_current =
    * false) and opens a new one [version, ∞) — every historical value
    * stays queryable by validity interval ("status of order X as of
    * version V" = the row with valid_from <= V < coalesce(valid_to,
    * ∞)).
    *
    * Change semantics: `changes` rows are deduplicated on the key
    * (MERGE's unique-source contract); a change equal to the key's
    * current value is a no-op (no empty intervals); a NEW key opens its
    * first interval; an ABSENT key is no change (deletes are a separate
    * tombstone-valued change if the dimension needs them). Comparison
    * is null-safe per value column.
    *
    * Scale shape: two key-equi-joins of the change batch against the
    * CURRENT slice plus unions — change-batch-sized work over a
    * key-partitionable history, no windows, no skew surprises (the
    * history would be stored partitioned/bucketed by key).
    */
  def scd2Apply(history: DataFrame, changes: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String],
      version: Long): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty,
      "scd2Apply needs key and value columns")
    val ch = changes.select((keyCols ++ valueCols).map(col): _*)
      .dropDuplicates(keyCols)
    val cur = history.filter(col("is_current"))
    val past = history.filter(!col("is_current"))
    val chMark = ch.select(keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"__n_$c")) :+ lit(1).as("__in_n"): _*)
    val differs = valueCols
      .map(c => !(col(c) <=> col(s"__n_$c"))).reduce(_ || _)
    val joined = cur.join(chMark, keyCols, "left")
    val expired = joined
      .filter(col("__in_n").isNotNull && differs)
      .select(history.columns.map(col): _*)
      .withColumn("valid_to", lit(version))
      .withColumn("is_current", lit(false))
    val carried = joined
      .filter(col("__in_n").isNull || !differs)
      .select(history.columns.map(col): _*)
    val curMark = cur.select(keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"__c_$c")) :+ lit(1).as("__in_c"): _*)
    val differsCur = valueCols
      .map(c => !(col(c) <=> col(s"__c_$c"))).reduce(_ || _)
    val fresh = ch.join(curMark, keyCols, "left")
      .filter(col("__in_c").isNull || differsCur)
      .select((keyCols ++ valueCols).map(col): _*)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    past.unionByName(expired).unionByName(carried).unionByName(fresh)
  }

  /** J1 — for each target row with a matching source row on `keyCols`, set
    * each column in `setCols` to the source's value; other rows pass
    * through unchanged. Equivalent to
    * `MERGE ... WHEN MATCHED THEN UPDATE SET c = s.c`.
    *
    * Source is deduplicated on the key first (MERGE requires unique source
    * keys; duplicates would multiply target rows through the join).
    */
  def whenMatchedUpdate(target: DataFrame, source: DataFrame,
      keyCols: Seq[String], setCols: Seq[String]): DataFrame = {
    val src = source
      .select((keyCols ++ setCols).map(col): _*)
      .dropDuplicates(keyCols)
      .select(keyCols.map(col) ++
        setCols.map(c => col(c).as(s"__src_$c")) :+
        lit(true).as("__matched"): _*)
    val joined = target.join(src, keyCols, "left")
    // Branch on an explicit match flag, NOT coalesce: a matched source row
    // carrying NULL in a set column must update the target to NULL (MERGE
    // semantics), which coalesce would silently swallow.
    setCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c,
        when(col("__matched"), col(s"__src_$c")).otherwise(col(c)))
    }.drop((setCols.map(c => s"__src_$c") :+ "__matched"): _*)
  }

  /** J1 with an arbitrary (e.g. struct-equality) join condition, as the
    * reference uses: `bronze.value = source.value` (operations.py:122-127).
    * `setExprs` maps target column -> value when matched.
    *
    * The source is full-row deduplicated first (disable via `dedupSource`
    * when the caller already guarantees distinctness). Beyond that,
    * callers must ensure at most one source row matches each target row
    * under `cond`; with `failOnMultipleMatches` the function verifies that
    * invariant with one extra count and raises like Delta MERGE would,
    * instead of silently multiplying target rows.
    */
  def whenMatchedUpdateOn(target: DataFrame, source: DataFrame,
      cond: (DataFrame, DataFrame) => Column,
      setExprs: Map[String, Column],
      dedupSource: Boolean = true,
      failOnMultipleMatches: Boolean = false): DataFrame = {
    // With the multi-match guard the target gets a synthetic row id and the
    // invariant is checked INSIDE the returned plan (count-over-window +
    // raise_error), so validation and production run one join in one job —
    // the previous two-pass form ran the join twice and, with a
    // non-deterministic source, could validate a different plan than it
    // returned. Cost of the guard: one extra window shuffle on the row id.
    val withGuard = failOnMultipleMatches
    val t0 = if (withGuard) target.withColumn("__tid", monotonically_increasing_id())
             else target
    val t = t0.alias("t")
    val src = if (dedupSource) source.distinct() else source
    val s = src.alias("s").withColumn("__matched", lit(true))
    val joined = t.join(s, cond(t, s), "left")
    val guarded = if (withGuard) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__tid"))
      joined
        .withColumn("__mcount", count(when(col("__matched"), 1)).over(w))
        .filter(when(col("__mcount") > 1, raise_error(lit(
          "MERGE source matches some target row more than once")))
          .otherwise(lit(true)))
    } else joined
    val updated = setExprs.foldLeft(guarded) { case (df, (c, v)) =>
      df.withColumn(s"__new_$c", when(col("__matched"), v).otherwise(col(s"t.$c")))
    }
    val tCols = target.columns.toSeq
    updated.select(tCols.map { c =>
      if (setExprs.contains(c)) col(s"__new_$c").as(c) else col(s"t.$c")
    }: _*)
  }

  /** J2 — append source rows whose key is absent from the target
    * (left-anti join insert). Equivalent to
    * `MERGE ... WHEN NOT MATCHED THEN INSERT *`.
    */
  def whenNotMatchedInsert(target: DataFrame, source: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val newRows = source.join(
      target.select(keyCols.map(col): _*).dropDuplicates(keyCols),
      keyCols, "left_anti")
    target.unionByName(
      newRows.select(target.columns.toIndexedSeq.map(col): _*))
  }

  /** Full upsert: update matched, insert unmatched. */
  def upsert(target: DataFrame, source: DataFrame,
      keyCols: Seq[String], setCols: Seq[String]): DataFrame =
    whenNotMatchedInsert(
      whenMatchedUpdate(target, source, keyCols, setCols), source, keyCols)

  /** Idempotent keyed append into a path-backed parquet table: writes only
    * the rows of `df` whose key is absent from the table — the ONE replay
    * guard every medallion sink shares (crash-replays and reruns re-offer
    * the same rows; the anti-join makes the second offer a no-op).
    * Handles the absent-table and footerless-directory cases
    * (schema-specified read), materializes the anti-join once
    * (localCheckpoint) so the emptiness probe doesn't re-run the plan, and
    * skips empty writes. Returns the number of rows appended.
    *
    * `nullKeyRowHash = true` extends the guard to rows with NULL keys
    * (quarantine tables hold malformed rows): such rows match by a
    * whole-row hash instead, since NULL never equals NULL in a join and
    * null-keyed rows would otherwise re-append on every replay.
    */
  def antiJoinAppend(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String], partitionCol: String,
      nullKeyRowHash: Boolean = false): Long = {
    require(keyCols.nonEmpty, "antiJoinAppend needs at least one key column")
    val exists = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))
    if (!exists) {
      // first load: nothing to guard against — write in ONE pass (the
      // emptiness probe is a limit-1 job, not a plan re-execution; a
      // localCheckpoint here would spool the whole bulk load to executor
      // disk before writing it again)
      if (df.isEmpty) return 0L
      df.write.format("parquet").mode("append")
        .partitionBy(partitionCol).save(path)
      return spark.read.schema(df.schema).parquet(path).count()
    }
    val existing = spark.read.schema(df.schema).parquet(path)
    val fresh = (if (!nullKeyRowHash)
      df.join(
        existing.select(keyCols.map(col): _*).dropDuplicates(keyCols),
        keyCols, "left_anti")
    else {
      // Match key: length-prefixed segments (injective — a bare concat
      // would collide ("ab","c") with ("a","bc")); null-keyed rows fall
      // back to a whole-row hash, AND the join re-checks full row
      // equality for hashed rows so a 64-bit collision between two
      // genuinely different rows cannot silently drop one.
      def withKey(frame: DataFrame): DataFrame = frame.withColumn("__mk",
        when(keyCols.map(col(_).isNotNull).reduce(_ && _),
          concat_ws(":", lit("k") +: keyCols.map { c =>
            val st = col(c).cast("string")
            concat(length(st).cast("string"), lit("_"), st)
          }: _*))
          .otherwise(concat(lit("h"),
            xxhash64(frame.columns.toIndexedSeq.map(col): _*).cast("string"))))
      val l = withKey(df)
      val r = withKey(existing)
      val rowEq = df.columns.map(c => l(c) <=> r(c)).reduce(_ && _)
      l.join(r, l("__mk") === r("__mk") &&
          (!l("__mk").startsWith("h") || rowEq), "left_anti")
        .drop("__mk")
    }).localCheckpoint(true)
    val n = fresh.count()
    if (n > 0) {
      fresh.write.format("parquet").mode("append")
        .partitionBy(partitionCol).save(path)
      // appended files invalidate any serving reader pinning this
      // layout's file listing (no-op when nothing serves it)
      graft.functions.Serving.invalidatePath(path)
    }
    n
  }

  /** Partition-restricted rewrite: read ONLY the hive-style partitions of
    * `path` whose `partitionCol` value is in `partValues`, apply `f`, and
    * swap just those partition directories — untouched partitions' files
    * are never read or rewritten. This is the stock-parquet analog of
    * Delta MERGE's file-level rewrite: at 100 TB a status writeback that
    * matches one day's keys rewrites one day's partitions, not the table.
    *
    * `partValues` are compared via a string cast of the inferred partition
    * column. When type inference renders a value differently from its
    * directory name (e.g. a zero-padded string directory inferred as int),
    * the rewrite ABORTS with an error rather than mistaking the mismatch
    * for an empty partition. A partition whose rewrite output is genuinely
    * empty is removed, matching a whole-table rewrite's result.
    */
  def rewritePartitions(spark: SparkSession, path: String, partitionCol: String,
      partValues: Seq[String])(f: DataFrame => DataFrame): Unit = {
    if (partValues.isEmpty) return
    val base = path.stripSuffix("/")
    val runId = java.util.UUID.randomUUID.toString.take(8)
    val tmp = s"${base}__rewrite_tmp_$runId"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)

    // A leftover aside area means a previous rewrite crashed MID-SWAP and
    // that area may hold the only copy of a partition. Proceeding would
    // rewrite around (or a shared-name scheme would delete) that copy —
    // refuse until an operator restores or removes it.
    val parent = new org.apache.hadoop.fs.Path(base).getParent
    val baseName = new org.apache.hadoop.fs.Path(base).getName
    val stale = fs.listStatus(parent)
      .map(_.getPath.getName)
      .filter(_.startsWith(baseName + "__rewrite_old"))
    if (stale.nonEmpty)
      throw new IllegalStateException(
        s"rewritePartitions: stale aside area(s) ${stale.mkString(", ")} " +
          s"next to $base — a previous rewrite crashed mid-swap and they " +
          "may hold the only copy of a partition; restore or remove them " +
          "before rewriting")

    // The isin predicate references only the partition column, so the file
    // index prunes non-matching directories before any footer is read. The
    // frame is cached: the mismatch guard below and the rewrite write are
    // two consumers, and without the cache each would re-read the
    // partitions' files.
    val sub = spark.read.parquet(path)
      .filter(col(partitionCol).cast("string").isin(partValues: _*))
      .cache()
    try {
      // Guard against silent corruption from a directory-name /
      // runtime-value mismatch: partition-type inference can render a
      // value differently from its directory name (dir p=01 inferred as
      // int 1). BOTH directions are fatal: a live directory whose value
      // matched no rows would be deleted as "emptied"; matched rows with
      // no same-named directory would be installed BESIDE their real
      // directory, duplicating the partition.
      val readValues = sub.select(col(partitionCol).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      partValues.foreach { v =>
        val live = new org.apache.hadoop.fs.Path(s"$base/$partitionCol=" +
          org.apache.spark.sql.GraftBridge.escapePartitionValue(v))
        val (exists, read) = (fs.exists(live), readValues.contains(v))
        if (exists != read)
          throw new IllegalStateException(
            s"rewritePartitions: value '$v' " +
              (if (exists) "has a directory but matched no rows"
               else "matched rows but has no same-named directory") +
              " — partition-type inference renders this value differently " +
              "from its directory name; aborting to avoid " +
              (if (exists) "deleting" else "duplicating") + " the partition")
      }

      f(sub).write.mode("overwrite").format("parquet")
        .partitionBy(partitionCol).save(tmp)
    } finally sub.unpersist()

    // f must not MOVE rows to partitions outside the requested set: the
    // swap below installs only partValues' directories, so rows written
    // to any other partition would vanish with the tmp cleanup while the
    // source partition is removed as "emptied" — silent data loss.
    // (To change a row's partition, rewrite with the target partition
    // included in partValues.)
    val escaped = partValues.map(
      org.apache.spark.sql.GraftBridge.escapePartitionValue).toSet
    val strays = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath.getName)
      .filter(n => n.startsWith(s"$partitionCol=") &&
        !escaped.contains(n.stripPrefix(s"$partitionCol=")))
    if (strays.nonEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      throw new IllegalStateException(
        s"rewritePartitions: f produced rows in partition(s) " +
          s"${strays.mkString(", ")} outside the requested set — aborting " +
          "before the swap (include those values in partValues to move rows)")
    }

    // The aside area lives OUTSIDE the table root (an aside directory
    // inside it would be discovered as a partition and double-read) and is
    // run-scoped (a shared name would let a concurrent rewrite of OTHER
    // partitions delete this run's only copy mid-swap).
    val asideRoot = new org.apache.hadoop.fs.Path(s"${base}__rewrite_old_$runId")
    if (!fs.mkdirs(asideRoot))
      throw new java.io.IOException(s"rewritePartitions: cannot create $asideRoot")
    partValues.foreach { v =>
      // writers hive-escape special chars in directory names; address the
      // real on-disk names, not the raw values
      val dir = s"$partitionCol=" +
        org.apache.spark.sql.GraftBridge.escapePartitionValue(v)
      val live = new org.apache.hadoop.fs.Path(s"$base/$dir")
      val fresh = new org.apache.hadoop.fs.Path(s"$tmp/$dir")
      val aside = new org.apache.hadoop.fs.Path(asideRoot, dir)
      if (fs.exists(live) && !fs.rename(live, aside))
        throw new java.io.IOException(s"rewritePartitions: cannot move $live aside")
      if (fs.exists(fresh) && !fs.rename(fresh, live)) {
        fs.rename(aside, live) // best-effort rollback
        throw new java.io.IOException(s"rewritePartitions: cannot install $fresh")
      }
    }
    fs.delete(asideRoot, true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    invalidateAfterSwap(spark, fs, base)
  }

  /** Remove SAFE rewrite debris left by crashed rewrites: `__rewrite_tmp_*`
    * staging directories, which are never the only copy of anything (the
    * live table is intact until the swap begins). `__rewrite_old*` ASIDE
    * areas are NEVER touched — after a mid-swap crash an aside holds the
    * only copy of a partition, and
    * the stale-aside guard in `rewritePartitions` deliberately refuses to
    * run until an operator restores or removes them BY HAND after checking
    * their contents. Call when no rewrite of the table is running (a live
    * rewrite's own tmp would be swept too). Returns removed names.
    */
  def cleanRewriteDebris(spark: SparkSession, path: String): Seq[String] = {
    val base = path.stripSuffix("/")
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"cleanRewriteDebris: live table $base is missing — a mid-swap crash " +
        "may have left its only copy in an aside area; recover manually")
    val baseName = p.getName
    fs.listStatus(p.getParent)
      .map(_.getPath)
      .filter(_.getName.startsWith(baseName + "__rewrite_tmp"))
      .map { d => fs.delete(d, true); d.getName }
      .toSeq.sorted
  }

  /** Post-swap invalidation after a partition rewrite.
    *
    * 1. A table WRITTEN BY A STREAMING FILE SINK carries a _spark_metadata
    *    transaction log, and every reader (batch and streaming) resolves
    *    the file list from that log, NOT from a directory listing — after
    *    a swap the log still names the replaced files and readers die with
    *    FileNotFoundException. The rewrite has invalidated the log's
    *    append-only history, so it is removed, converting the table to a
    *    plain listing-based directory. (Never rewrite a table whose sink
    *    query is still running.)
    * 2. Cached plans and the session file-listing cache are refreshed so
    *    existing DataFrames re-resolve the new files.
    */
  private def invalidateAfterSwap(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: String): Unit = {
    val sinkLog = new org.apache.hadoop.fs.Path(s"$base/_spark_metadata")
    if (fs.exists(sinkLog) && !fs.delete(sinkLog, true))
      throw new java.io.IOException(
        s"rewrite: cannot remove streaming-sink log $sinkLog")
    spark.catalog.refreshByPath(base)
    org.apache.spark.sql.GraftBridge.invalidateFileListingCache(spark)
    // cached serving sessions pin their own reader frames (their child
    // session has its own FileStatusCache) — drop any serving this path
    graft.functions.Serving.invalidatePath(base)
  }
}
