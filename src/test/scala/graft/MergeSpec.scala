package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.merge.Merge

/** Merge-emulation semantics (SURVEY.md §2.6 J1/J2). */
class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def target = Seq(
    (1L, "new", 10.0), (2L, "new", 20.0), (3L, "loaded", 30.0)
  ).toDF("id", "status", "v")

  test("J1 whenMatchedUpdate: matched rows updated, others untouched") {
    val source = Seq((1L, "loaded"), (99L, "loaded")).toDF("id", "status")
    val out = Merge.whenMatchedUpdate(target, source, Seq("id"), Seq("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "loaded", 2L -> "new", 3L -> "loaded"))
  }

  test("J1 duplicate source keys do not multiply target rows") {
    val source = Seq((1L, "loaded"), (1L, "loaded")).toDF("id", "status")
    val out = Merge.whenMatchedUpdate(target, source, Seq("id"), Seq("status"))
    assert(out.count() === 3)
  }

  test("J1 struct-equality key (the reference's bronze.value merge)") {
    val t = Seq((1L, 120L, "new"), (2L, -95L, "new"))
      .toDF("Id", "RunTime", "status")
      .select(struct($"Id", $"RunTime").as("value"), $"status")
    val s = Seq((1L, 120L)).toDF("Id", "RunTime")
      .select(struct($"Id", $"RunTime").as("value"))
    val out = Merge.whenMatchedUpdateOn(t, s,
      (a, b) => a("value") === b("value"),
      Map("status" -> lit("loaded")))
    val byId = out.select($"value.Id", $"status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === Map(1L -> "loaded", 2L -> "new"))
  }

  test("J1 failOnMultipleMatches raises inside the single returned plan") {
    val t = Seq((1L, "new"), (2L, "new")).toDF("id", "status")
    val multi = Seq((1L, "a"), (1L, "b")).toDF("id", "tag")
    val out = Merge.whenMatchedUpdateOn(t, multi,
      (a, b) => a("id") === b("id"),
      Map("status" -> lit("loaded")),
      failOnMultipleMatches = true)
    val ex = intercept[Exception] { out.collect() }
    assert(ex.getMessage.contains("more than once") ||
      Option(ex.getCause).exists(_.getMessage.contains("more than once")))
    // a unique source passes the guard and updates normally
    val ok = Merge.whenMatchedUpdateOn(t,
      Seq((1L, "x")).toDF("id", "tag"),
      (a, b) => a("id") === b("id"),
      Map("status" -> lit("loaded")),
      failOnMultipleMatches = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ok === Map(1L -> "loaded", 2L -> "new"))
  }

  test("J2 whenNotMatchedInsert: only unmatched keys appended") {
    val source = Seq((3L, "x", 99.0), (4L, "y", 40.0)).toDF("id", "status", "v")
    val out = Merge.whenNotMatchedInsert(target, source, Seq("id"))
    assert(out.count() === 4)
    assert(out.filter($"id" === 3L && $"v" === 30.0).count() === 1) // kept target
    assert(out.filter($"id" === 4L).count() === 1) // inserted
  }

  test("upsert = update matched + insert unmatched") {
    val source = Seq((2L, "loaded", 21.0), (5L, "new", 50.0)).toDF("id", "status", "v")
    val out = Merge.upsert(target, source, Seq("id"), Seq("status", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out === Set((1L, "new", 10.0), (2L, "loaded", 21.0),
      (3L, "loaded", 30.0), (5L, "new", 50.0)))
  }

  test("diffSnapshots: change-typed keys only, null-safe compares") {
    val old = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (4L, None), (5L, None)).toDF("id", "v")
    val neu = Seq(
      (1L, Some("a")),   // unchanged → absent from the diff
      (2L, Some("B")),   // changed
      // 3 removed
      (4L, None),        // null == null → unchanged
      (5L, Some("x")),   // null → value: changed
      (6L, Some("n"))).toDF("id", "v") // added
    val diff = Merge.diffSnapshots(old, neu, "id", Seq("v"))
      .as[(Long, String)].collect().toSet
    assert(diff == Set((2L, "changed"), (3L, "removed"),
      (5L, "changed"), (6L, "added")))
  }

  test("scd2Apply: changed keys close+open intervals, no-op changes " +
      "leave none, new keys open, absent keys untouched") {
    import spark.implicits._
    val h1 = Merge.scd2Init(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      Seq("k"), Seq("v"), version = 1L)
    val changes = Seq(
      (1L, "a2"), // changed -> close [1,2), open [2, inf)
      (2L, "b"),  // no-op -> untouched
      (9L, "z")   // new key -> first interval at 2
    ).toDF("k", "v")
    val h2 = Merge.scd2Apply(h1, changes, Seq("k"), Seq("v"), version = 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"v", $"valid_from",
        coalesce($"valid_to", lit(-1L)).as("vt"), $"is_current")
      .as[(Long, String, Long, Long, Boolean)].collect().toSet
    assert(rows(h2) == Set(
      (1L, "a", 1L, 2L, false), (1L, "a2", 2L, -1L, true),
      (2L, "b", 1L, -1L, true),
      (3L, "c", 1L, -1L, true),
      (9L, "z", 2L, -1L, true)))
    // second fold: key 1 changes again -> three intervals; closed rows
    // never touched again
    val h3 = Merge.scd2Apply(h2, Seq((1L, "a3")).toDF("k", "v"),
      Seq("k"), Seq("v"), version = 5L)
    assert(rows(h3) == Set(
      (1L, "a", 1L, 2L, false), (1L, "a2", 2L, 5L, false),
      (1L, "a3", 5L, -1L, true),
      (2L, "b", 1L, -1L, true),
      (3L, "c", 1L, -1L, true),
      (9L, "z", 2L, -1L, true)))
    // as-of query: the interval containing version 3 for key 1 is a2
    val asOf3 = h3.filter($"k" === 1L && $"valid_from" <= 3L &&
        (col("valid_to").isNull || col("valid_to") > 3L))
      .select($"v").as[String].collect().toSeq
    assert(asOf3 == Seq("a2"))
    // duplicate change keys collapse (MERGE's unique-source contract)
    val dup = Merge.scd2Apply(h1,
      Seq((1L, "x"), (1L, "x")).toDF("k", "v"), Seq("k"), Seq("v"), 2L)
    assert(dup.filter($"k" === 1L).count() == 2L)
  }

  test("antiJoinAppend: replay-safe for keyed AND null-keyed rows") {
    val dir = TestSpark.tmpDir("anti_append")
    val path = s"$dir/t"
    val rows = Seq((Option(1), "ok", "a"), (Option.empty[Int], "bad", "a"))
      .toDF("Id", "v", "p")
    assert(Merge.antiJoinAppend(spark, rows, path, Seq("Id"), "p",
      nullKeyRowHash = true) === 2L)
    // exact replay: nothing re-appends — including the NULL-Id row, which
    // a plain Id anti-join could never match
    assert(Merge.antiJoinAppend(spark, rows, path, Seq("Id"), "p",
      nullKeyRowHash = true) === 0L)
    assert(spark.read.parquet(path).count() === 2)
    // a DIFFERENT null-keyed row is new content, not a replay
    val other = Seq((Option.empty[Int], "worse", "a")).toDF("Id", "v", "p")
    assert(Merge.antiJoinAppend(spark, other, path, Seq("Id"), "p",
      nullKeyRowHash = true) === 1L)
    assert(spark.read.parquet(path).count() === 3)
  }

  test("rewritePartitions rewrites named partitions and never touches the rest") {
    val dir = TestSpark.tmpDir("rewrite_parts")
    val path = s"$dir/t"
    Seq((1L, "new", "a"), (2L, "new", "b"), (3L, "new", "b"))
      .toDF("id", "status", "p")
      .write.partitionBy("p").parquet(path)

    // fingerprint partition b's files (name -> (length, mtime))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fingerprint(sub: String): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$sub"))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val untouchedBefore = fingerprint("p=b")

    Merge.rewritePartitions(spark, path, "p", Seq("a")) { df =>
      df.withColumn("status", lit("done"))
    }
    assert(fingerprint("p=b") === untouchedBefore) // byte-for-byte untouched
    val back = spark.read.parquet(path)
    assert(back.filter($"p" === "a" && $"status" === "done").count() === 1)
    assert(back.filter($"p" === "b" && $"status" === "new").count() === 2)

    // a partition whose rewrite output is empty is removed
    Merge.rewritePartitions(spark, path, "p", Seq("a")) { df =>
      df.filter(lit(false))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/p=a")))
    assert(spark.read.parquet(path).count() === 2)
    assert(fingerprint("p=b") === untouchedBefore)
  }

  test("rewritePartitions aborts on dir-name/value mismatch instead of deleting data") {
    val dir = TestSpark.tmpDir("rewrite_mismatch")
    val path = s"$dir/t"
    // zero-padded STRING partition values: directories p=01/p=02, but
    // partition-type inference reads them back as ints 1/2 — the string
    // cast can never equal "01"
    Seq((1L, "01"), (2L, "02")).toDF("id", "p")
      .write.partitionBy("p").parquet(path)
    val before = spark.read.parquet(path).count()
    val ex = intercept[IllegalStateException] {
      Merge.rewritePartitions(spark, path, "p", Seq("01")) { df => df }
    }
    assert(ex.getMessage.contains("matched no rows"), ex.getMessage)
    assert(spark.read.parquet(path).count() === before) // nothing deleted
    // the OTHER direction: the inferred rendering "1" matches p=01's rows
    // but has no same-named directory — installing it would duplicate the
    // partition beside the original
    val ex2 = intercept[IllegalStateException] {
      Merge.rewritePartitions(spark, path, "p", Seq("1")) { df => df }
    }
    assert(ex2.getMessage.contains("no same-named directory"), ex2.getMessage)
    assert(spark.read.parquet(path).count() === before)
  }

  test("rewritePartitions refuses to run next to a crashed rewrite's aside area") {
    val dir = TestSpark.tmpDir("rewrite_stale")
    val path = s"$dir/t"
    Seq((1L, "a")).toDF("id", "p").write.partitionBy("p").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${path}__rewrite_old_dead1"))
    val ex = intercept[IllegalStateException] {
      Merge.rewritePartitions(spark, path, "p", Seq("a")) { df => df }
    }
    assert(ex.getMessage.contains("stale aside"), ex.getMessage)
    // cleanup restores operability
    fs.delete(new org.apache.hadoop.fs.Path(s"${path}__rewrite_old_dead1"), true)
    Merge.rewritePartitions(spark, path, "p", Seq("a")) { df =>
      df.withColumn("id", $"id" + 1)
    }
    assert(spark.read.parquet(path).head().getLong(0) === 2L)
  }

  test("rewritePartitions aborts when f moves rows outside the requested set") {
    val dir = TestSpark.tmpDir("rewrite_stray")
    val path = s"$dir/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(path)
    val before = spark.read.parquet(path).collect().toSet
    val ex = intercept[IllegalStateException] {
      Merge.rewritePartitions(spark, path, "p", Seq("a")) { df =>
        df.withColumn("p", lit("c")) // rows would land in p=c and vanish
      }
    }
    assert(ex.getMessage.contains("outside the requested set"), ex.getMessage)
    assert(spark.read.parquet(path).collect().toSet === before) // untouched
    // debris from the aborted run (and any crash) is reclaimable
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${path}__rewrite_tmp_dead"))
    val removed = Merge.cleanRewriteDebris(spark, path)
    assert(removed.exists(_.contains("__rewrite_tmp")), removed.toString)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${path}__rewrite_tmp_dead")))
  }
}
