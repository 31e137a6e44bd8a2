package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Medallion
import graft.pipeline.MoviePipeline

/** Unit tests for the reference-derived operator library over the movie
  * fixture (FIXTURES.md §A branch behaviors).
  */
class MedallionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val rawDir = MovieFixture.writeRaw(TestSpark.tmpDir("raw"))
  lazy val bronze = {
    val raw = Medallion.readRawJson(spark, rawDir)
    Medallion.transformRaw(
      Medallion.explodeRecords(raw, "movie", "record"), "record", "movie.json")
  }
  lazy val flat = Medallion.flattenValue(bronze)

  test("S1+G1: multiline JSON read explodes to one row per record") {
    assert(bronze.count() === 4)
  }

  test("S1 safe read: corrupt documents quarantine instead of failing or vanishing") {
    val dir = TestSpark.tmpDir("raw_corrupt")
    val good = new java.io.File(s"$dir/good.json")
    val bad = new java.io.File(s"$dir/bad.json")
    java.nio.file.Files.writeString(good.toPath,
      """{"movie": [{"Id": 1, "Title": "ok"}, {"Id": 2, "Title": "also ok"}]}""")
    java.nio.file.Files.writeString(bad.toPath,
      """{"movie": [{"Id": 3, "Title": "truncated...""")
    val (valid, corrupt) = Medallion.readRawJsonSafe(spark, dir)
    assert(Medallion.explodeRecords(valid, "movie").count() === 2)
    assert(corrupt.count() === 1)
    assert(corrupt.head().getString(0).contains("truncated"))
    // an all-valid directory yields an empty corrupt side
    val cleanDir = TestSpark.tmpDir("raw_clean")
    java.nio.file.Files.writeString(
      new java.io.File(s"$cleanDir/good.json").toPath,
      """{"movie": [{"Id": 1, "Title": "ok"}]}""")
    val (v2, c2) = Medallion.readRawJsonSafe(spark, cleanDir)
    assert(v2.count() === 1)
    assert(c2.isEmpty)
    // the corrupt side has the SAME schema on clean batches, so a
    // quarantine sink analyzes identically either way
    assert(c2.columns.toSeq === Seq("_corrupt_record"))
    assert(c2.select(col("_corrupt_record")).count() === 0)
  }

  test("S1 strict read: a truncated raw file fails rawToBronze and " +
      "leaves bronze unwritten") {
    val dir = TestSpark.tmpDir("raw_truncated")
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir/good.json").toPath,
      """{"movie": [{"Id": 1, "Title": "ok"}, {"Id": 2, "Title": "also ok"}]}""")
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir/bad.json").toPath,
      """{"movie": [{"Id": 3, "Title": "truncated...""")
    val bronzePath = s"${TestSpark.tmpDir("bronze_truncated")}/bronze"
    val err = intercept[Exception] {
      MoviePipeline.rawToBronze(spark, dir, bronzePath)
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("Malformed")),
      err.toString)
    assert(!new java.io.File(bronzePath).exists(),
      "bronze must stay unwritten when a raw file is malformed")
  }

  test("schema drift: unknown record fields rescue instead of vanishing") {
    val dir = TestSpark.tmpDir("raw_drift")
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir/feed.json").toPath,
      """{"movie": [
        {"Id": 1, "Title": "plain"},
        {"Id": 2, "Title": "drifted", "Rating": 5, "Tags": {"a": 1}}
      ]}""")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("Title",
        org.apache.spark.sql.types.StringType)))
    val out = Medallion.readJsonWithRescue(spark, dir, schema)
    assert(out.count() === 2)
    // known fields parse through the frozen schema
    assert(out.select("record.Id", "record.Title").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "plain", 2L -> "drifted"))
    // a clean record carries NULL, the drifted one its unknown fields
    val plain = out.filter(col("record.Id") === 1).head()
    assert(plain.isNullAt(1))
    val drifted = out.filter(col("record.Id") === 2)
      .select("_rescued").head().getMap[String, String](0)
    assert(drifted.keys.toSet === Set("Rating", "Tags"))
    assert(drifted("Rating") === "5")
    assert(drifted("Tags").contains("\"a\"")) // nested object as raw JSON
    // DOC-level drift (a non-array top-level field) must not null out the
    // document and swallow its records
    val dir2 = TestSpark.tmpDir("raw_drift_doc")
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir2/feed.json").toPath,
      """{"api_version": 3, "movie": [{"Id": 9, "Title": "still here"}]}""")
    val out2 = Medallion.readJsonWithRescue(spark, dir2, schema)
    assert(out2.count() === 1)
    assert(out2.select("record.Id").head().getLong(0) === 9L)
  }

  test("P1: bronze envelope carries metadata and status=new") {
    val row = bronze.select("datasource", "status").distinct().collect()
    assert(row.length === 1)
    assert(row(0).getString(0) === "movie.json")
    assert(row(0).getString(1) === "new")
  }

  test("P2: struct flatten exposes record fields and keeps value") {
    assert(flat.columns.contains("value"))
    assert(flat.columns.contains("Id"))
    assert(flat.columns.contains("RunTime"))
  }

  test("P4: budget floor rewrites only sub-floor budgets") {
    val m = MoviePipeline.transformMovie(flat)
    val budgets = m.select("Id", "Budget").distinct().collect()
      .map(r => r.getAs[Int]("Id") -> r.getAs[Long]("Budget")).toMap
    assert(budgets(1) === 100000L) // floored from 50000
    assert(budgets(2) === 2000000L) // untouched
  }

  test("P6+A1: clean/quarantine split partitions the distinct rows") {
    val m = MoviePipeline.transformMovie(flat).distinct()
    val (clean, quarantined) =
      Medallion.cleanQuarantineSplit(m, col("RunTime") >= 0)
    assert(m.count() === 3) // duplicate Id=3 removed
    assert(clean.count() === 2)
    assert(quarantined.count() === 1)
    assert(clean.intersect(quarantined).count() === 0)
    assert(clean.union(quarantined).exceptAll(m).count() === 0)
  }

  test("P6: the split's counts match both sides, NULL-predicate rows " +
      "counted as quarantined") {
    val m = MoviePipeline.transformMovie(flat).distinct()
      .withColumn("RunTime", when(col("Id") === 1, lit(null))
        .otherwise(col("RunTime")))
    val pred = col("RunTime") >= 0
    val (clean, quarantined) = Medallion.cleanQuarantineSplit(m, pred)
    val counts = Medallion.cleanQuarantineCounts(m, pred)
    assert(counts === ((1L, 2L)))
    assert(counts === ((clean.count(), quarantined.count())))
    assert(Medallion.cleanQuarantineCounts(m.limit(0), pred) === ((0L, 0L)))
  }

  test("P7+O1: genres dimension dedups, drops empty names, sorts") {
    val g = MoviePipeline.transformGenres(flat).collect()
    assert(g.map(_.getAs[Long]("Id")).toSeq === Seq(1L, 3L))
    assert(!g.exists(_.getAs[String]("name") == ""))
  }

  test("language dimension is distinct with FK stub id") {
    val l = MoviePipeline.transformLanguage(flat).collect()
    assert(l.map(_.getAs[String]("OriginalLanguage")).sorted.toSeq
      === Seq("en", "fr"))
    assert(l.forall(_.getAs[Int]("Id") == 1))
  }

  test("P10: abs repair flips negative runtimes and is idempotent") {
    val r1 = Medallion.repairAbs(flat, "RunTime")
    val r2 = Medallion.repairAbs(r1, "RunTime")
    assert(r1.filter(col("RunTime") < 0).count() === 0)
    assert(r2.exceptAll(r1).count() === 0)
  }

  test("K1: partitioned write round-trips with partition column intact") {
    val out = TestSpark.tmpDir("bronze_write")
    Medallion.batchWriter(bronze, s"$out/t", "p_ingestdate", mode = "overwrite")
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() === 4)
    assert(back.columns.toSet === bronze.columns.toSet)
  }
}
