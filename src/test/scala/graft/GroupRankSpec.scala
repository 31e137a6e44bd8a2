package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GroupRank, LangModel, Quality, Vec}

/** The two-level exact within-group ranking primitive and its consumers:
  * equivalence with the naive group-keyed window (the specification it
  * replaces at scale), NTILE arithmetic parity, the percentileGate
  * long-arithmetic overflow guard, and the kCells derivation.
  */
class GroupRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("withRankAndCount equals the naive group window on skewed groups") {
    // deterministic pseudo-random scores; group sizes 1, 7, and ~2000
    // (the big group spans many range shards)
    val rows = (1L to 2008L).map { i =>
      val g = if (i <= 1) "tiny" else if (i <= 8) "small" else "big"
      (g, i, (i * 2654435761L % 97L).toDouble / 7.0)
    }
    val df = rows.toDF("g", "id", "score").repartition(13)
    val got = GroupRank.withRankAndCount(df, Seq("g"),
        Seq(col("score").desc, col("id").asc), "rn", "n")
      .select(col("g"), col("id"), col("rn"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got === want)
    // ranks cover 1..n exactly once per group
    val perGroup = got.toSeq.groupBy(_._1._1)
    for ((g, xs) <- perGroup) {
      val ranks = xs.map(_._2._1).sorted
      assert(ranks === (1L to ranks.length.toLong).toVector.sorted, g)
      assert(xs.map(_._2._2).toSet === Set(ranks.length.toLong), g)
    }
  }

  test("denseRankAll equals the dense_rank window without exchange reuse") {
    // With exchange reuse off, the per-shard stats branch and the rank
    // branch each run their own range exchange, and RangePartitioner
    // seeds its boundary sample with the RDD id. 5,000 rows per input
    // partition against a sample of 60 make the bounds a real sample;
    // 8 shards over 534 distinct (a, b) keys of about 75 rows each.
    val confs = Map("spark.sql.exchange.reuse" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0L, 40000L, 1L, 8)
        .select(col("id"),
          ((col("id") * 2654435761L) % 40000L / 150L).cast("long").as("a"),
          (col("id") % 2L).as("b"))
      val shards = df.repartitionByRange(col("a"), col("b"))
        .select(spark_partition_id()).distinct().count()
      assert(shards >= 4, s"only $shards shards")
      val got = GroupRank.denseRankAll(df, Seq("a", "b"), "r")
        .select(col("id"), col("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("r",
          dense_rank().over(Window.orderBy(col("a"), col("b"))).cast("long"))
        .select(col("id"), col("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === 40000)
      val wrong = got.count { case (id, r) => want(id) != r }
      assert(wrong === 0, s"$wrong of 40000 ranks differ")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("withRankAndCount output column order preserves the input layout") {
    val df = Seq(("a", 1L, 0.5), ("a", 2L, 0.7)).toDF("g", "id", "v")
    val out = GroupRank.withRankAndCount(df, Seq("g"),
      Seq(col("v").asc), "rn", "n")
    assert(out.columns.toSeq === Seq("g", "id", "v", "rn", "n"))
    assert(out.schema("rn").dataType.typeName === "long")
    assert(out.schema("n").dataType.typeName === "long")
  }

  test("ntileFromRank matches the ntile window function for every n, k") {
    for (n <- Seq(1, 2, 3, 5, 7, 12, 100); k <- Seq(2, 3, 4, 7)) {
      val df = (1 to n).map(i => ("g", i.toLong)).toDF("g", "id")
      val w = Window.partitionBy(col("g")).orderBy(col("id"))
      val rows = df
        .withColumn("want", ntile(k).over(w).cast("long"))
        .withColumn("got", GroupRank.ntileFromRank(
          row_number().over(w), lit(n.toLong), k))
        .collect()
      for (r <- rows)
        assert(r.getAs[Long]("got") === r.getAs[Long]("want"), s"n=$n k=$k")
    }
  }

  test("percentileGate keep rule is long arithmetic past the int32 wrap") {
    // 250,000 rows in one group: the pre-fix 32-bit rank·10000 wraps
    // negative from rank 214,749 up, silently KEEPING deep-tail rows.
    val n = 250000L
    val df = spark.range(1, n + 1)
      .select(lit("g").as("g"), col("id"),
        (lit(n + 1) - col("id")).cast("double").as("score"))
    val kept = Quality.percentileGate(df, "g", "score", 2500, "id")
    // exactly floor(250000·0.25) survive, and they are the TOP ranks
    // (ids 1..62500 under score desc) — wrap survivors would sit at the
    // tail end of the id range
    assert(kept.count() === 62500L)
    assert(kept.agg(max(col("id"))).head().getLong(0) === 62500L)
  }

  test("deriveKCells: ceil division, floor 1, int clamp") {
    assert(Vec.deriveKCells(500L, 64L) === 8)   // the oracle-scale value
    assert(Vec.deriveKCells(512L, 64L) === 8)
    assert(Vec.deriveKCells(513L, 64L) === 9)
    assert(Vec.deriveKCells(0L, 64L) === 1)
    assert(Vec.deriveKCells(1L, 1000L) === 1)
    assert(Vec.deriveKCells(Long.MaxValue, 1L) === Int.MaxValue)
    intercept[IllegalArgumentException](Vec.deriveKCells(10L, 0L))
  }

  test("per-language KN LM equals standalone tables per language") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the cat ran"),
      (3L, "ml", "vec dot vec norm vec"),
      (4L, "ml", "vec dot product")
    ).toDF("doc_id", "lang", "text")
    val grouped = LangModel.knBigramProbs(docs, "text", 1L, Seq("lang"))
    for (lang <- Seq("en", "ml")) {
      val standalone = LangModel
        .knBigramProbs(docs.filter(col("lang") === lang), "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val slice = grouped.filter(col("lang") === lang)
        .collect().map(r => (r.getAs[Long]("tid_a"), r.getAs[Long]("tid_b")) ->
          (r.getAs[Long]("c_ab"), r.getAs[Long]("pkn_q"))).toMap
      assert(slice === standalone, lang)
    }
    // scoring: each doc scored under ITS language's model only — equal
    // to scoring that language's docs against its standalone table
    val scored = LangModel.knScoreDocs(docs, "doc_id", "text",
        grouped, Seq("lang"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("fit_q")).toMap
    for (lang <- Seq("en", "ml")) {
      val sub = docs.filter(col("lang") === lang)
      val standalone = LangModel.knScoreDocs(sub, "doc_id", "text",
          LangModel.knBigramProbs(sub, "text"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("fit_q")).toMap
      for ((id, fq) <- standalone) assert(scored(id) === fq, s"$lang doc $id")
    }
  }

  test("lmBuckets with a per-language LM detects and joins by language") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat and the cat ran"),
      (2L, "en", "the cat sat on a rug"),
      (3L, "en", "dogs bark loudly at night"),
      (4L, "ml", "vec dot vec norm vec dot product"),
      (5L, "ml", "vec dot product of norm"),
      (6L, "ml", "gradient descent step size")
    ).toDF("doc_id", "lang", "text")
    val perLang = LangModel.knBigramProbs(docs, "text", 1L, Seq("lang"))
    val got = LangModel.lmBuckets(docs, "doc_id", "text", "lang", perLang)
    // every doc emits one row, tiers within language are rank-consistent
    assert(got.count() === 6L)
    val byLang = got.collect()
      .groupBy(_.getAs[String]("lang"))
      .map { case (l, rs) =>
        l -> rs.sortBy(r => (-r.getAs[Long]("fit_q"), r.getAs[Long]("doc_id")))
          .map(_.getAs[Long]("bucket")).toSeq }
    for ((l, buckets) <- byLang)
      assert(buckets === buckets.sorted, s"$l: $buckets")
    // and the fit values equal per-language standalone scoring
    val enFit = LangModel.knScoreDocs(docs.filter(col("lang") === "en"),
        "doc_id", "text",
        LangModel.knBigramProbs(docs.filter(col("lang") === "en"), "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fit_q"))
      .toMap
    val gotEn = got.filter(col("lang") === "en").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fit_q")).toMap
    assert(gotEn === enFit)
  }
}
