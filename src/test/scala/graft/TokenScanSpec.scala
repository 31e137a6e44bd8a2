package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.plans.{Arg, GraftFunctions, Kernels, TextExpressions, TokenScan}

/** The native token-scanner kernels (token_count / token_chars /
  * marker_hits) must be bit-identical to the higher-order-function forms
  * they replaced — same tokenization (`split("\\s+")` + drop empties), same
  * code-point character counts, same null propagation.
  */
class TokenScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    "the quick brown fox",
    "  leading and trailing   ",
    "", // empty
    "   \t\n\f\r ", // all six \s characters, zero tokens
    "one",
    "tabs\tand\nnewlines\rsplit tokens",
    "café résumé 😀 emoji", // multibyte + surrogate pair
    "the the the and and of", // duplicate markers count with multiplicity
    "punct,stuck;to:words !"
  )

  private val words = Seq("the", "and", "of", "to")

  test("scanner matches HOF forms token-for-token") {
    val df = docs.toDF("text")
    val tk = Text.tokens(col("text"))
    val rows = df.select(
      TextExpressions.tokenCount(col("text")).as("n_fast"),
      size(tk).as("n_hof"),
      TextExpressions.tokenChars(col("text")).as("c_fast"),
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)).as("c_hof"),
      TextExpressions.markerHits(col("text"), words).as("h_fast"),
      size(filter(tk, t => array_contains(array(words.map(lit): _*), t))).as("h_hof")
    ).collect()
    for (r <- rows) {
      assert(r.getInt(0) == r.getInt(1), s"tokenCount mismatch: $r")
      assert(r.getLong(2) == r.getLong(3), s"tokenChars mismatch: $r")
      assert(r.getInt(4) == r.getInt(5), s"markerHits mismatch: $r")
    }
  }

  test("repetitionRatio matches the composed HOF form gram-for-gram") {
    val reps = docs ++ Seq("x y x y x y x y", "a a a a", "one two one two three")
    val df = reps.toDF("text")
    val grams = Text.wordNgrams(Text.tokens(col("text")), 3)
    val hof = when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") /
        size(grams).cast("double")).otherwise(lit(0.0))
    val rows = df.select(
      TextExpressions.repetitionRatio(col("text"), 3).as("fast"),
      hof.as("slow")).collect()
    for (r <- rows) assert(r.getDouble(0) == r.getDouble(1), r)
    // Null contract at the Quality level: 0.0, like the HOF composition.
    val nr = Seq[String](null).toDF("text")
      .select(graft.functions.Quality.repetitionRatio(col("text"), 3)).collect()(0)
    assert(nr.getDouble(0) == 0.0)
  }

  test("null text propagates null; empty marker set hits zero") {
    val df = Seq[String](null).toDF("text")
    val r = df.select(
      TextExpressions.tokenCount(col("text")),
      TextExpressions.tokenChars(col("text")),
      TextExpressions.markerHits(col("text"), words)).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    val z = Seq("some text").toDF("text")
      .select(TextExpressions.markerHits(col("text"), Nil)).collect()(0)
    assert(z.getInt(0) == 0)
  }

  test("kernels handle surrogate pairs as single characters") {
    // One token that is a single astral code point: 2 UTF-16 units, 1 char.
    assert(TokenScan.tokenCount("😀") == 1)
    assert(TokenScan.tokenChars("😀") == 1L)
    assert(TokenScan.tokenChars("a😀b c") == 4L)
  }

  test("non-string input fails at analysis, not runtime") {
    val df = Seq(1).toDF("n")
    for (c <- Seq(
        TextExpressions.tokenCount(col("n")),
        TextExpressions.tokenChars(col("n")),
        TextExpressions.markerHits(col("n"), words))) {
      intercept[AnalysisException](df.select(c).collect())
    }
    // every string kernel of the table, with its analysis message
    for (k <- Kernels.all; if k.args.head == Arg.Text) {
      val c = k(k.args.map(_ => col("n")), KernelSamples.params(k): _*)
      val e = intercept[AnalysisException](df.select(c).collect())
      assert(e.getMessage.contains(s"${k.name} requires"), e.getMessage)
    }
  }

  test("SQL surface: token_count / token_chars / marker_hits registered") {
    GraftFunctions.register(spark)
    docs.toDF("text").createOrReplaceTempView("tsdocs")
    val rows = spark.sql(
      """SELECT token_count(text) AS n, token_chars(text) AS c,
        |       marker_hits(text, array('the','and','of','to')) AS h
        |FROM tsdocs""".stripMargin).collect()
    val exp = docs.map(s => (TokenScan.tokenCount(s), TokenScan.tokenChars(s)))
    for ((r, (n, c)) <- rows.zip(exp)) {
      assert(r.getInt(0) == n && r.getLong(1) == c)
    }
    // Non-literal word list must be rejected with a clear message.
    val err = intercept[Exception](
      spark.sql("SELECT marker_hits(text, array(text)) FROM tsdocs").collect())
    assert(err.getMessage.contains("array<string> literal"))
  }

  test("SQL surface: repetition_ratio and simhash registered with literal checks") {
    GraftFunctions.register(spark)
    Seq("x y x y x y", "a b c").toDF("text").createOrReplaceTempView("tsreps")
    val rows = spark.sql(
      """SELECT repetition_ratio(text, 3) AS r, simhash(text, 24) AS s
        |FROM tsreps ORDER BY text""".stripMargin).collect()
    // "a b c": 1 distinct 3-gram of 1 -> 0.0; "x y x y x y": 2 of 4 -> 0.5.
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(1).getDouble(0) == 0.5)
    // SQL fingerprints match the Column-API scan path.
    val viaCol = Seq("a b c").toDF("text")
      .select(graft.functions.Dedup.simhashScan(col("text"), 24)).collect()(0)
    assert(rows(0).getLong(1) == viaCol.getLong(0))
    for (bad <- Seq(
        "SELECT repetition_ratio(text, 0) FROM tsreps",
        "SELECT repetition_ratio(text, token_count(text)) FROM tsreps",
        "SELECT simhash(text, 63) FROM tsreps")) {
      val e = intercept[Exception](spark.sql(bad).collect())
      assert(e.getMessage.contains("must be"), s"$bad -> ${e.getMessage}")
    }
  }

  test("SQL log2q/exp2q match the FixLog reference arithmetic") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT log2q(CAST(12345 AS BIGINT)) AS l,
        |       exp2q(CAST(196608 AS BIGINT)) AS e""".stripMargin)
      .collect()(0)
    assert(rows.getLong(0) == graft.plans.FixLog.log2q(12345L))
    assert(rows.getLong(1) == (8L << 20)) // 2^3 at 2^20 scale
    // round trip through SQL only
    val rt = spark.sql(
      "SELECT exp2q(log2q(CAST(1024 AS BIGINT))) AS v").collect()(0)
    assert(rt.getLong(0) == (1024L << 20))
  }
}
