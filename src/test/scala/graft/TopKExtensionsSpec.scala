package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKNative

/** The bounded top-k-per-key operator and the SparkSessionExtensions SQL
  * function registration.
  */
class TopKExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Per-customer top-3 orders by price under Spark's own row_number
    * window, as sorted row strings: the expected side of the rewrite
    * tests (compute it while the rewrite is off). */
  private def windowTop3(o: DataFrame): Seq[String] =
    o.withColumn("rn", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .collect().map(_.toString).sorted.toSeq

  test("topKPerKey groups binary keys by value, not reference") {
    import spark.implicits._
    // two rows share the same BYTES under different array instances; a
    // reference-keyed map would give every row its own group and rank 1
    val df = Seq(
      (Array[Byte](1, 2), 10L, 1L), (Array[Byte](1, 2), 20L, 2L),
      (Array[Byte](3, 4), 30L, 3L))
      .toDF("bkey", "score", "id")
    val out = TopKNative.topKPerKey(df, Seq("bkey"), "score", "id", k = 1)
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 1L, 3L -> 1L)) // one winner per byte-value
  }

  test("topKPerKey handles k larger than any group") {
    val n = Tables.nation(spark, "/root/testdata/sf0.001")
    val out = TopKNative.topKPerKey(n, Seq("n_regionkey"), "n_nationkey",
      "n_name", k = 100)
    assert(out.count() === n.count())
  }

  test("native TopK operator matches the window formulation, truncates pre-shuffle") {
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    val expected = SparkEntry.queries("q_window_topn")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    val native = graft.plans.TopKNative.topKPerKey(o, Seq("o_custkey"),
      "o_totalprice", "o_orderkey", k = 3, descending = true)
    val got = native
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rank").as("rn"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === expected)
    // the physical plan shows partial truncation below the exchange
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("TopKFinal"), plan)
    assert(plan.contains("TopKPartial"), plan)
    val exIdx = plan.indexOf("Exchange")
    val partialIdx = plan.indexOf("TopKPartial")
    assert(exIdx >= 0 && partialIdx > exIdx,
      s"partial must sit below the exchange:\n$plan")
  }

  test("TopKRewrite plans rank filters as the bounded operator automatically") {
    // the expected side is the plain window, computed before the
    // rewrite is enabled
    val expected = windowTop3(Tables.orders(spark, "/root/testdata/sf0.001"))
    graft.plans.TopKNative.enable(spark)
    try {
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKFinal"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window ["), plan) // no window exec remains
    val got = df.select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === expected)
    // a window the rule must NOT touch (aggregate, not row_number) still works
    val agg = o.withColumn("s", sum(col("o_totalprice")).over(
      Window.partitionBy(col("o_custkey"))))
    assert(agg.queryExecution.executedPlan.toString.contains("Window"))
    // unpartitioned rank filter: rule declines (ClusteredDistribution(Nil)
    // would fail planning), the window path answers
    val global = o.withColumn("rn", row_number().over(
        Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
    assert(global.count() === 3)
    } finally {
      // don't leave the rewrite active for unrelated suites in this JVM
      org.apache.spark.GraftTestBridge.disableTopKRewrite(spark)
    }
  }

  test("partial key budget: adversarial cardinality at a tiny budget stays exact") {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    // ~1000 distinct custkeys per partition vs a budget of 4 forces
    // hundreds of flush rounds; finishing the per-key top-k over the
    // partial output must still give the exact answer.
    val o = Tables.orders(spark, "/root/testdata/sf0.001").coalesce(2)
      .select(col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val input = o.queryExecution.executedPlan.output
    val Seq(cust, ord, price) = input
    val keys = Seq(cust)
    val ordering = Seq(SortOrder(price, Descending), SortOrder(ord, Ascending))
    def partial(budget: Int) = o.queryExecution.toRdd.mapPartitions { it =>
      graft.plans.TopKRuntime.partialTopK(it, keys, ordering, 3, budget,
          input)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.collect()
    val tiny = partial(4)
    assert(tiny.length > partial(graft.plans.TopKStrategy.MaxPartialKeys)
      .length, "the tiny budget must force flush rounds")
    val got = tiny.groupBy(_._1).toSeq.flatMap { case (c, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case (r, i) => (c, r._2, i + 1L) }
    }.sorted
    val expected = o.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sorted
    assert(got === expected)
  }

  test("rewrite declines beyond the k memory ceiling") {
    graft.plans.TopKNative.enable(spark)
    try {
      val o = Tables.orders(spark, "/root/testdata/sf0.001")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      // k far beyond MaxRewriteK: the spillable window plan must stand
      val big = o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10000000)
      val plan = big.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKFinal"), plan)
      assert(big.count() === o.count())
    } finally org.apache.spark.GraftTestBridge.disableTopKRewrite(spark)
  }

  test("GraftFunctions registers the native expressions for SQL use") {
    graft.plans.GraftFunctions.register(spark)
    val h = spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    assert(h === graft.plans.PolyHash.eval("abc"))
    val c = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .head().getDouble(0)
    assert(c === 1.0)
    val sh = spark.sql(
      "SELECT tid FROM (SELECT explode_outer(array(1)) dummy) " +
        "LATERAL VIEW hashed_shingles('a b c', 2) t AS tid")
    assert(sh.count() === 2) // "a b", "b c"
    val dp = spark.sql(
      "SELECT dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dp === 6.0)
    val bk = spark.sql(
      "SELECT rp_lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4) AS b")
      .head().getLong(0)
    assert(bk >= 0 && bk < 16)
    // session-three additions: blocklist, wordpiece, line/gram signals
    val bm = spark.sql(
      "SELECT blocklist_mask('the quick fox', array('quick', 'absent')) AS m")
      .head().getLong(0)
    assert(bm === 1L)
    val wp = spark.sql(
      "SELECT wordpiece('tab', array('ta', 'b')) AS p").head().getSeq[String](0)
    assert(wp === Seq("ta", "b"))
    val wpu = spark.sql(
      "SELECT wordpiece('z', array('a'), '<u>') AS p").head().getSeq[String](0)
    assert(wpu === Seq("<u>"))
    val ls = spark.sql(
      "SELECT line_signals('a b a b', 2) AS s").head().getSeq[Long](0)
    assert(ls === Seq(2L, 1L, 6L, 3L)) // lines "a b","a b": 1 dup
    val nm = spark.sql(
      "SELECT ngram_rep_mass('x y x y x y', 2, 3) AS m").head().getSeq[Long](0)
    assert(nm === Seq(9L, 20L)) // the LinesSpec hand fixture
    // literal contracts fail analysis with named errors
    intercept[Exception] {
      spark.sql("SELECT blocklist_mask('t', array(1, 2))").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT line_signals('t', 0)").collect()
    }
    // the kernel table's other literal-parameter kernels: one call each,
    // equal to the kernel method, and a bad literal for each bounded one
    def longs(q: String): Seq[Long] = spark.sql(q).head().getSeq[Long](0)
    import graft.plans.{CdcScan, CharGrams, GramHash, RougeGrams}
    assert(longs("SELECT char_gram_set('abcab', 2)") ===
      CharGrams.gramSet("abcab", 2).toLongArray().toSeq)
    assert(longs("SELECT rouge_gram_set('a b a b', 2)") ===
      RougeGrams.gramSet("a b a b", 2).toLongArray().toSeq)
    assert(spark.sql("SELECT token_lcs('a b c d', 'a c d x', 8)")
      .head().getInt(0) === 3)
    assert(spark.sql("SELECT damerau('abcd', 'abdc')").head().getInt(0) === 1)
    def rows(gen: String): Seq[String] = spark.sql(
      s"SELECT t.* FROM (SELECT 1 AS dummy) LATERAL VIEW $gen t")
      .collect().map(_.toSeq.mkString(",")).toSeq
    def expected(it: IterableOnce[org.apache.spark.sql.catalyst.InternalRow],
        width: Int): Seq[String] =
      it.iterator.map(r => (0 until width).map(r.getLong).mkString(",")).toSeq
    val text = "a b c a b c d e a b"
    assert(rows(s"winnow_select('$text', 2, 3)") ===
      expected(GramHash.winnow(text, 2, 3), 2))
    assert(rows(s"hashed_token_lines('$text', 4)") ===
      expected(GramHash.lines(text, 4), 2))
    assert(rows(s"cdc_chunks('$text', 3, 2)") ===
      expected(CdcScan.chunks(text, 3, 2), 4))
    for (bad <- Seq("char_gram_set('t', 0)", "rouge_gram_set('t', 0)",
        "token_lcs('a', 'b', 0)", "damerau('a', 'b', 1)",
        "hashed_token_lines('t', 0)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad").collect())
      assert(e.getMessage.contains(bad.takeWhile(_ != '(')), e.getMessage)
    }
    for (bad <- Seq("winnow_select('t', 2, 0)", "cdc_chunks('t', 1, 4)",
        "cdc_chunks('t', 4, 31)")) {
      val e = intercept[Exception](rows(bad))
      assert(e.getMessage.contains(bad.takeWhile(_ != '(')), e.getMessage)
    }
    // SQL simhash takes (text, bits) only: its permutation is fixed
    assert(spark.sql("SELECT simhash('a b c', 24)").head().getLong(0) ===
      graft.plans.TokenScan.simhashFp("a b c", 24, graft.functions.Dedup.permA(0),
        graft.functions.Dedup.permB(0), graft.functions.Dedup.MersennePrime))
    val sh5 = intercept[Exception](
      spark.sql("SELECT simhash('a b c', 24, 1, 2, 3)").collect())
    assert(sh5.getMessage.contains("simhash expects (column, bit width)"),
      sh5.getMessage)
  }

  test("GraftExtensions wires functions, strategy, and rewrite into a new session") {
    import org.apache.spark.sql.GraftBridge
    new graft.plans.GraftExtensions().apply(GraftBridge.extensions(spark))
    // a session whose SessionState builds AFTER injection sees everything
    val s2 = spark.newSession()
    val h = s2.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    assert(h === graft.plans.PolyHash.eval("abc"))
    s2.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .createOrReplaceTempView("o")
    val df = s2.sql(
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM o) WHERE rn <= 3""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKFinal"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    // results identical to the window formulation on the base session
    val expected = windowTop3(Tables.orders(spark, "/root/testdata/sf0.001"))
    val got = df.select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === expected)
  }

  test("vec expressions type-check at analysis and handle double arrays") {
    graft.plans.GraftFunctions.register(spark)
    // array<double> computes correctly instead of reinterpreting bytes
    val cd = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(cd - 1.0) < 1e-12)
    val dd = spark.sql("SELECT dot_product(array(2.0D), array(3.0D)) AS d")
      .head().getDouble(0)
    assert(dd === 6.0)
    // mixed element types fail analysis, not silently mis-compute
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(1.0D))")
        .collect()
    }
    // non-array input fails analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_product('a', 'b')").collect()
    }
    // poly_hash on non-string fails analysis, not codegen/runtime
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT poly_hash(42)").collect()
    }
  }

  test("vec expressions null out null elements and zero-norm cosines") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c").head()
    assert(r.isNullAt(0))
    val z = spark.sql(
      "SELECT cosine_sim(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c")
      .head()
    assert(z.isNullAt(0)) // zero-norm -> NULL, not NaN
    val d = spark.sql(
      "SELECT dot_product(array(CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS d")
      .head()
    assert(d.isNullAt(0))
    // a genuine NaN PAYLOAD stays NaN (HOF parity) — not swallowed to NULL
    val nan = spark.sql(
      "SELECT dot_product(array(CAST('NaN' AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS d")
      .head()
    assert(!nan.isNullAt(0) && nan.getDouble(0).isNaN)
    // NULL bit-count literal raises a clear error, not an NPE
    val ex = intercept[Exception] {
      spark.sql("SELECT rp_lsh_bucket(array(CAST(1.0 AS FLOAT)), CAST(NULL AS INT))")
        .collect()
    }
    assert(ex.getMessage.contains("non-null integer literal"), ex.getMessage)
  }
}
