package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sweep's cross-cell correctness gate, on the shared test session
  * (no second SparkContext): checksums must not depend on the shuffle
  * partition count, unknown entries fail up front, and a checksum
  * mismatch fails the summary.
  */
class SweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val entries = Seq("q_winnow_pairs", "q_corr_matrix")

  test("checksums agree across two shuffle partition counts") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val runs = try Seq("2", "7").flatMap { n =>
      spark.conf.set(key, n)
      Sweep.cell(spark, 4, entries, Seq(TestSpark.sf0001))
    } finally spark.conf.set(key, before)
    assert(runs.size == 4 && runs.forall(_.check.isDefined))
    for (e <- entries) {
      val checks = runs.filter(_.entry == e).map(_.check.get)
      assert(checks.distinct.size == 1, s"$e: $checks")
      assert(checks.head._1 > 0, s"$e returned no rows")
    }
    Sweep.summarize(runs)
  }

  test("an unknown entry name fails and names the valid entries") {
    val e = intercept[IllegalArgumentException](
      Sweep.validate(Seq("q_corr_matrix", "q_no_such")))
    assert(e.getMessage.contains("q_no_such"))
    assert(e.getMessage.contains("valid entries:") &&
      e.getMessage.contains("q_winnow_pairs"))
  }

  test("a checksum mismatch across cells fails the summary") {
    def run(master: String, sum: String) = Sweep.Run("q_corr_matrix",
      "sf", master, 1, 0.1, 1L, 0.1, 0.1, 0.0, 0L, 0L, Some((6L, sum)))
    Sweep.summarize(Seq(run("local[1]", "42"), run("local[4]", "42")))
    val e = intercept[IllegalStateException](
      Sweep.summarize(Seq(run("local[1]", "42"), run("local[4]", "43"))))
    assert(e.getMessage.contains("q_corr_matrix"))
  }

  test("peak memory is VmHWM in MB, and 0 without a status file") {
    val dir = java.nio.file.Files.createTempDirectory("sweep-status")
    val status = dir.resolve("status")
    java.nio.file.Files.writeString(status,
      "Name:\tjava\nVmPeak:\t 9999999 kB\nVmHWM:\t 1572864 kB\n")
    assert(Sweep.peakRssMb(status) == 1536.0)
    assert(Sweep.peakRssMb(dir.resolve("absent")) == 0.0)
  }

  test("masters expand to (master, cores) cells") {
    assert(Sweep.cells(Seq("local", "local-cluster[2,2,1024]"), Seq(1, 4)) ==
      Seq(("local[1]", 1), ("local[4]", 4), ("local-cluster[2,2,1024]", 4)))
    intercept[IllegalArgumentException](Sweep.cells(Seq("yarn"), Seq(1)))
  }
}
