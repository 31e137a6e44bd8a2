package graft

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import com.sun.management.{HotSpotDiagnosticMXBean, VMOption}

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.functions.Vec

/** The broadcast chunk, execution page size and G1 region size that
  * `build.sbt` sets for every graft JVM (256 KB, 2 MB and 4 MB),
  * broadcasts that span many 256 KB pieces, and the broadcast that
  * nn-descent frees itself.
  */
class SparkBuffersSpec extends AnyFunSuite {
  import SparkBuffersSpec.sha
  private lazy val spark = TestSpark.spark

  test("every graft JVM runs with a 256 KB broadcast chunk and a 2 MB page") {
    val sc = spark.sparkContext
    assert(sc.getConf.getSizeAsKb("spark.broadcast.blockSize") == 256L)
    assert(GraftTestBridge.pageSizeBytes == 2L * 1024 * 1024)
    // set on the command line, not picked by G1 from -Xmx
    val region = ManagementFactory.getPlatformMXBean(
      classOf[HotSpotDiagnosticMXBean]).getVMOption("G1HeapRegionSize")
    assert(region.getValue == "4194304", region)
    assert(region.getOrigin == VMOption.Origin.VM_CREATION, region)
  }

  test("a 3 MB broadcast is stored as 256 KB pieces and reassembles " +
      "byte-identical inside a task") {
    val sc = spark.sparkContext
    val bytes = new Array[Byte](3 * 1024 * 1024)
    new scala.util.Random(11).nextBytes(bytes)
    val bc = sc.broadcast(bytes)
    try {
      // random bytes do not compress: at least 3 MB / 256 KB pieces
      assert(GraftTestBridge.broadcastPieces(bc.id) >= 12)
      GraftTestBridge.dropBroadcastValue(bc.id)
      assert(GraftTestBridge.broadcastValue(bc.id).isEmpty)
      val seen = sc.parallelize(Seq(1), 1)
        .map(_ => (bc.value.length, sha(bc.value))).collect().head
      assert(seen == ((bytes.length, sha(bytes))))
    } finally bc.destroy()
  }

  test("a broadcast join over 1 MB matches the shuffle join") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    val left = spark.range(0, 80000, 2).select(col("id").as("k"),
      (col("id") % 7).as("g"))
    val right = spark.range(40000).select(col("id").as("k"),
      sha2(col("id").cast("string"), 256).as("payload"))
    def run(df: DataFrame): (Seq[Row], String) =
      (df.collect().toSeq.sortBy(_.getLong(0)),
        df.queryExecution.executedPlan.toString)
    try {
      spark.conf.set(key, "-1")
      val ids0 = GraftTestBridge.broadcastIds
      val (viaBroadcast, bPlan) = run(left.join(broadcast(right), "k"))
      assert(bPlan.contains("BroadcastHashJoin"), bPlan)
      val fresh = GraftTestBridge.broadcastIds -- ids0
      // more than 1 MB serialized: at least five 256 KB pieces
      assert(fresh.exists(GraftTestBridge.broadcastPieces(_) >= 5),
        fresh.map(id => id -> GraftTestBridge.broadcastPieces(id)))
      val (viaShuffle, sPlan) = run(left.join(right, "k"))
      assert(!sPlan.contains("BroadcastHashJoin"), sPlan)
      assert(viaBroadcast.size == 20000)
      assert(viaBroadcast == viaShuffle)
    } finally spark.conf.set(key, before)
  }

  test("nn-descent's in-memory rounds free their vector-map broadcast") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 60L).map(i =>
      Row(i, Seq.fill(8)(java.lang.Float.valueOf(rnd.nextFloat() - 0.5f))))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val vecs: DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assert(org.apache.spark.sql.GraftBridge.autoBroadcastThreshold(spark) >
      60L * (8 * 8 + 64), "the vectors must fit the in-memory rounds' gate")
    val ids0 = GraftTestBridge.broadcastIds
    // Checked as the rounds return, not after the memo's own checkpoint:
    // once the rounds' RDDs are unreachable, the ContextCleaner would also
    // drop an undestroyed broadcast, but only after some later GC.
    val g = Vec.nnDescentUncached(vecs, "vec_id", "embedding", k = 4,
      nBits = 3, rounds = 2, ringWindow = 3)
    // the rounds broadcast the vectors as one java.util.HashMap
    def vectorMaps = (GraftTestBridge.broadcastIds -- ids0).filter(id =>
      GraftTestBridge.broadcastValue(id)
        .exists(_.isInstanceOf[java.util.HashMap[_, _]]))
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert(vectorMaps.isEmpty)
    }
    assert(g.count() > 0L)
  }
}

object SparkBuffersSpec {
  /** Outside the suite, so a task closure that calls it does not capture
    * the suite. */
  def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_))
      .mkString
}
