package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.MoviePipeline

/** One benchmark run in a fresh JVM: set up a `local[N]` session the way
  * `graft.Bench` does, run one workload as a closed loop with a single
  * client for a cold pass and `--warm` warm passes, check the outputs
  * outside the timed region and write everything measured to `--out` as
  * JSON. `run.py` turns that into the benchmark's metrics.
  *
  * Usage: Main --workload <catalog_heavy|medallion> --warm <n>
  *   --trace <0|1> --data <sf dir>
  *   --work <scratch dir> --out <result.json> [--batches <manifest.tsv>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = a("work")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val setupS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val rec = new Recorder(spark)
    val loop = new Loop(rec, traced, a("warm").toInt)
    val checks: Map[String, Any] = rec.span("workload", workload)(workload match {
      case "catalog_heavy" =>
        CatalogWorkload.run(spark, loop, CatalogWorkload.heavy, a("data"))
      case "medallion" =>
        MedallionWorkload.run(spark, loop, MedallionWorkload.readManifest(a("batches")), s"$work/lake")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })

    val out = Map[String, Any](
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
      "peak_rss_kb" -> vmHwmKb, "checks" -> checks) ++ rec.result
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }

  /** `graft.Bench`'s session and warm-up. The warm-up runs no catalog entry
    * and no pipeline stage, so the first timed pass starts cold. Spark's
    * scratch and warehouse directories go under `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKNative.enable(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  /** The JVM's peak resident set (VmHWM); in local mode the executors run
    * in this JVM too. */
  private def vmHwmKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else scala.io.Source.fromFile(status.toFile).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
  }
}

/** The closed loop: a cold pass, then `warm` warm passes, always all of
  * them. A traced run traces the cold pass, and its warm passes follow
  * the order traced, untraced, untraced, traced (repeated), so a drift
  * that is linear in the pass (the JIT settling, medallion's growing
  * silver table) weighs the same on the traced and the untraced passes.
  * A pass that returns false ends the loop.
  */
final class Loop(val rec: Recorder, traced: Boolean, val warm: Int) {
  require(!traced || warm % 4 == 0, s"a traced run needs a multiple of 4 warm passes, not $warm")

  def run(pass: Int => Boolean): Unit = {
    var k = 0
    var go = true
    while (go && k <= warm) {
      rec.tracing(traced && (k == 0 || (k - 1) % 4 == 0 || (k - 1) % 4 == 3))
      go = rec.span("pass", if (k == 0) "cold" else "warm")(pass(k))
      k += 1
    }
    rec.tracing(false)
  }
}

/** The catalog workload: each operation is one `SparkEntry.queries` entry,
  * timed the way `graft.Bench` times it — build the plan with
  * `fn(spark, sfDir)`, then write it to the `noop` sink.
  */
object CatalogWorkload {
  /** The whole near-duplicate family, whose members share the candidate
    * generators' memos: whichever member runs first in a pass pays the
    * builds. */
  val heavy: Seq[String] = Seq(
    "q_canonical_docs", "q_blocker_recall", "q_winnow_pairs", "q_source_overlap")

  def run(spark: SparkSession, loop: Loop, order: Seq[String],
      sfDir: String): Map[String, Any] = {
    val rec = loop.rec
    loop.run { _ =>
      order.foreach { name =>
        val fn = SparkEntry.queries(name)
        rec.op(name) {
          val df = rec.call("catalog.build")(fn(spark, sfDir))
          rec.call("catalog.exec")(df.write.format("noop").mode("overwrite").save())
        }
      }
      true
    }
    // Output checks, outside the timed region: one more execution per entry.
    order.map { name =>
      name -> (try {
        val (rows, sum) = checksum(SparkEntry.queries(name)(spark, sfDir))
        Map("rows" -> rows, "checksum" -> sum)
      } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage)) })
    }.toMap
  }

  /** Row count and an order-independent content checksum: the sum over
    * rows of xxhash64 of the row's values cast to string, with columns
    * taken in name order. */
  def checksum(df: DataFrame): (Long, String) = {
    val byName = df.schema.fieldNames.zipWithIndex.sortBy(identity).map(_._2)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map(i => col(s"c$i").cast("string"))
    val row = renamed.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }
}

/** The medallion workload: `MoviePipeline`'s three stages over daily
  * batches, each stage call one operation and each batch one pass. */
object MedallionWorkload {
  final case class Batch(dir: String, ingest: String, records: Long,
      clean: Long, quarantined: Long, repaired: Long)

  def readManifest(path: String): Seq[Batch] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      Batch(f(0), f(1), f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong)
    }.toSeq

  def run(spark: SparkSession, loop: Loop, batches: Seq[Batch],
      lake: String): Map[String, Any] = {
    val rec = loop.rec
    val bronze = s"$lake/bronze"
    val silver = s"$lake/silver"
    val problems = Seq.newBuilder[Map[String, Any]]
    var loaded = 0L
    var ingested = 0L
    require(batches.size > loop.warm, s"${batches.size} batches for ${loop.warm + 1} passes")
    loop.run { k =>
      val b = batches(k)
      val ok = rec.op("rawToBronze") {
        rec.call("pipeline.rawToBronze")(MoviePipeline.rawToBronze(
          spark, b.dir, bronze, lit(b.ingest).cast("timestamp")))
      } && {
        val (clean, quar) = rec.opValue("bronzeToSilver") {
          rec.call("pipeline.bronzeToSilver")(
            MoviePipeline.bronzeToSilver(spark, bronze, silver))
        }.getOrElse((-1L, -1L))
        val repaired = rec.opValue("silverUpdate") {
          rec.call("pipeline.silverUpdate")(
            MoviePipeline.silverUpdate(spark, bronze, silver))
        }.getOrElse(-1L)
        ingested += b.records
        loaded += b.clean + b.repaired
        // Output checks, outside the timed region.
        val found = check(spark, bronze, silver, ingested, loaded) ++
          Seq(s"bronzeToSilver returned ($clean, $quar), expected " +
              s"(${b.clean}, ${b.quarantined})").filter(_ =>
            (clean, quar) != ((b.clean, b.quarantined))) ++
          Seq(s"silverUpdate returned $repaired, expected ${b.repaired}")
            .filter(_ => repaired != b.repaired)
        if (found.nonEmpty) problems += Map("batch" -> k, "problems" -> found)
        found.isEmpty
      }
      ok
    }
    Map("batches" -> problems.result())
  }

  /** Table invariants after a batch: every input record reached bronze and
    * none is left `new`; silver holds every clean and repaired record once,
    * with no negative RunTime; no genre has an empty name. */
  def check(spark: SparkSession, bronze: String, silver: String,
      ingested: Long, loaded: Long): Seq[String] = try {
    val b = spark.read.parquet(bronze)
      .agg(count(lit(1)), sum(when(col("status") === "new", 1).otherwise(0))).head()
    val s = spark.read.parquet(s"$silver/movie_silver")
      .agg(count(lit(1)), countDistinct(col("Id")),
        sum(when(col("RunTime") < 0, 1).otherwise(0))).head()
    val emptyGenres = spark.read.parquet(s"$silver/genres_silver")
      .filter(col("name") === "").count()
    Seq(
      (b.getLong(0) == ingested) -> s"bronze has ${b.getLong(0)} rows, expected $ingested",
      (b.getLong(1) == 0L) -> s"${b.getLong(1)} bronze rows left new",
      (s.getLong(0) == loaded) -> s"silver has ${s.getLong(0)} rows, expected $loaded",
      (s.getLong(1) == s.getLong(0)) -> s"silver Id not unique: ${s.getLong(1)} ids",
      (s.getLong(2) == 0L) -> s"${s.getLong(2)} silver rows with RunTime < 0",
      (emptyGenres == 0L) -> s"$emptyGenres genre rows with an empty name",
    ).collect { case (false, msg) => msg }
  } catch { case e: Throwable => Seq(s"check failed: ${e.getMessage}") }
}
