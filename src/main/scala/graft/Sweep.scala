package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}

/** One parameterised sweep over named catalog entries: every
  * (entry, sf dir) runs in every (master, cores) cell, each cell on its
  * own session with the [[Bench]] settings. Per run it prints one JSON
  * line — wall, job count and summed job walls (wall minus that sum is a
  * lower bound on driver-side time), executor run and GC time, memory and
  * disk spill, the RDD storage it added and still holds at its end (memo
  * values included) — plus the row count and an order-independent
  * checksum taken outside the timed region. It then prints one summary
  * line per (entry, sf) and fails unless every cell agrees on the
  * checksum: no result may depend on the master or on the partition
  * count. Its last line is the JVM's peak resident set,
  * `{"sweep":"memory",...}`.
  *
  * Args (all optional, `key=value`, lists comma-separated):
  * {{{
  *   entries=q_a,q_b          default: the families listed in `defaults`
  *   sf=<dir>,<dir>           default: $SPARK_GRAFT_SF_DIR
  *   cores=1,4                default: $SPARK_GRAFT_CPUS, else all cores
  *   masters=local,local-cluster[2,2,2048]
  * }}}
  * `local` expands to `local[N]` for each core count; `local-cluster[W,C,M]`
  * is one cell of W executor JVMs × C cores × M MB, which needs
  * SPARK_HOME (and SPARK_SCALA_VERSION) set for the worker launcher.
  * Heap cap, `spark.memory.storageFraction` and plan capture
  * (`-Dspark.sql.queryExecutionListeners=graft.PlanCapture`) are JVM
  * flags, not code.
  */
object Sweep {
  val defaults: Seq[String] = Seq("q_minhash_lsh", "q_ngram_jaccard",
    "q_winnow_pairs", "q_suffix_rank", "q_corr_matrix", "q_cosine_topk",
    "q_perceptron", "q_video_frames", "q_bm25", "q_ivfpq_topk",
    "q_graph_search")

  /** One timed (entry, sf) run in one cell; `check` is (rows, checksum),
    * None when the entry failed. */
  final case class Run(entry: String, sf: String, master: String,
      cores: Int, wallS: Double, jobs: Long, jobSumS: Double, taskS: Double,
      gcS: Double, memSpill: Long, diskSpill: Long, storage: Long,
      check: Option[(Long, String)]) {
    def json: String = {
      val (rows, sum) = check.getOrElse((-1L, "null"))
      f"""{"sweep":"cell","entry":"$entry","sf":"$sf","master":"$master",""" +
        f""""cores":$cores,"wall_s":$wallS%.3f,"jobs":$jobs,""" +
        f""""job_sum_s":$jobSumS%.3f,"task_s":$taskS%.3f,"gc_s":$gcS%.3f,""" +
        f""""util":${taskS / math.max(wallS * cores, 1e-9)}%.2f,""" +
        f""""mem_spill_mb":${memSpill / 1048576.0}%.1f,""" +
        f""""disk_spill_mb":${diskSpill / 1048576.0}%.1f,""" +
        f""""storage_mb":${storage / 1048576.0}%.1f,""" +
        s""""rows":$rows,"checksum":$sum,"ok":${check.isDefined}}"""
    }
  }

  /** Job, task and spill totals of one session since the last reset. */
  private final class Meter extends SparkListener {
    val jobs, jobMs, taskMs, gcMs, memSpill, diskSpill = new AtomicLong
    private val starts = new ConcurrentHashMap[Int, java.lang.Long]
    def reset(): Unit =
      Seq(jobs, jobMs, taskMs, gcMs, memSpill, diskSpill).foreach(_.set(0L))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, e.time): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { t0 =>
        jobs.incrementAndGet(); jobMs.addAndGet(e.time - t0)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime); gcMs.addAndGet(m.jvmGCTime)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled): Unit
      }
  }

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and the sum of xxhash64 over each row's columns cast to
    * string — equal for equal multisets of rows, whatever their order. */
  def checksum(df: DataFrame): (Long, String) = {
    val h = xxhash64(
      df.columns.toSeq.map(c => df.col(s"`$c`").cast("string")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Fails up front, naming every valid entry, if a name is unknown. */
  def validate(entries: Seq[String]): Unit = {
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}; " +
      s"valid entries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Runs every (entry, sf) once on `spark`. Each run starts with every
    * session memo released, so it pays its family's memo build. */
  def cell(spark: SparkSession, cores: Int, entries: Seq[String],
      sfDirs: Seq[String]): Seq[Run] = {
    val meter = new Meter
    val sc = spark.sparkContext
    sc.addSparkListener(meter)
    try for (sf <- sfDirs; entry <- entries) yield {
      graft.functions.Memos.releaseAll()
      val held = sc.getRDDStorageInfo.map(_.id).toSet // earlier runs' leaks
      GraftBridge.drainListenerBus(spark)
      meter.reset()
      val t0 = System.nanoTime()
      val df =
        try { val d = SparkEntry.queries(entry)(spark, sf); exec(d); Some(d) }
        catch { case e: Exception =>
          System.err.println(s"[sweep] $entry @ $sf failed: ${e.getMessage}")
          None
        }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark)
      val run = Run(entry, sf, sc.master, cores, wall, meter.jobs.get,
        meter.jobMs.get / 1e3, meter.taskMs.get / 1e3, meter.gcMs.get / 1e3,
        meter.memSpill.get, meter.diskSpill.get,
        sc.getRDDStorageInfo.filterNot(i => held(i.id))
          .map(i => i.memSize + i.diskSize).sum,
        df.flatMap(d => scala.util.Try(checksum(d)).toOption))
      println(run.json)
      run
    } finally sc.removeSparkListener(meter)
  }

  /** Prints one line per (entry, sf); throws if any of them has a failed
    * run or checksums that differ across cells. */
  def summarize(runs: Seq[Run]): Unit = {
    val groups = runs.groupBy(r => (r.entry, r.sf)).toSeq
      .sortBy { case ((e, sf), _) => (sf, e) }
    val bad = groups.map { case (key, rs) =>
      val checks = rs.map(_.check).distinct
      val same = checks.size == 1 && checks.head.isDefined
      val walls = rs.map(r => f""""${r.master}":${r.wallS}%.3f""")
      println(s"""{"sweep":"summary","entry":"${key._1}","sf":"${key._2}",""" +
        s""""cells":${rs.size},"wall_s":${walls.mkString("{", ",", "}")},""" +
        s""""check_match":$same}""")
      key -> same
    }.filterNot(_._2).map(_._1)
    if (bad.nonEmpty) throw new IllegalStateException(
      s"checksum mismatch or failure across cells: ${bad.mkString(", ")}")
  }

  /** The JVM's peak resident set in MB: `VmHWM` from a `/proc/<pid>/status`
    * file, 0 where the file or the line is absent. In local mode the
    * executors run in this JVM too. */
  def peakRssMb(status: java.nio.file.Path =
      java.nio.file.Paths.get("/proc/self/status")): Double =
    if (!java.nio.file.Files.isReadable(status)) 0.0
    else {
      val src = scala.io.Source.fromFile(status.toFile)
      try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong / 1024.0 }.getOrElse(0.0)
      finally src.close()
    }

  private val LocalN = """local\[(\d+)\]""".r
  private val LocalCluster = """local-cluster\[(\d+),(\d+),(\d+)\]""".r
  private val addOpens = Seq("java.lang", "java.nio", "sun.nio.ch",
    "java.util", "java.util.concurrent", "java.lang.invoke",
    "jdk.internal.misc").map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  /** A fresh session for one cell: the [[Bench]] settings, the TopK
    * planning extension, and for local-cluster the executor classpath and
    * module opens. */
  def session(master: String, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val s = (master match {
      case LocalCluster(_, _, mb) =>
        val classes = new java.io.File(
          getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        b.config("spark.executor.extraClassPath", classes.getAbsolutePath)
          .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
          .config("spark.executor.memory", s"${mb}m")
      case _ => b
    }).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TopKNative.enable(s)
    s
  }

  /** (master, cores) cells: `local` expands over the core counts, a
    * literal `local[N]` or `local-cluster[W,C,M]` is one cell. */
  def cells(masters: Seq[String], cores: Seq[Int]): Seq[(String, Int)] =
    masters.flatMap {
      case "local" => cores.map(c => (s"local[$c]", c))
      case m @ LocalN(n) => Seq((m, n.toInt))
      case m @ LocalCluster(w, c, _) => Seq((m, w.toInt * c.toInt))
      case m => throw new IllegalArgumentException(
        s"unknown master $m; use local, local[N] or local-cluster[W,C,M]")
    }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got $a")
      a.take(i) -> a.drop(i + 1).split(",(?![^\\[]*\\])").map(_.trim)
        .filter(_.nonEmpty).toSeq
    }.toMap
    val known = Set("entries", "sf", "cores", "masters")
    require(opts.keySet.subsetOf(known),
      s"unknown args: ${(opts.keySet -- known).mkString(", ")}")
    val entries = opts.getOrElse("entries", defaults)
    validate(entries)
    val sfDirs = opts.get("sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR")
      .map(Seq(_))).getOrElse(sys.error("no sf dirs: pass sf=<dir>,..."))
    val cores = opts.get("cores").map(_.map(_.toInt)).getOrElse(Seq(
      sys.env.get("SPARK_GRAFT_CPUS").fold(
        Runtime.getRuntime.availableProcessors)(_.trim.toInt)))
    val runs = cells(opts.getOrElse("masters", Seq("local")), cores).flatMap {
      case (master, n) =>
        val spark = session(master, n)
        try {
          // Unprinted warm-up (codegen, scheduler, executor spin-up): the
          // first timed run should not absorb one-time start-up cost. A
          // failing entry is reported by its timed run, not here.
          spark.range(1000000).selectExpr("sum(id)").collect()
          entries.foreach(e =>
            try exec(SparkEntry.queries(e)(spark, sfDirs.head))
            catch { case _: Exception => () })
          cell(spark, n, entries, sfDirs)
        } finally {
          graft.functions.Memos.releaseAll()
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
    }
    try summarize(runs)
    finally println(f"""{"sweep":"memory","vm_hwm_mb":${peakRssMb()}%.1f}""")
  }
}
