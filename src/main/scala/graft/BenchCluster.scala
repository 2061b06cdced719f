package graft

import graft.intel.IntelDb
import graft.pipeline.{Fixtures, ScanJob}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import scala.collection.mutable.ArrayBuffer

/** MULTI-PROCESS scaling evidence: the flagship IoC scan at N and 4N real
  * executor JVMs via Spark's `local-cluster[n, cores, mem]` master — the
  * closest in-sandbox approximation of the north rule's "spark-submit at N
  * and 4N executors" that still exercises everything a real cluster does
  * and `local[k]` threads do not: separate executor processes with their
  * own heaps/JITs, actual task/result serialization, broadcast transfer of
  * the compiled intel dbs over the block manager, and executor
  * registration/scheduling.
  *
  * Pair, taken from the host: 1 executor -> 4 executors of
  * max(1, cpus/4) cores each (per-executor resources constant, executor
  * COUNT x4 — the criterion's own shape; 1x1 -> 4x1 on a 4-vCPU host).
  * Methodology: a discarded warm-up round, alternating A/B order, >=
  * minWindowSec full-pass windows, >3x-below-median stall discard, and the
  * headline = median of per-round efficiencies over stall-surviving
  * rounds. Each window gets a FRESH cluster (sessions cannot change
  * master), so executor JIT warm-up runs per window — warmSession plus two
  * full passes before measurement.
  *
  * Env: SPARK_GRAFT_CLUSTER_TURNS (default 3000000),
  * SPARK_GRAFT_CLUSTER_ROUNDS (default 5), SPARK_GRAFT_BENCH_WINDOW_SEC
  * (default 10). Prereqs (the executor launcher reads these from the
  * environment): SPARK_HOME (the Spark install) and SPARK_SCALA_VERSION
  * (2.13). Run: ... sbt -batch "runMain graft.BenchCluster"
  *
  * Output: full detail to target/BENCH_CLUSTER.json + a
  * "BENCH_CLUSTER_DETAIL " line; the LAST stdout line is a compact
  * bare-JSON summary.
  */
object BenchCluster {

  private def classesDir: String =
    getClass.getProtectionDomain.getCodeSource.getLocation.getPath

  private def newClusterSession(executors: Int, coresPerExec: Int)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPerExec,3072]")
      .appName(s"graft-bench-cluster-$executors")
      // generous young gen: the scan's allocation rate in a small heap
      // costs the multi-process levels GC time the in-JVM bench never pays
      .config("spark.executor.memory", "2800m")
      // match the driver's GC discipline (build.sbt): ParallelGC +
      // pinned Xms — unpinned heaps grow mid-window on this shared host
      // and the growth stalls land inside measurement windows
      .config("spark.executor.extraJavaOptions",
        "-XX:+UseParallelGC -Xms2800m")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", executors * coresPerExec)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // several task waves per core (at real cluster scale the default
      // 128m is right — there the table has thousands of splits anyway)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cache path of the materialized transcript table: keyed by row count
    * AND a content tag of the fixture generator, so editing Fixtures.turn
    * invalidates the cache instead of silently benching the OLD fixture.
    */
  private def turnsPath(nTurns: Long): String = {
    // pool digest (EVERY token pool, exact) + a 64-row structural probe
    // (slot layout / planting-rate / skew changes): a 4-row probe missed
    // most single-pool edits, silently benching the stale cached table
    val probe = (0L until 64L)
      .map(i => Fixtures.turn(i * 61, 4096).toString).mkString("|")
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(probe) ^ Fixtures.poolTag)
    s"/tmp/graft-bench-turns-$nTurns-$tag"
  }

  /** Materialize the deterministic transcript table to parquet ONCE —
    * input prep is not scan work; the benchmarked job is the real shape:
    * table scan -> extract -> enrich -> count (S1..A5). Concurrent-driver
    * safe: each writer builds into its own temp dir and installs it with
    * one atomic rename; the loser of a race deletes its copy and reads
    * the winner's.
    */
  private def materializeTurns(nTurns: Long, cores: Int): String = {
    val dir = turnsPath(nTurns)
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      val tmp = s"$dir.build-${ProcessHandle.current().pid()}"
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-bench-cluster-input")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      // 8 files per core: a single wave of core-count tasks would leave
      // cores idle behind stragglers at the high parallelism level
      spark.range(0L, nTurns, 1L, cores * 8)
        .map(i => Fixtures.turn(i, nTurns)).toDF()
        .write.mode("overwrite").parquet(tmp)
      spark.stop()
      if (!new java.io.File(tmp).renameTo(new java.io.File(dir))) {
        // another driver installed first — use theirs, drop ours
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(tmp))
      }
    }
    dir
  }

  /** Build the scan workload against a session: parquet transcript scan ->
    * extract -> enrich (2 dbs) -> count matches, driven via one plan
    * instance's toRdd (see BENCH.md "measurement pitfalls": df.count()
    * rebuilds the plan per call; re-collecting a cached Dataset reuses the
    * materialized stage under AQE and measures nothing).
    */
  private def scanRunner(spark: SparkSession, turnsDir: String)
      : (RDD[InternalRow], () => Long) = {
    val dbs = Seq(
      IntelDb.build("threats", Fixtures.intelThreats),
      IntelDb.build("allowlist", Fixtures.intelAllowlist))
    val m = ScanJob.matched(ScanJob.readTurns(spark, turnsDir), dbs, spark)
    val rdd = m.queryExecution.toRdd
    val run = () =>
      rdd.mapPartitions { it =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        Iterator.single(c)
      }.collect().sum
    (rdd, run)
  }

  /** Warm this session's generated classes: a handful of single-partition
    * jobs JIT the hot row loops (OSR) without gambling a full-input run on
    * compile timing.
    */
  private def warmSession(spark: SparkSession, rdd: RDD[InternalRow]): Unit = {
    val nParts = rdd.getNumPartitions
    val counter = (it: Iterator[InternalRow]) => {
      var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
    }
    var w = 0
    while (w < math.min(8, nParts)) {
      spark.sparkContext.runJob(rdd, counter, Seq(w % nParts))
      w += 1
    }
  }

  /** One sample: run full passes until >= minWindowSec elapsed; return
    * the throughput in turns/sec over the whole window. */
  private def measureWindow(run: () => Long, nTurns: Long,
      minWindowSec: Double): Double = {
    var passes = 0
    val t0 = System.nanoTime()
    var elapsed = 0.0
    while (elapsed < minWindowSec || passes < 1) {
      val matches = run()
      require(matches > 0, "scan produced zero matches — workload broken")
      passes += 1
      elapsed = (System.nanoTime() - t0) / 1e9
    }
    passes * nTurns / elapsed
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Stall-discard rule (asymmetric-noise guard): windows more than 3x
    * BELOW their level's own median are transient host stalls (noisy
    * neighbor / cold page cache), not steady state. Only sub-median
    * outliers are removed (a too-fast window cannot be a stall artifact).
    * Returns (kept, droppedCount).
    */
  private def discardStalls(xs: Seq[Double]): (Seq[Double], Int) = {
    val m = median(xs)
    val kept = xs.filter(_ >= m / 3.0)
    (kept, xs.length - kept.length)
  }

  /** Round-kept mask for the per-round efficiency estimator: a round is
    * kept iff NEITHER of its paired windows stalled >3x below its level's
    * median (the same rule as [[discardStalls]]).
    */
  private def keptRoundMask(lo: Seq[Double], hi: Seq[Double]): Seq[Boolean] = {
    val (ml, mh) = (median(lo), median(hi))
    lo.zip(hi).map { case (l, h) => l >= ml / 3.0 && h >= mh / 3.0 }
  }

  /** Memory-BANDWIDTH ceiling probe: bytes/sec summing per-thread private
    * 32 MB streams (larger than LLC). The scan pipeline is memory-traffic
    * heavy, so its in-box scaling is bounded by this curve — reported next
    * to the pair so a shortfall can be attributed to the box's memory
    * subsystem vs the code.
    */
  private def membwProbe(threads: Int, seconds: Double): Double = {
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val arr = new Array[Long](4 * 1024 * 1024) // 32 MB per thread
        java.util.Arrays.fill(arr, t.toLong)
        var bytes = 0L
        var sum = 0L
        while (System.nanoTime() < stop) {
          var i = 0
          while (i < arr.length) { sum += arr(i); i += 1 }
          bytes += arr.length.toLong * 8
        }
        require(sum != Long.MinValue); total.addAndGet(bytes); ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get() / seconds
  }

  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_HOME") &&
      sys.env.contains("SPARK_SCALA_VERSION"),
      "local-cluster executors need SPARK_HOME (=/opt/spark) and " +
        "SPARK_SCALA_VERSION (=2.13) in the environment")
    java.util.Locale.setDefault(java.util.Locale.ROOT) // %-format JSON safety
    val nTurns =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_TURNS", "3000000").toLong
    val rounds =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_ROUNDS", "5").toInt
    require(rounds >= 1, "SPARK_GRAFT_CLUSTER_ROUNDS must be >= 1")
    val minWindow =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WINDOW_SEC", "10.0").toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val coresPerExec = math.max(1, cpus / 4)
    val (execLow, execHigh) = (1, 4)

    val turnsDir = materializeTurns(nTurns, cpus)

    val lowSamples = ArrayBuffer[Double]()
    val highSamples = ArrayBuffer[Double]()
    // per-round memory-bandwidth calibration at the pair's TOTAL core
    // counts: on a real cluster each executor is its own machine with its
    // own memory controller, but under local-cluster all executor JVMs
    // share ONE box — the probe measures how much of 4x the box actually grants
    // 4x the streaming threads THIS round, so each round's raw efficiency
    // can be normalized by the machine ceiling it ran under.
    val membwLow = ArrayBuffer[Double]()
    val membwHigh = ArrayBuffer[Double]()
    val coresLow = execLow * coresPerExec
    val coresHigh = execHigh * coresPerExec
    membwProbe(4, 0.5) // warm
    var r = -1 // round -1 = discarded warm-up (cold page cache, cold JITs)
    while (r < rounds) {
      // alternate within-round order by round so monotone drift
      // (page-cache warming, heap growth) cancels across rounds
      val order =
        if (r % 2 == 0) Seq(execLow -> lowSamples, execHigh -> highSamples)
        else Seq(execHigh -> highSamples, execLow -> lowSamples)
      for ((execs, sink) <- order) {
        val s = newClusterSession(execs, coresPerExec)
        val (rdd, run) = scanRunner(s, turnsDir)
        warmSession(s, rdd)
        run(); run() // TWO full warm passes: executor JVMs are fresh per
        // window (a cluster session cannot change master), so the
        // generated code is C2-cold every time
        val thr = measureWindow(run, nTurns, minWindow)
        if (r >= 0) sink += thr
        s.stop()
        System.gc()
      }
      if (r >= 0) {
        // ceiling measurement: best of three short interleaved windows per
        // level (a stall only DEPRESSES a window), run while no cluster is
        // up so the probe does not compete with measurement
        val (mls, mhs) = (1 to 3).map(_ =>
          (membwProbe(coresLow, 1.0), membwProbe(coresHigh, 1.0))).unzip
        membwLow += mls.max
        membwHigh += mhs.max
      }
      r += 1
    }

    val factor = execHigh.toDouble / execLow
    val (lowK, lowDrop) = discardStalls(lowSamples.toSeq)
    val (highK, highDrop) = discardStalls(highSamples.toSeq)
    val thrLow = median(lowK)
    val thrHigh = median(highK)
    val effLevelMedian = (thrHigh / thrLow) / factor
    val effBest = (highSamples.max / lowSamples.max) / factor
    val roundEffs = lowSamples.zip(highSamples)
      .map { case (lo, hi) => (hi / lo) / factor }
    // ONE stall mask shared by the raw and normalized estimators (a round
    // is kept iff neither of its windows stalled >3x below its level's
    // median) — keeps the two headline figures from drifting apart
    val keptMask = keptRoundMask(lowSamples.toSeq, highSamples.toSeq)
    val keptRoundEffs = roundEffs.toSeq.zip(keptMask)
      .collect { case (e, true) => e }
    val eff = median(
      if (keptRoundEffs.nonEmpty) keptRoundEffs else roundEffs.toSeq)

    // bandwidth-normalized per-round efficiency: raw / (membw scaling the
    // box granted that round). On a real cluster memory bandwidth scales
    // WITH executor count (each executor is its own machine), so the
    // normalized figure is the cluster-predictive one; the raw figure is
    // what this one shared box can show.
    val membwEffs = membwLow.zip(membwHigh)
      .map { case (lo, hi) => (hi / lo) / (coresHigh.toDouble / coresLow) }
    val normEffs = roundEffs.zip(membwEffs)
      .map { case (re, me) => re / math.min(me, 1.0) }
    val keptNormEffs = normEffs.toSeq.zip(keptMask)
      .collect { case (e, true) => e }
    val effNorm = median(
      if (keptNormEffs.nonEmpty) keptNormEffs else normEffs.toSeq)
    val membwEffMedian = median(membwEffs.toSeq)

    def arr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.0f").mkString("[", ",", "]")
    def arr3(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val detail =
      s"""{"mode":"local-cluster","n_turns":$nTurns,"cpus":$cpus,""" +
        s""""executors_low":$execLow,"executors_high":$execHigh,""" +
        s""""cores_per_executor":$coresPerExec,"rounds":$rounds,""" +
        s""""min_window_sec":$minWindow,""" +
        f""""turns_per_sec_low":$thrLow%.0f,"turns_per_sec_high":$thrHigh%.0f,""" +
        s""""samples_low":${arr(lowSamples.toSeq)},""" +
        s""""samples_high":${arr(highSamples.toSeq)},""" +
        s""""discarded_low":$lowDrop,"discarded_high":$highDrop,""" +
        s""""rounds_dropped":${roundEffs.length - keptRoundEffs.length},""" +
        f""""scaling_efficiency":$eff%.3f,""" +
        f""""scaling_efficiency_level_median":$effLevelMedian%.3f,""" +
        f""""scaling_efficiency_best":$effBest%.3f,""" +
        f""""scaling_efficiency_bw_normalized":$effNorm%.3f,""" +
        f""""membw_eff_median_${coresLow}to$coresHigh":$membwEffMedian%.3f,""" +
        s""""membw_bytes_per_sec_low":${arr(membwLow.toSeq)},""" +
        s""""membw_bytes_per_sec_high":${arr(membwHigh.toSeq)},""" +
        s""""round_effs":${arr3(roundEffs.toSeq)},""" +
        s""""round_membw_effs":${arr3(membwEffs.toSeq)}}"""
    val out = java.nio.file.Paths.get("target", "BENCH_CLUSTER.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, detail + "\n")
    println("BENCH_CLUSTER_DETAIL " + detail)
    val compact =
      f"""{"mode":"local-cluster","pair":"${execLow}x$coresPerExec->""" +
        f"""${execHigh}x$coresPerExec","eff":$eff%.3f,""" +
        f""""eff_level_median":$effLevelMedian%.3f,""" +
        f""""eff_bw_normalized":$effNorm%.3f,""" +
        f""""membw_eff_median":$membwEffMedian%.3f,""" +
        f""""low":$thrLow%.0f,"high":$thrHigh%.0f}"""
    println(compact)
  }
}
