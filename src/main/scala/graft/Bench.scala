package graft

import graft.intel.IntelDb
import graft.pipeline.{Fixtures, ScanJob}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Benchmark main. Prints ONE JSON line (and writes it to BENCH_LOCAL.json):
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "scan":{...N vs 4N scaling evidence...},"errors":{...}}
  *
  * Two parts:
  *  1. the driver-contract queries on SPARK_GRAFT_SF_DIR;
  *  2. the flagship IoC scan throughput on a generated transcript table,
  *     measured at local[N/4] and local[N] on the SAME input — the
  *     cluster-size scaling criterion evidenced via parallelism levels
  *     (BASELINE.md / north rule).
  *
  * Scaling methodology (round-2 redesign after the round-1 measurement did
  * not reproduce):
  *  - window-based timing: each sample times as many FULL passes over the
  *    input as fit in >= minWindowSec (default 6) seconds and reports
  *    throughput over the whole window, so the high-parallelism level never
  *    measures a sub-second phase (scheduler noise);
  *  - interleaved A/B/A/B rounds: low- and high-parallelism sessions
  *    alternate, so a transient machine-load blip hits both levels, not one;
  *  - a DISCARDED warm-up round per pair (first windows of a run are
  *    reliably cold on this shared VM), then median of rounds+2 (default 7)
  *    samples per level; raw samples in the JSON;
  *  - asymmetric-noise guard (round 3): windows >3x below their level's own
  *    median are discarded (counted in the JSON) before the level medians —
  *    a transient host stall depressing one level would otherwise skew the
  *    ratio; a per-round efficiency median is reported as a second,
  *    noise-symmetric estimator;
  *  - TWO pairs: primary 2->8 cores (the N->4N criterion, inside the
  *    machine's linear region) and secondary cpus/4 -> cpus with the SAME
  *    round count, plus pure-arithmetic AND memory-bandwidth machine
  *    calibrations quantifying the host's own thread-scaling ceilings
  *    (the scan is memory-traffic-heavy: its in-box 8->32 curve is bounded
  *    by the bandwidth calibration, not the arithmetic one);
  *  - headline efficiency = median of PER-ROUND efficiencies over rounds
  *    whose two interleaved windows both survived the stall filter — each
  *    round's low/high windows ran back-to-back under the same host
  *    conditions, so the per-round ratio is the noise-symmetric estimator
  *    (round-4 change after a multi-minute host stall bimodalized the
  *    per-level medians in the round-3 driver run);
  *  - within-round A/B order alternates by round so systematic drift
  *    (page-cache warming, heap growth) cancels across rounds;
  *  - output contract (round 4): FULL detail (per-query timings, raw
  *    samples, calibrations) is written to BENCH_LOCAL.json and printed
  *    early on a "BENCH_DETAIL " prefixed line; the LAST stdout line is a
  *    compact (<400 byte) bare JSON summary so no stdout-tail capture
  *    window can truncate it (round 3: the 3 KB single line outgrew the
  *    driver's tail and parsed as null).
  */
object Bench {

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // several task waves per core at BOTH parallelism levels (at real
      // cluster scale the default 128m is right — there the table has
      // thousands of splits regardless)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cache path of the materialized transcript table: keyed by row count
    * AND a content tag of the fixture generator, so editing Fixtures.turn
    * invalidates the cache instead of silently benching the OLD fixture
    * (round-5 review find). Shared by Bench/BenchCluster.
    */
  private[graft] def turnsPath(nTurns: Long): String = {
    // pool digest (EVERY token pool, exact) + a 64-row structural probe
    // (slot layout / planting-rate / skew changes): the original 4-row
    // probe missed most single-pool edits, silently benching the stale
    // cached table (round-5 review find)
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
    * the winner's (the old write.mode(overwrite)-into-the-shared-path let
    * one driver delete the directory under another's in-flight read).
    */
  private[graft] def materializeTurns(nTurns: Long, cores: Int): String = {
    val dir = turnsPath(nTurns)
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      val tmp = s"$dir.build-${ProcessHandle.current().pid()}"
      // only stop the session if WE created it — a caller with a live
      // session gets that same session back from getOrCreate
      val preExisting = org.apache.spark.sql.SparkSession.getActiveSession
      val spark = newSession(cores)
      import spark.implicits._
      // 8 files per core: a single wave of core-count tasks would leave
      // cores idle behind stragglers at the high parallelism level
      spark.range(0L, nTurns, 1L, cores * 8)
        .map(i => Fixtures.turn(i, nTurns)).toDF()
        .write.mode("overwrite").parquet(tmp)
      if (!preExisting.contains(spark)) spark.stop()
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
  private[graft] def scanRunner(spark: SparkSession, turnsDir: String)
      : (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow], () => Long) = {
    val dbs = Seq(
      IntelDb.build("threats", Fixtures.intelThreats),
      IntelDb.build("allowlist", Fixtures.intelAllowlist))
    val m = ScanJob.matched(spark.read.parquet(turnsDir), dbs, spark)
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
    * compile timing. Cross-session the codegen cache usually re-serves the
    * same classes, so this is cheap after the global pre-warm.
    */
  private[graft] def warmSession(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): Unit = {
    val nParts = rdd.getNumPartitions
    val counter = (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
      var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
    }
    var w = 0
    while (w < math.min(8, nParts)) {
      spark.sparkContext.runJob(rdd, counter, Seq(w % nParts))
      w += 1
    }
  }

  /** One sample: run full passes until >= minWindowSec elapsed; return
    * (throughput turns/sec over the whole window, passes, windowSec). */
  private[graft] def measureWindow(run: () => Long, nTurns: Long,
      minWindowSec: Double): (Double, Int, Double) = {
    var passes = 0
    val t0 = System.nanoTime()
    var elapsed = 0.0
    while (elapsed < minWindowSec || passes < 1) {
      val matches = run()
      require(matches > 0, "scan produced zero matches — workload broken")
      passes += 1
      elapsed = (System.nanoTime() - t0) / 1e9
    }
    (passes * nTurns / elapsed, passes, elapsed)
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Stall-discard rule (asymmetric-noise guard): windows more than 3x
    * BELOW their level's own median are transient host stalls (noisy
    * neighbor / cold page cache), not steady state. ONE definition shared
    * by Bench and BenchCluster so the two headline estimators can never
    * drift apart (round-5 review find — the rule was copy-pasted). Only
    * sub-median outliers are removed (a too-fast window cannot be a stall
    * artifact). Returns (kept, droppedCount).
    */
  private[graft] def discardStalls(xs: Seq[Double]): (Seq[Double], Int) = {
    val m = median(xs)
    val kept = xs.filter(_ >= m / 3.0)
    (kept, xs.length - kept.length)
  }

  /** Round-kept mask for the per-round efficiency estimator: a round is
    * kept iff NEITHER of its paired windows stalled >3x below its level's
    * median. Shared by Bench and BenchCluster (same single-source rationale
    * as [[discardStalls]]).
    */
  private[graft] def keptRoundMask(lo: Seq[Double],
      hi: Seq[Double]): Seq[Boolean] = {
    val (ml, mh) = (median(lo), median(hi))
    lo.zip(hi).map { case (l, h) => l >= ml / 3.0 && h >= mh / 3.0 }
  }

  /** Pure-arithmetic machine-ceiling probe: ops/sec over `threads` JVM
    * threads of register-only hash mixing — thread-scaling of CODE with no
    * memory traffic. Shared by Bench (8→32 calibration) and BenchCluster
    * (per-round pair calibration).
    */
  private[graft] def arithProbe(threads: Int, seconds: Double): Double = {
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = t.toLong + 1; var n = 0L
        while (System.nanoTime() < stop) {
          var k = 0
          while (k < 100000) { x = Fixtures.mix(x); k += 1 }
          n += 100000
        }
        require(x != 0); total.addAndGet(n); ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get() / seconds
  }

  /** Memory-BANDWIDTH ceiling probe: bytes/sec summing per-thread private
    * 32 MB streams (larger than LLC). The scan pipeline is memory-traffic
    * heavy, so its in-box thread scaling is bounded by this curve — report
    * it next to any scaling pair so a shortfall can be attributed to the
    * box's memory subsystem vs the code.
    */
  private[graft] def membwProbe(threads: Int, seconds: Double): Double = {
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
    // JSON artifacts use %-formatting: pin the locale or a comma-decimal
    // JVM default renders 0,954 and the driver's json parse fails
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nTurns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TURNS", "6000000").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "7").toInt
    val minWindow = sys.env.getOrElse("SPARK_GRAFT_BENCH_WINDOW_SEC", "6.0").toDouble

    // SPARK_GRAFT_BENCH_SKIP_SCAN=1: queries-only mode for local iteration
    // (skips the scaling pairs + calibrations; NOT for driver runs)
    if (sys.env.get("SPARK_GRAFT_BENCH_SKIP_SCAN").contains("1")) {
      val spark = newSession(cpus)
      val qFilter0 = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => qFilter0.isEmpty || qFilter0.exists(n.contains) }
        .foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"QUERY $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.3f")
        }
      spark.stop()
      return
    }

    val turnsDir = materializeTurns(nTurns, cpus)

    // --- global JIT pre-warm at full parallelism: compiles the generated
    // classes once (the codegen cache serves the same classes to later
    // sessions, so their single-partition warms stay cheap)
    locally {
      val s = newSession(cpus)
      val (rdd, run) = scanRunner(s, turnsDir)
      warmSession(s, rdd)
      run()
      s.stop()
    }

    // --- machine-ceiling calibration: pure-arithmetic thread scaling (no
    // memory traffic, no allocation). On this virtualized box even THIS
    // caps below 1.0 past ~8 busy cores — the calibration quantifies how
    // much of any pipeline's 8->32 shortfall is machine, not code.
    // Calibrations are CEILING measurements: a host stall only depresses a
    // window (BENCH_r03's membw_8 read 85 MB in a 3 s window that swallowed
    // a stall), so take the BEST of three short interleaved windows per
    // level instead of one long window.
    arithProbe(4, 1.0) // warm
    val (a8s, a32s) =
      (1 to 3).map(_ => (arithProbe(8, 1.5), arithProbe(math.min(cpus, 32), 1.5))).unzip
    val arith8 = a8s.max
    val arith32 = a32s.max
    val arithEff = (arith32 / arith8) / (math.min(cpus, 32) / 8.0)

    // --- memory-BANDWIDTH ceiling calibration: per-thread private 32 MB
    // streams (larger than LLC) summed repeatedly — the scan pipeline is
    // memory-traffic-heavy (parquet decode + row materialization), so its
    // in-box thread scaling is bounded by THIS curve, not the arith one.
    // Reported next to arith so the 8->32 shortfall can be attributed:
    // pipeline_eff ~ membw_eff => bandwidth-bound box, not code.
    membwProbe(4, 1.0) // warm
    val (m8s, m32s) =
      (1 to 3).map(_ => (membwProbe(8, 1.5), membwProbe(math.min(cpus, 32), 1.5))).unzip
    val membw8 = m8s.max
    val membw32 = m32s.max
    val membwEff = (membw32 / membw8) / (math.min(cpus, 32) / 8.0)

    // --- interleaved A/B/A/B scan throughput at two N->4N pairs.
    // PRIMARY pair (the north-rule criterion): 2 -> 8 cores — executor-
    // sized parallelism inside the machine's linear region (real N->4N
    // EXECUTOR scaling has no shared-cache/membw coupling between
    // executors; thread scaling past the box's effective cores measures
    // the virtualized host, not the job — see the arith calibration).
    // SECONDARY pair: 8 -> 32 cores, reported with the calibration.
    // Round 0 of each pair is a DISCARDED warm-up round: on this shared
    // virtualized host (nonzero steal time) the first measured windows of a
    // run are reliably several times slower than steady state, regardless
    // of JIT warm passes — classic noisy-neighbor + cold-start compound.
    // Interleaving + median over the remaining rounds bounds the rest.
    def measurePair(lowCores: Int, highCores: Int, pairRounds: Int)
        : (Seq[Double], Seq[Double]) = {
      val lowSamples = ArrayBuffer[Double]()
      val highSamples = ArrayBuffer[Double]()
      var r = -1 // round -1 = warm-up, discarded
      while (r < pairRounds) {
        // alternate within-round order by round so monotone drift
        // (page-cache warming, heap growth) cancels across rounds
        val order =
          if (r % 2 == 0) Seq(lowCores -> lowSamples, highCores -> highSamples)
          else Seq(highCores -> highSamples, lowCores -> lowSamples)
        for ((cores, sink) <- order) {
          val s = newSession(cores)
          val (rdd, run) = scanRunner(s, turnsDir)
          warmSession(s, rdd)
          run() // full warm pass inside the session
          val (thr, _, _) = measureWindow(run, nTurns, minWindow)
          if (r >= 0) sink += thr
          s.stop()
          System.gc() // shrink the heap a 32-core session bloated before a
          // 2-core session measures (ParallelGC returns memory on full GC)
        }
        r += 1
      }
      (lowSamples.toSeq, highSamples.toSeq)
    }
    val primaryRounds = rounds + 2 // default 9 interleaved measured rounds
    val (p2, p8) = measurePair(2, 8, primaryRounds)
    // the secondary pair gets the SAME round count as the primary — its
    // round-2 value rested on 2 samples spreading 3.4x (VERDICT r2 #5)
    val (s8, s32) = measurePair(math.max(1, cpus / 4), cpus, primaryRounds)

    // Outlier discard (asymmetric-noise guard, VERDICT r2 #4): see the
    // shared Bench.discardStalls — keeping stalls depresses whichever
    // level they hit and can push the ratio superlinear. Discards are
    // counted in the JSON.
    val (p2k, p2Drop) = discardStalls(p2)
    val (p8k, p8Drop) = discardStalls(p8)
    val (s8k, s8Drop) = discardStalls(s8)
    val (s32k, s32Drop) = discardStalls(s32)
    val thrLow = median(p2k)
    val thrHigh = median(p8k)
    val efficiencyLevelMedian = (thrHigh / thrLow) / 4.0
    // best-of at BOTH levels: peak sustainable throughput under noisy
    // neighbors (reported alongside the median-based headline, never
    // instead of it — raw samples are in the JSON either way)
    val efficiencyBest = (p8.max / p2.max) / 4.0
    // HEADLINE estimator (round 4, per round-3 verdict directive): median
    // of per-round efficiencies over rounds whose two back-to-back windows
    // BOTH survived the stall filter. Each round's low/high windows ran
    // under the same host conditions, so the per-round ratio is immune to
    // the asymmetric multi-minute stalls this shared VM exhibits; dropping
    // rounds where either window stalled removes the residual case where a
    // stall lands inside one window of a round.
    val roundEffs = p2.zip(p8).map { case (lo, hi) => (hi / lo) / 4.0 }
    val keptRoundEffs = roundEffs.zip(keptRoundMask(p2, p8))
      .collect { case (e, true) => e }
    val efficiency =
      median(if (keptRoundEffs.nonEmpty) keptRoundEffs else roundEffs)
    val roundsDropped = roundEffs.length - keptRoundEffs.length
    val thrLow2 = median(s8k)
    val thrHigh2 = median(s32k)
    val efficiency2 = (thrHigh2 / thrLow2) / (cpus.toDouble / math.max(1, cpus / 4))

    // --- driver-contract queries at full parallelism (failure-honest:
    // a broken query is reported as an error, not a fast time).
    // SPARK_GRAFT_BENCH_SCAN_ONLY=1 skips them (scaling-iteration mode).
    val scanOnly = sys.env.get("SPARK_GRAFT_BENCH_SCAN_ONLY").contains("1")
    // comma-separated substring filter for local iteration on one query
    val qFilter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').toSeq).getOrElse(Seq.empty)
    val errors = ArrayBuffer[(String, String)]()
    val results =
      if (scanOnly) Seq.empty[(String, Double)]
      else {
        val spark = newSession(cpus)
        val r = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (name, _) =>
            qFilter.isEmpty || qFilter.exists(name.contains) }
          .flatMap { case (name, fn) =>
          val t0 = System.nanoTime()
          // failure-honest: a broken query lands ONLY in `errors` — its
          // elapsed-until-failure must not pollute the per-query map,
          // total, n_queries, or the slowest top-10 (round-5 review find:
          // the old map recorded the partial time alongside the error)
          try {
            fn(spark, sfDir).count()
            Some(name -> (System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              errors += name ->
                e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(160)
              None
          }
        }
        spark.stop()
        r
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.0f").mkString("[", ",", "]")
    val secondary =
      s"""{"cores_low":${math.max(1, cpus / 4)},"cores_high":$cpus,""" +
        f""""turns_per_sec_low":$thrLow2%.0f,"turns_per_sec_high":$thrHigh2%.0f,""" +
        s""""samples_low":${arr(s8)},"samples_high":${arr(s32)},""" +
        s""""discarded_low":$s8Drop,"discarded_high":$s32Drop,""" +
        f""""scaling_efficiency":$efficiency2%.3f}"""
    val calib =
      f"""{"arith_ops_per_sec_8":$arith8%.0f,"arith_ops_per_sec_32":$arith32%.0f,""" +
        f""""arith_eff_8_to_32":$arithEff%.3f,""" +
        f""""membw_bytes_per_sec_8":$membw8%.0f,"membw_bytes_per_sec_32":$membw32%.0f,""" +
        f""""membw_eff_8_to_32":$membwEff%.3f}"""
    val scan =
      s"""{"n_turns":$nTurns,"cores_low":2,"cores_high":8,""" +
        s""""rounds":$primaryRounds,"min_window_sec":$minWindow,""" +
        f""""sec_low":${nTurns / thrLow}%.3f,"sec_high":${nTurns / thrHigh}%.3f,""" +
        f""""turns_per_sec_low":$thrLow%.0f,"turns_per_sec_high":$thrHigh%.0f,""" +
        s""""samples_low":${arr(p2)},"samples_high":${arr(p8)},""" +
        s""""discarded_low":$p2Drop,"discarded_high":$p8Drop,""" +
        s""""rounds_dropped":$roundsDropped,""" +
        f""""scaling_efficiency":$efficiency%.3f,""" +
        f""""scaling_efficiency_level_median":$efficiencyLevelMedian%.3f,""" +
        f""""scaling_efficiency_best":$efficiencyBest%.3f,""" +
        s""""secondary_pair":$secondary,"machine_calibration":$calib}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","scan":$scan,"errors":$errJson}"""
    // FULL detail to a file + a prefixed stdout line (never the last line);
    // the driver's stdout-tail capture truncated the round-3 3 KB single
    // line, so the contract line below is a compact summary (<400 bytes).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), detail + "\n")
    catch { case _: Throwable => () }
    println("BENCH_DETAIL " + detail)
    // top-10 slowest queries ride the COMPACT contract line too (round-5,
    // VERDICT r4 #7): the driver artifact's `tail` truncates the 3 KB
    // detail line, so regression triage needs the hot queries in `parsed`
    // — ~200 bytes keeps the line well under the capture limit
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val compact =
      f"""{"metric":"turns_per_sec_scan","value":$thrHigh%.0f,"unit":"turns/sec",""" +
        f""""queries_total_sec":$total%.1f,"n_queries":${results.length},""" +
        f""""n_errors":${errors.length},"sf":"$sfDir",""" +
        f""""scan":{"eff_primary_2to8":$efficiency%.3f,""" +
        f""""eff_level_median":$efficiencyLevelMedian%.3f,""" +
        f""""eff_best":$efficiencyBest%.3f,""" +
        f""""eff_secondary_8to32":$efficiency2%.3f,""" +
        f""""membw_eff_8to32":$membwEff%.3f,""" +
        f""""tps_low":$thrLow%.0f,"tps_high":$thrHigh%.0f,""" +
        f""""rounds":$primaryRounds,"rounds_dropped":$roundsDropped},""" +
        s""""slowest":$slowest,""" +
        s""""detail":"BENCH_LOCAL.json"}"""
    println(compact)
  }
}
