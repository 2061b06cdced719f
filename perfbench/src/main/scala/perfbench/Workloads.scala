package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.intel.IntelDb
import graft.pipeline.ScanJob
import graft.sources.IntelIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What one workload run measured. `e2e` holds the gated end-to-end
  * metrics, `report` the workload-specific figures printed next to them,
  * `layers` the per-layer metrics of a traced run.
  */
final case class Outcome(
    e2e: Map[String, Double],
    report: Map[String, Double],
    layers: Map[String, Double],
    attempted: Int,
    failed: Int,
    checks: Seq[(String, Boolean)],
    inputs: Map[String, Any])

/** Shared machinery of the workloads: repeated set-up, the
  * closed-loop timed window and the traced-run bookkeeping.
  */
abstract class Workload(val env: Env) {
  import Workload._

  var attempted = 0
  var failed = 0
  val checks = new ArrayBuffer[(String, Boolean)]
  val layers = mutable.LinkedHashMap[String, Double]()
  val ops = new ArrayBuffer[Op]
  /** Cores of the session each traced operation ran on, by op span id. */
  private val opCores = mutable.Map[Long, Int]()
  private val setups = new ArrayBuffer[(Double, Double, Double)]

  def spark = env.spark

  private val born = System.nanoTime
  /** Progress line on stderr with the seconds since the workload began. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime - born) / 1e9}%7.1f s  $what")

  def run(): Outcome

  /** Session start + feed ingest + database build, `SetupWarm` times
    * untimed and then `SetupRepeats` times timed; returns the databases of
    * the last one.
    */
  def setup(feeds: Seq[(String, String)], cores: Int): Seq[IntelDb] = {
    var dbs: Seq[IntelDb] = Nil
    (1 to SetupWarm + SetupRepeats).foreach { k =>
      env.tracer.span("setup") {
        val tSession = env.tracer.span("setup.session")(env.start(cores))
        val t0 = System.nanoTime
        val entries = env.tracer.span("setup.ingest") {
          feeds.map { case (id, path) =>
            id -> IntelIngest.toEntries(IntelIngest.readCsv(spark, path))
          }
        }
        val t1 = System.nanoTime
        dbs = env.tracer.span("setup.build") {
          entries.map { case (id, e) => IntelDb.build(id, e) }
        }
        val t2 = System.nanoTime
        val s = (tSession, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        phase(f"setup $k: session ${s._1}%.2f s, ingest ${s._2}%.2f s, build ${s._3}%.2f s")
        if (k > SetupWarm) setups += s
      }
    }
    dbs
  }

  def setupS: Double = Stats.median(setups.map(s => s._1 + s._2 + s._3).toSeq)
  def setupLayers(): Unit = {
    layers("sources.ingest_s") = Stats.median(setups.map(_._2).toSeq)
    layers("intel.build_s") = Stats.median(setups.map(_._3).toSeq)
  }

  /** One timed operation: `body` runs inside the timing; failures are
    * counted and reported as None.
    */
  def op(name: String, traced: Boolean)(body: => Unit): Option[Double] = {
    attempted += 1
    env.listen(traced)
    val prev = env.tracer.enabled
    env.tracer.enabled = traced
    val c0 = Stats.processCpuSeconds
    val g0 = Stats.gcSeconds
    val j0 = Stats.jitSeconds
    val t0 = System.nanoTime
    val ok = try {
      env.tracer.span("op") {
        env.tracer.current.foreach { s =>
          s.attrs("name") = name
          opCores(s.id) = env.cores
        }
        body
      }
      true
    } catch {
      case e: Exception =>
        System.err.println(s"operation $name failed: $e")
        false
    }
    val o = Op(name, (System.nanoTime - t0) / 1e9, traced,
      Stats.processCpuSeconds - c0, Stats.jitSeconds - j0, Stats.gcSeconds - g0)
    phase(f"$name: ${o.secs}%.2f s, cpu ${o.cpu}%.1f s, jit ${o.jit}%.2f s, gc ${o.gc}%.2f s")
    env.tracer.enabled = prev
    Heap.sample()
    if (!ok) { failed += 1; None }
    else { ops += o; Some(o.secs) }
  }

  /** Closed loop: run operations back to back until `seconds` have passed
    * and at least `minOps` ran. Gives up after three failures.
    */
  def window(seconds: Double, minOps: Int)(next: Int => Unit): Unit = {
    val t0 = System.nanoTime
    var k = 0
    val failedBefore = failed
    Heap.active = true
    try {
      while ((k < minOps || (System.nanoTime - t0) / 1e9 < seconds) &&
        failed - failedBefore < 3) {
        next(k); k += 1
      }
    } finally Heap.active = false
  }

  def check(name: String)(f: => Boolean): Unit = {
    val ok = try f catch {
      case e: Exception =>
        System.err.println(s"check $name failed: $e"); false
    }
    checks += (name -> ok)
    if (!ok) System.err.println(s"check $name: FAILED")
  }

  def untracedOps(name: String): Seq[Op] =
    ops.filter(o => !o.traced && o.name == name).toSeq
  def tracedOps(name: String): Seq[Op] =
    ops.filter(o => o.traced && o.name == name).toSeq

  /** Overhead of tracing: traced over untraced median operation time. */
  def traceOverhead(name: String): Double =
    Stats.median(tracedOps(name).map(_.secs)) /
      Stats.median(untracedOps(name).map(_.secs)) - 1

  /** Per-layer Spark metrics over the jobs of the traced operations named
    * `name`.
    */
  def sparkLayers(name: String): Unit = {
    Thread.sleep(300) // let the listener bus deliver the last events
    val (jobs, stages) = env.allJobs
    val opSpans = env.tracer.spans.filter(s =>
      s.name == "op" && s.attrs.get("name").contains(name)).map(_.id).toSet
    val jobIds = jobs.filter(j => opSpans.contains(j.span)).map(j => (j.gen, j.id)).toSet
    val st = stages.filter(s => jobIds.contains((s.gen, s.job)))
    val opSpanSeq = env.tracer.spans.filter(s => opSpans.contains(s.id)).toSeq
    val n = math.max(1, opSpanSeq.size).toDouble
    // core-seconds the traced operations had
    val coreSecs = opSpanSeq.map(s => (s.end - s.start) / 1e9 * opCores(s.id)).sum
    val cpu = st.map(_.cpuNs).sum / 1e9
    layers("spark.jobs") = jobIds.size / n
    layers("spark.tasks") = st.map(_.tasks).sum / n
    layers("spark.task_run_s") = st.map(_.runMs).sum / 1e3 / n
    layers("spark.task_cpu_s") = cpu / n
    layers("spark.gc_s") = st.map(_.gcMs).sum / 1e3 / n
    layers("spark.cpu_util") = if (coreSecs == 0) 0.0 else cpu / coreSecs
    val heavy = if (st.isEmpty) None else Some(st.maxBy(_.runMs))
    layers("spark.task_max_over_median") = heavy.map { s =>
      val m = Stats.median(s.taskTimes.map(_.toDouble).toSeq)
      if (m <= 0) 1.0 else s.taskTimes.max / m
    }.getOrElse(0.0)
    layers("spark.input_bytes") = st.map(_.inputBytes).sum / n
    layers("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum / n
    layers("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum / n
    layers("spark.spill_bytes") = st.map(_.spill).sum / n
    layers("spark.failed_tasks") = st.map(_.failedTasks).sum / n
    // driver-side time of an operation: the part no Spark job covers
    val jobSpans = jobs.filter(j => opSpans.contains(j.span)).map(j =>
      Tracer.Span(-1, j.span, "job", "spark.job", j.start, j.end))
    val self = Tracer.selfTimes(opSpanSeq ++ jobSpans)
    layers("spark.driver_self_s") =
      opSpanSeq.map(s => self(s.id) / 1e9).sum / n
    layers("jvm.jit_s") = Stats.median(tracedOps(name).map(_.jit))
    layers("jvm.gc_s") = Stats.median(tracedOps(name).map(_.gc))
  }

  def opCpu(name: String): Double = Stats.median(untracedOps(name).map(_.cpu))

  /** Per-layer probes over the workload's texts, on one thread. */
  def probeLayers(texts: Seq[String], dbs: Seq[IntelDb]): Unit = {
    val cands = env.tracer.span("probe.extract") {
      val (m, c) = Probes.extract(texts, dbs, ProbeSeconds)
      layers ++= m; c
    }
    env.tracer.span("probe.intel") {
      layers ++= Probes.intel(cands, dbs, ProbeSeconds)
    }
    env.tracer.span("probe.functions") {
      layers ++= Probes.functions(texts, dbs, ProbeSeconds)
    }
  }

  def outcome(e2e: Map[String, Double], report: Map[String, Double],
      inputs: Map[String, Any]): Outcome =
    Outcome(e2e, report, layers.toMap, attempted + checks.size,
      failed + checks.count(!_._2), checks.toSeq, inputs)
}

/** One timed operation: wall, process CPU, JIT-compile and GC seconds. */
final case class Op(name: String, secs: Double, traced: Boolean, cpu: Double,
    jit: Double, gc: Double)

object Workload {
  /** Set-ups before the timed ones: the first ingest and build in a JVM
    * run cold.
    */
  val SetupWarm = 1
  val SetupRepeats = 3
  val ProbeSeconds = 1.0
  /** How many texts the traced run's single-thread probes use. */
  val ProbeTexts = 40000

  /** (data files, bytes of all files) under a directory. */
  def treeSize(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(treeSize)
        .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    else {
      val n = f.getName
      val data = !n.startsWith(".") && !n.startsWith("_")
      (if (data) 1L else 0L, f.length)
    }

  def texts(df: DataFrame, limit: Int): Seq[String] =
    df.select(coalesce(col("text"), lit(""))).limit(limit).collect()
      .map(_.getString(0)).toSeq

  /** (role, text) of all rows, for the single-thread reference. */
  def roleTexts(df: DataFrame): Seq[(String, String)] =
    df.select(col("role"), coalesce(col("text"), lit(""))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
}

/** The production route: `ScanMain`'s calls (CSV ingest, database build,
  * `ScanJob.run` into a fresh out dir) over fixture-shaped transcripts.
  */
final class RouteFixture(env: Env) extends Workload(env) {
  import Workload._
  val Turns = 20000L
  /** Untimed calls before the window: in a fresh JVM call times fall
    * steeply for about six calls while the JIT compiles, then slowly.
    */
  val WarmCalls = 6
  val Buckets = 2

  override def run(): Outcome = {
    env.start(env.cpus)
    val in = Gen.route(spark, env.cacheDir, env.seed, Turns, env.cpus)
    phase("inputs ready")
    val dbs = setup(Seq("threats" -> in.feed("threats"),
      "allowlist" -> in.feed("allowlist")), env.cpus)
    val outs = new ArrayBuffer[File]
    var lastStats: Map[String, Long] = Map.empty
    def pass(traced: Boolean): Unit = {
      outs.foreach(Gen.deleteTree); outs.clear()
      val out = env.scratch(s"route-out-$attempted")
      outs += out
      op("route", traced) {
        val turns = spark.read.parquet(in.turnsPath)
        lastStats = ScanJob.run(spark, turns, dbs, out.getAbsolutePath,
          ScanJob.RunConfig(buckets = Buckets))
      }
    }
    phase("set up")
    env.tracer.span("warmup")((1 to WarmCalls).foreach(_ => pass(traced = false)))
    ops.clear()
    phase("warmed up")
    window(env.seconds, if (env.traced) 4 else 2) { k =>
      pass(traced = env.traced && k % 2 == 1)
    }
    phase("timed window done")
    val (files, bytes) = treeSize(outs.last)
    val passS = Stats.median(untracedOps("route").map(_.secs))
    if (env.traced) {
      setupLayers()
      sparkLayers("route")
      routeLayers()
      layers("pipeline.turns_per_s") = Turns / Stats.median(tracedOps("route").map(_.secs))
      layers("io.out_files") = files.toDouble
      layers("io.out_bytes") = bytes.toDouble
      layers("io.out_bytes_per_in_byte") = bytes.toDouble / in.textBytes
      layers("trace.overhead_frac") = traceOverhead("route")
      probeLayers(texts(spark.read.parquet(in.turnsPath), ProbeTexts), dbs)
    }
    env.tracer.span("check") {
      val ref = Checks.reference(roleTexts(spark.read.parquet(in.turnsPath)), dbs)
      val gold = Checks.goldOf(spark.read.parquet(s"${outs.last}/gold_counts"))
      check("route.gold_counts")(Checks.countsEqual(ref.gold, gold))
      check("route.turns_accounted")(lastStats("lines_processed") == Turns)
      check("route.matched_turns")(
        lastStats("lines_with_matches") == ref.matchedTurns)
      check("route.selftest")(Checks.selfTest(ref.gold, gold) &&
        Checks.selfTest(Map("turns" -> Turns),
          Map("turns" -> lastStats("lines_processed"))))
    }
    outs.foreach(Gen.deleteTree)
    outcome(
      Map("setup_s" -> setupS, "turns_per_s" -> Turns / passS,
        "heap_peak_mb" -> Heap.peakMb),
      Map("pass_s" -> passS, "pass_cpu_s" -> opCpu("route"),
        "out_bytes_per_in_byte" -> bytes.toDouble / in.textBytes,
        "out_files" -> files.toDouble),
      Map("turns" -> in.turns, "text_bytes" -> in.textBytes,
        "input_files" -> in.files, "feed_entries" -> in.feedEntries,
        "buckets" -> Buckets))
  }

  /** Routed write, commit and aggregates, from the traced calls' jobs. The
    * routed write is the call's job that writes the most bytes; the commit
    * is the driver-side gap after it (job commit, listing the output) until
    * the next job starts; the aggregates run from there to the call's end.
    */
  private def routeLayers(): Unit = {
    val (jobs, stages) = env.allJobs
    val written = stages.groupBy(s => (s.gen, s.job))
      .map { case (k, ss) => k -> ss.map(_.outputBytes).sum }
    val per = env.tracer.spans.filter(s => s.name == "op" && s.end > 0).flatMap { s =>
      val js = jobs.filter(_.span == s.id).sortBy(_.start)
      if (js.isEmpty) None
      else {
        val w = js.maxBy(j => written.getOrElse((j.gen, j.id), 0L))
        val next = js.find(_.start >= w.end).map(_.start).getOrElse(s.end)
        Some(((w.end - w.start) / 1e9, (next - w.end) / 1e9, (s.end - next) / 1e9))
      }
    }
    layers("pipeline.routed_write_s") = Stats.median(per.map(_._1))
    layers("io.commit_s") = Stats.median(per.map(_._2))
    layers("pipeline.aggregates_s") = Stats.median(per.map(_._3))
  }
}

/** Wide-feed match: `ScanJob.matched` with every output column written to
  * the `noop` sink, at `cpus` and at `cpus / 4` cores over the same input.
  * Lookups miss the per-thread memo and nothing is written. The traced run
  * also times the query layer (see [[QueryLayer]]).
  */
final class MatchWide(env: Env) extends Workload(env) {
  import Workload._
  val Turns = 300000L
  val FeedEntries = 25000
  val WarmCalls = 2
  /** About one turn in this many goes into the cross-layer check. */
  val CheckEvery = 64

  override def run(): Outcome = {
    env.start(env.cpus)
    val in = Gen.wide(spark, env.cacheDir, env.seed, Turns, FeedEntries, env.cpus)
    phase("inputs ready")
    val dbs = setup(Seq("wide" -> in.feed("wide")), env.cpus)
    val low = math.max(1, env.cpus / 4)
    def pass(name: String, traced: Boolean): Unit = op(name, traced) {
      ScanJob.matched(spark.read.parquet(in.turnsPath), dbs, spark)
        .write.format("noop").mode("overwrite").save()
    }
    phase("set up")
    env.tracer.span("warmup")((1 to WarmCalls).foreach(_ => pass("warmup", traced = false)))
    ops.clear()
    phase("warmed up")
    // most of the window goes to the gated level; the low level only feeds
    // the scaling figure
    window(env.seconds * 0.7, if (env.traced) 4 else 3) { k =>
      pass("high", traced = env.traced && k % 2 == 1)
    }
    // the same input at a quarter of the cores
    env.start(low)
    window(env.seconds * 0.3, if (env.traced) 2 else 1) { k =>
      pass("low", traced = env.traced && k % 2 == 1)
    }
    phase("timed window done")
    val high = Stats.median(untracedOps("high").map(_.secs))
    val lowS = Stats.median(untracedOps("low").map(_.secs))
    val eff = (lowS / high) / (env.cpus.toDouble / low)
    val report = Map("pass_s" -> high, "turns_per_s_low" -> Turns / lowS,
      "scaling_eff" -> eff)
    val queryReport = if (!env.traced) Map.empty[String, Double] else {
      setupLayers()
      sparkLayers("high")
      val hi = Turns / Stats.median(tracedOps("high").map(_.secs))
      val lo = Turns / Stats.median(tracedOps("low").map(_.secs))
      layers("pipeline.turns_per_s") = hi
      layers("pipeline.turns_per_s_low") = lo
      layers("pipeline.scaling_eff") = (hi / lo) / (env.cpus.toDouble / low)
      layers("trace.overhead_frac") = traceOverhead("high")
      probeLayers(texts(spark.read.parquet(in.turnsPath), ProbeTexts), dbs)
      env.start(env.cpus)
      phase("probes done")
      QueryLayer.run(this)
    }
    env.tracer.span("check") {
      val subset = spark.read.parquet(in.turnsPath)
        .where(pmod(xxhash64(col("conv_id"), lit(env.seed)), lit(CheckEvery)) === 0)
      val ref = Checks.reference(roleTexts(subset), dbs)
      val gold = Checks.goldOf(ScanJob.goldCounts(ScanJob.matched(subset, dbs, spark)))
      check("match.gold_counts_subset")(Checks.countsEqual(ref.gold, gold))
      check("match.selftest")(Checks.selfTest(ref.gold, gold))
    }
    outcome(
      Map("setup_s" -> setupS, "turns_per_s" -> Turns / high,
        "heap_peak_mb" -> Heap.peakMb),
      report ++ queryReport + ("pass_cpu_s" -> opCpu("high")),
      Map("turns" -> in.turns, "text_bytes" -> in.textBytes,
        "input_files" -> in.files, "feed_entries" -> in.feedEntries,
        "cores_low" -> low))
  }
}

/** The query layer, timed in `match_wide`'s traced run: a fixed list of
  * `SparkEntry.queries` over the sf0.01 tables in a seeded order, each
  * query's full output consumed by the `noop` sink (never `count()`, which
  * lets Catalyst drop projections and sorts). A seeded few are then checked
  * against the recorded row counts and digests.
  */
object QueryLayer {

  /** name -> family (the section of `SparkEntry.queries` it belongs to). */
  val Queries: Seq[(String, String)] = Seq(
    "q01_extract_ipv4" -> "extract",
    "q12_lookup_glob" -> "lookup",
    "q18_dedup_minhash" -> "dedup",
    "q27_tpch_agg" -> "relational",
    "q55_conv_curate" -> "curation",
    "q98_set_join" -> "setjoin",
    "q104_url_normalize" -> "text",
    "q135_containment" -> "setjoin")
  /** How many of the timed queries each run checks against the digests. */
  val Checked = 3

  def run(w: Workload): Map[String, Double] = {
    val env = w.env
    val tables = new File(env.root, "perfbench/data/sf0.01").getAbsolutePath
    val qs = graft.SparkEntry.queries
    val rnd = new scala.util.Random(env.seed)
    val times = rnd.shuffle(Queries).map { case (n, f) =>
      (n, f, w.op(n, traced = true) {
        qs(n)(env.spark, tables).write.format("noop").mode("overwrite").save()
      }.getOrElse(Double.NaN))
    }
    times.foreach { case (n, _, t) => w.layers(s"query.${n}_s") = t }
    times.groupBy(_._2).foreach { case (f, xs) =>
      w.layers(s"queries.${f}_s") = xs.map(_._3).sum
    }
    w.phase("queries timed")
    env.tracer.span("check") {
      val recorded = Digests.load(new File(env.root, Digests.File))
      rnd.shuffle(Queries.map(_._1)).take(Checked).foreach { n =>
        w.check(s"query.$n")(recorded.matches(n, Digests.of(qs(n)(env.spark, tables))))
      }
      w.check("query.selftest")(Digests.selfTest(env.spark, qs, tables))
    }
    val t = times.map(_._3)
    Map("suite_s" -> t.sum, "query_p50_s" -> Stats.median(t),
      "query_p90_s" -> Stats.quantile(t, 0.9))
  }
}
