package graft.extract

import graft.functions.ScanTurn
import graft.model.IntelEntry
import graft.sources.IntelIngest
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.lang.reflect.Method
import java.nio.charset.StandardCharsets.UTF_8

/** Micro-benchmark main (not a test): single-thread scanner throughput
  * without Spark. Prints `scanSpans` MB/s (spans, no candidate Strings),
  * the per-extractor cumulative breakdown (the delta of each line is that
  * extractor's marginal cost) and `ScanTurn.scanFlat` turns/s (scan +
  * byte-keyed probes, rows only for hits).
  *
  * Run: sbt "Test/runMain graft.extract.ScannerBench [--input DIR]
  * [--baseline CLASSES] [--texts N] [--rounds R]"
  *
  *  - `--input DIR`: a dir holding a `turns/` parquet (column `text`) and
  *    a feed CSV (`*.csv`, the IntelIngest format), such as a perfbench
  *    `.work/cache/wide-*` dir; the first N texts and the feed are used.
  *    Default: the pipeline fixture texts and feeds.
  *  - `--baseline CLASSES`: the compiled main classes of another build
  *    (its `target/scala-2.13/classes`). Its `graft.*` classes load in a
  *    child-first class loader and are timed against this build's in the
  *    same JVM, the order alternating per round: a host whose speed drifts
  *    between runs cannot pass drift off as a difference.
  */
object ScannerBench {

  /** One build's scanner entry points, reached by reflection so that two
    * builds can share a JVM (both sides pay the same call overhead).
    */
  private final class Side(val name: String, loader: ClassLoader) {
    private def module(cls: String): AnyRef =
      loader.loadClass(cls + "$").getField("MODULE$").get(null)
    private def method(target: AnyRef, name: String, arity: Int): Method =
      target.getClass.getMethods
        .find(m => m.getName == name && m.getParameterCount == arity)
        .getOrElse(sys.error(s"$name/$arity missing in ${target.getClass}"))

    private val scannerCls = loader.loadClass("graft.extract.IocScanner")
    private val configCls = loader.loadClass("graft.extract.ScanConfig")
    private val dbCls = loader.loadClass("graft.intel.IntelDb")
    private val scratch = loader.loadClass("graft.extract.IocScanner$ScanScratch")
      .getConstructor().newInstance().asInstanceOf[AnyRef]
    private val scanSpansM = scannerCls.getMethods.find(_.getName == "scanSpans").get
    private val spansN = loader.loadClass("graft.extract.IocScanner$Spans").getMethod("n")
    private val scanTurn = module("graft.functions.ScanTurn")
    private val scanFlatM = method(scanTurn, "scanFlat", 3)

    /** A scanner with the extractor flags `on` (domains, emails, ipv4,
      * ipv6, hashes, bitcoin, ethereum, monero) and default settings.
      */
    def scanner(on: Seq[Boolean]): AnyRef = {
      val args = on.map(b => java.lang.Boolean.valueOf(b): AnyRef) ++
        Seq(Int.box(2), java.lang.Boolean.TRUE)
      val cfg = configCls.getConstructors.head.newInstance(args: _*)
      scannerCls.getConstructor(configCls).newInstance(cfg).asInstanceOf[AnyRef]
    }

    def scanSpans(sc: AnyRef, b: Array[Byte]): AnyRef =
      scanSpansM.invoke(sc, b, Int.box(b.length), scratch)

    def count(sc: AnyRef, b: Array[Byte]): Int =
      spansN.invoke(scanSpans(sc, b)).asInstanceOf[Int]

    /** Databases built by this side from `feeds` (id -> entries): the
      * entries are copied field by field into this side's IntelEntry.
      */
    def dbs(feeds: Seq[(String, Seq[IntelEntry])]): AnyRef = {
      val intelDb = module("graft.intel.IntelDb")
      val build = method(intelDb, "build", 3)
      val entry = loader.loadClass("graft.model.IntelEntry").getConstructors.head
      val arr = java.lang.reflect.Array.newInstance(dbCls, feeds.length)
      feeds.zipWithIndex.foreach { case ((id, entries), i) =>
        val own = entries.map(e =>
          entry.newInstance(e.productIterator.map(_.asInstanceOf[AnyRef]).toSeq: _*))
        java.lang.reflect.Array.set(arr, i,
          build.invoke(intelDb, id, own, java.lang.Boolean.FALSE))
      }
      arr
    }

    def scanFlat(sc: AnyRef, dbs: AnyRef, t: UTF8String): Int =
      scanFlatM.invoke(scanTurn, sc, dbs, t).asInstanceOf[ArrayData].numElements()
  }

  /** Loads `graft.*` from `dir` before asking its parent. */
  private final class ChildFirst(dir: File, parent: ClassLoader)
      extends java.net.URLClassLoader(Array(dir.toURI.toURL), parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      if (!name.startsWith("graft.")) super.loadClass(name, resolve)
      else getClassLoadingLock(name).synchronized {
        val loaded: Class[_] = findLoadedClass(name)
        val c = if (loaded != null) loaded else findClass(name)
        if (resolve) resolveClass(c)
        c
      }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `rounds` timings of `run` per side, alternating which side goes
    * first; returns each side's median seconds.
    */
  private def interleaved(sides: Seq[Side], rounds: Int)(run: Side => Unit)
      : Seq[Double] = {
    val times = sides.map(_ => collection.mutable.ArrayBuffer[Double]())
    (0 until rounds).foreach { r =>
      val order = if (r % 2 == 0) sides.indices else sides.indices.reverse
      order.foreach(i => times(i) += secs(run(sides(i))))
    }
    times.map(t => median(t.toSeq)).toSeq
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val input = arg("--input")
    val nTexts = arg("--texts").map(_.toInt).getOrElse(100000)
    val rounds = arg("--rounds").map(_.toInt).getOrElse(7)
    val here = new Side("this", getClass.getClassLoader)
    val sides = arg("--baseline").map(d =>
      new Side("baseline", new ChildFirst(new File(d), getClass.getClassLoader)))
      .toSeq :+ here

    val (texts, feeds) = input match {
      case Some(dir) =>
        val spark = org.apache.spark.sql.SparkSession.builder()
          .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        val ts = spark.read.parquet(new File(dir, "turns").getPath)
          .select(coalesce(col("text"), lit(""))).limit(nTexts).collect()
          .map(_.getString(0)).toSeq
        val csvs = new File(dir).listFiles.filter(_.getName.endsWith(".csv"))
          .sortBy(_.getName).toSeq
        require(csvs.nonEmpty, s"no feed CSV in $dir")
        val fs = csvs.map(f => f.getName.stripSuffix(".csv") ->
          IntelIngest.toEntries(IntelIngest.readCsv(spark, f.getPath)))
        spark.stop()
        (ts, fs)
      case None =>
        ((0 until nTexts).map(i => graft.pipeline.Fixtures.text(i.toLong)),
          Seq("threats" -> graft.pipeline.Fixtures.intelThreats,
            "allowlist" -> graft.pipeline.Fixtures.intelAllowlist))
    }
    val bytes = texts.map(_.getBytes(UTF_8)).toArray
    val u8 = texts.map(UTF8String.fromString).toArray
    val totalBytes = bytes.map(_.length.toLong).sum
    val all = Seq.fill(8)(true)
    val scanners = sides.map(s => s -> s.scanner(all)).toMap
    val dbs = sides.map(s => s -> s.dbs(feeds)).toMap
    println(f"${bytes.length} texts, $totalBytes bytes (${totalBytes.toDouble / bytes.length}%.0f a text), " +
      s"feeds ${feeds.map(_._1).mkString(", ")}, sides ${sides.map(_.name).mkString(" vs ")}")
    def scanAll(s: Side, sc: AnyRef): Unit = bytes.foreach(b => s.scanSpans(sc, b))
    def flatAll(s: Side): Unit = u8.foreach(t => s.scanFlat(scanners(s), dbs(s), t))
    for (s <- sides) {
      (1 to 3).foreach { _ => scanAll(s, scanners(s)); flatAll(s) }
      val iocs = bytes.map(b => s.count(scanners(s), b).toLong).sum
      val rows = u8.map(t => s.scanFlat(scanners(s), dbs(s), t).toLong).sum
      println(s"${s.name}: $iocs candidates, $rows scanFlat rows")
    }

    def report(label: String, ts: Seq[Double], unit: Double => String): Unit = {
      val cells = sides.zip(ts).map { case (s, t) => s"${s.name} ${unit(t)}" }
      val ratio = if (ts.length == 2) f"  (${ts(0) / ts(1)}%.2fx)" else ""
      println(f"$label%-22s ${cells.mkString("  ")}$ratio")
    }
    val mbps = (t: Double) => f"${totalBytes / t / 1e6}%7.1f MB/s"
    report("scanSpans", interleaved(sides, rounds)(s => scanAll(s, scanners(s))), mbps)
    report("scanFlat", interleaved(sides, rounds)(flatAll),
      t => f"${bytes.length / t}%9.0f turns/s")

    // per-extractor cumulative configs, in emission order
    val names = Seq("domains", "emails", "ipv4", "ipv6", "hashes", "bitcoin",
      "ethereum", "monero")
    val order = Seq(0, 2, 1, 3, 4, 5, 6, 7) // domains, ipv4, emails, ...
    for (k <- 0 to order.length) {
      val on = names.indices.map(i => order.take(k).contains(i))
      val scs = sides.map(s => s -> s.scanner(on)).toMap
      sides.foreach(s => scanAll(s, scs(s))) // warm
      val label = if (k == 0) "anchors only" else "+" + names(order(k - 1))
      report(label, interleaved(sides, rounds)(s => scanAll(s, scs(s))), mbps)
    }
  }
}

/** Spark-side scan bench with plan dump, to localize overhead. */
object SparkScanBench {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 500000L
    val turns = spark.range(n).map(i => graft.pipeline.Fixtures.turn(i, n)).toDF()
    turns.write.mode("overwrite").parquet("/tmp/bench-turns-small")
    val input = spark.read.parquet("/tmp/bench-turns-small")
    val dbs = Seq(
      graft.intel.IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      graft.intel.IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist))
    val m = graft.pipeline.ScanJob.matched(input, dbs, spark)
    println(m.queryExecution.executedPlan.toString().take(4000))
    (1 to 8).foreach { r =>
      val t0 = System.nanoTime()
      val c = m.count()
      val dt = (System.nanoTime()-t0)/1e9
      val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
      var gcms = 0L
      gc.forEach(b => gcms += b.getCollectionTime)
      println(f"rep$r: $dt%.2f s, $c matches, ${n/dt}%.0f rows/s, cumGC=${gcms}ms")
    }
    spark.stop()
  }
}

/** Degradation probe: run the scan N times in one session, print per-run
  * time + GC + code-cache occupancy to localize progressive slowdown. */
object DegradeProbe {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.getOrElse("32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 2000000L
    val dir = "/tmp/probe-turns"
    if (!new java.io.File(dir + "/_SUCCESS").exists()) {
      spark.range(n).map(i => graft.pipeline.Fixtures.turn(i, n)).toDF()
        .write.mode("overwrite").parquet(dir)
    }
    val dbs = Seq(
      graft.intel.IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      graft.intel.IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist))
    val mgmt = java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    (1 to 16).foreach { r =>
      val t0 = System.nanoTime()
      val input = spark.read.parquet(dir)
      val c = graft.pipeline.ScanJob.matched(input, dbs, spark).count()
      val dt = (System.nanoTime()-t0)/1e9
      var code = 0L
      mgmt.forEach(p => if (p.getName.startsWith("CodeHeap")) code += p.getUsage.getUsed)
      var gcms = 0L
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        .forEach(b => gcms += b.getCollectionTime)
      println(f"run$r%02d: $dt%6.2f s  ${n/dt}%9.0f rows/s  code=${code/1024/1024}MB gc=${gcms}ms  ($c)")
    }
    spark.stop()
  }
}

/** Raw-thread scaling probe: scanner+lookup (`ScanTurn.scanFlat`) in N
  * threads, no Spark. */
object ThreadScaleProbe {
  def main(args: Array[String]): Unit = {
    val texts = (0 until 200000).map(i =>
      UTF8String.fromString(graft.pipeline.Fixtures.text(i.toLong))).toArray
    val sc = IocScanner.default
    val dbs = Array(
      graft.intel.IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      graft.intel.IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist))
    def work(reps: Int): Long = {
      var hits = 0L
      var r = 0
      while (r < reps) {
        var j = 0
        while (j < texts.length) {
          hits += ScanTurn.scanFlat(sc, dbs, texts(j)).numElements()
          j += 1
        }
        r += 1
      }
      hits
    }
    work(2) // warmup
    Seq(1, 8, 32).foreach { n =>
      val t0 = System.nanoTime()
      val threads = (0 until n).map(_ => new Thread(() => { work(2); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = 200000L * 2 * n
      println(f"threads=$n%2d: $dt%6.2f s  total=${rows/dt}%9.0f rows/s  per-thread=${rows/dt/n}%8.0f rows/s")
    }
  }
}
