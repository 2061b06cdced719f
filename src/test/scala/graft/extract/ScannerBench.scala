package graft.extract

import graft.functions.ScanTurn
import org.apache.spark.unsafe.types.UTF8String

/** Micro-benchmark main (not a test): single-thread scanner throughput on
  * fixture texts, to separate scanner cost from Spark overhead. Times the
  * production scan (`scanSpans`: spans, no candidate Strings).
  * Run: sbt "Test/runMain graft.extract.ScannerBench"
  */
object ScannerBench {
  def main(args: Array[String]): Unit = {
    val n = 200000
    val texts = (0 until n).map(i => graft.pipeline.Fixtures.text(i.toLong))
    val bytes = texts.map(_.getBytes("UTF-8"))
    val totalBytes = bytes.map(_.length.toLong).sum
    val sc = IocScanner.default
    val scr = new IocScanner.ScanScratch
    def scan(s: IocScanner, b: Array[Byte]): Int = s.scanSpans(b, b.length, scr).n
    // warmup
    var found = 0L
    bytes.foreach(b => found += scan(sc, b))
    (1 to 2).foreach { _ =>
      found = 0
      val t0 = System.nanoTime()
      bytes.foreach(b => found += scan(sc, b))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"scan: $n rows, $totalBytes bytes, $dt%.3f s, " +
        f"${totalBytes / dt / 1e6}%.1f MB/s, ${n / dt}%.0f rows/s, $found iocs")
    }
    // interleaved A/B of the round-6 anchor-loop restructure: the OLD
    // per-byte loop (verbatim pre-round-6 body) vs the tight-run form now
    // in collectAnchors, same JVM, alternating — host drift hits both
    locally {
      val tbl = IocScanner.anchorClassTable
      def oldAnchors(b: Array[Byte], n: Int): Unit = {
        val tokens = scr.tokens; tokens.clear()
        val dots = scr.dots; dots.clear()
        val ats = scr.ats; ats.clear()
        val dcolons = scr.dcolons; dcolons.clear()
        val zx = scr.zx; zx.clear()
        var tokenStart = -1
        var i = 0
        while (i < n) {
          val k = tbl(b(i) & 0xff)
          if (k == 0) {
            if (tokenStart < 0) tokenStart = i
          } else {
            if ((k & 1) != 0) {
              if (tokenStart >= 0) {
                if (i - tokenStart >= 26) { tokens.add(tokenStart); tokens.add(i) }
                tokenStart = -1
              }
            } else if (tokenStart < 0) tokenStart = i
            if ((k & 2) != 0) dots.add(i)
            else if ((k & 4) != 0) ats.add(i)
            else if ((k & 8) != 0) { if (i + 1 < n && b(i + 1) == ':') dcolons.add(i) }
            else if ((k & 16) != 0) { if (i + 1 < n && b(i + 1) == 'x') zx.add(i) }
          }
          i += 1
        }
        if (tokenStart >= 0 && n - tokenStart >= 26) {
          tokens.add(tokenStart); tokens.add(n)
        }
      }
      val none = new IocScanner(ScanConfig(domains = false, emails = false,
        ipv4 = false, ipv6 = false, hashes = false, bitcoin = false,
        ethereum = false, monero = false))
      def runOld(): Double = {
        val t0 = System.nanoTime()
        bytes.foreach(b => oldAnchors(b, b.length))
        (System.nanoTime() - t0) / 1e9
      }
      def runNew(): Double = {
        val t0 = System.nanoTime()
        bytes.foreach(b => scan(none, b))
        (System.nanoTime() - t0) / 1e9
      }
      runOld(); runNew() // warm
      val olds = collection.mutable.ArrayBuffer[Double]()
      val news = collection.mutable.ArrayBuffer[Double]()
      (1 to 5).foreach { _ => olds += runOld(); news += runNew() }
      val om = olds.sorted.apply(2); val nm = news.sorted.apply(2)
      println(f"anchors A/B: old-median $om%.3f s (${totalBytes / om / 1e6}%.0f MB/s) " +
        f"new-median $nm%.3f s (${totalBytes / nm / 1e6}%.0f MB/s)")
    }

    // per-extractor decomposition (round 6): cumulative configs — the
    // delta of each line is that extractor's marginal cost on this corpus
    locally {
      val none = ScanConfig(domains = false, emails = false, ipv4 = false,
        ipv6 = false, hashes = false, bitcoin = false, ethereum = false,
        monero = false)
      val steps = Seq(
        "anchors only" -> none,
        "+domains" -> none.copy(domains = true),
        "+ipv4" -> none.copy(domains = true, ipv4 = true),
        "+emails" -> none.copy(domains = true, ipv4 = true, emails = true),
        "+ipv6" -> none.copy(domains = true, ipv4 = true, emails = true,
          ipv6 = true),
        "+hashes" -> none.copy(domains = true, ipv4 = true, emails = true,
          ipv6 = true, hashes = true),
        "+bitcoin" -> none.copy(domains = true, ipv4 = true, emails = true,
          ipv6 = true, hashes = true, bitcoin = true),
        "+ethereum" -> none.copy(domains = true, ipv4 = true, emails = true,
          ipv6 = true, hashes = true, bitcoin = true, ethereum = true),
        "+monero (all)" -> ScanConfig())
      for ((name, cfg) <- steps) {
        val s = new IocScanner(cfg)
        var f = 0L
        bytes.foreach(b => f += scan(s, b)) // warm
        val t0 = System.nanoTime()
        f = 0
        bytes.foreach(b => f += scan(s, b))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"cfg $name%-14s $dt%.3f s ${totalBytes / dt / 1e6}%6.1f MB/s ($f iocs)")
      }
    }
    // text generation cost
    val t1 = System.nanoTime()
    var len = 0L
    (0 until n).foreach(i => len += graft.pipeline.Fixtures.text(i.toLong).length)
    val dtGen = (System.nanoTime() - t1) / 1e9
    println(f"gen:  $dtGen%.3f s (${n / dtGen}%.0f rows/s)")
    // turn generation cost (includes conv-id formatting)
    val t2 = System.nanoTime()
    var k = 0L
    (0 until n).foreach(i => k += graft.pipeline.Fixtures.turn(i.toLong, n.toLong).turn_idx)
    val dtTurn = (System.nanoTime() - t2) / 1e9
    println(f"turn: $dtTurn%.3f s (${n / dtTurn}%.0f rows/s)")
  }
}

/** scan + lookup microbench: the full per-row work without Spark — the
  * production generator body (`ScanTurn.scanFlat`: spans, byte-keyed
  * probes, rows only for hits); "hits" counts (candidate x database) rows.
  */
object LookupBench {
  def main(args: Array[String]): Unit = {
    val n = 100000
    val texts = (0 until n).map(i =>
      UTF8String.fromString(graft.pipeline.Fixtures.text(i.toLong)))
    val sc = IocScanner.default
    val dbs = Array(
      graft.intel.IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      graft.intel.IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist))
    def run(): Long = {
      var hits = 0L
      texts.foreach(t => hits += ScanTurn.scanFlat(sc, dbs, t).numElements())
      hits
    }
    run()
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      val h = run()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"scan+lookup: $n rows, $dt%.3f s, ${n / dt}%.0f rows/s, $h hits")
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
