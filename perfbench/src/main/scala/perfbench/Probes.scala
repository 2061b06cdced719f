package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import graft.extract.IocScanner
import graft.functions.ScanTurn
import graft.intel.IntelDb
import graft.model.IndicatorType
import org.apache.spark.unsafe.types.UTF8String

/** Per-layer probes for the traced run: single-thread calls into the
  * public functions of the scanner, the intel databases and the scan
  * generator, over the workload's own texts prepared before timing. Each
  * probe runs on a fresh thread, so the lookup memo starts empty.
  */
object Probes {

  /** Run `f` on a new thread and return its result. */
  private def onFreshThread[T](f: => T): T = {
    var out: Either[Throwable, T] = null
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    out.fold(e => throw e, identity)
  }

  /** Repeat `body` over the inputs until `minSeconds` have passed; returns
    * (passes, seconds).
    */
  private def repeat(minSeconds: Double)(body: => Unit): (Int, Double) = {
    val t0 = System.nanoTime
    var n = 0
    while (n == 0 || (System.nanoTime - t0) / 1e9 < minSeconds) { body; n += 1 }
    (n, (System.nanoTime - t0) / 1e9)
  }

  /** Scanner throughput (MB/s, one thread) and candidates per turn; also
    * returns the candidates in turn order for the lookup probe.
    */
  def extract(texts: Seq[String], dbs: Seq[IntelDb],
      minSeconds: Double): (Map[String, Double], Seq[(String, String)]) = {
    val scanner = new IocScanner(Checks.scanConfig(dbs))
    val bytes = texts.map(t => t.getBytes(StandardCharsets.UTF_8)).toArray
    val total = bytes.map(_.length.toLong).sum
    onFreshThread {
      var cands = 0L
      bytes.foreach(b => cands += scanner.scan(b).length) // warm the JIT
      val (passes, secs) = repeat(minSeconds) {
        bytes.foreach(b => scanner.scan(b))
      }
      val found = new ArrayBuffer[(String, String)]
      bytes.foreach(b => scanner.scan(b).foreach(m =>
        found += ((m.indicator_type, m.value))))
      (Map(
        "extract.mb_per_s" -> total * passes / secs / 1e6,
        "extract.candidates_per_turn" -> cands.toDouble / bytes.length),
        found.toSeq)
    }
  }

  /** Lookup cost per probe (ns, one thread) and memo hit and match rates,
    * from `IntelDb.stats` deltas, with the probes of one pass as the base.
    */
  def intel(cands: Seq[(String, String)], dbs: Seq[IntelDb],
      minSeconds: Double): Map[String, Double] = onFreshThread {
    val ips = cands.filter(c => c._1 == IndicatorType.Ipv4 ||
      c._1 == IndicatorType.Ipv6).map(c => (c._2, c._1 == IndicatorType.Ipv6)).toArray
    val strs = cands.filterNot(c => c._1 == IndicatorType.Ipv4 ||
      c._1 == IndicatorType.Ipv6).map(_._2).toArray
    def sum(f: IntelDb.LookupStats => Long) = dbs.map(d => f(d.stats)).sum
    // first pass from an empty memo gives the rates
    val s0 = dbs.map(_.stats)
    ips.foreach { case (v, v6) => dbs.foreach(_.lookupIp(v, v6)) }
    strs.foreach(v => dbs.foreach(_.lookupString(v)))
    val s1 = dbs.map(_.stats)
    def delta(f: IntelDb.LookupStats => Long) =
      s1.map(f).sum - s0.map(f).sum
    def rate(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val (ipPasses, ipSecs) = repeat(minSeconds / 2) {
      ips.foreach { case (v, v6) => dbs.foreach(_.lookupIp(v, v6)) }
    }
    val (strPasses, strSecs) = repeat(minSeconds / 2) {
      strs.foreach(v => dbs.foreach(_.lookupString(v)))
    }
    val ipProbes = ips.length.toLong * dbs.size
    val strProbes = strs.length.toLong * dbs.size
    Map(
      "intel.ip_probe_ns" ->
        (if (ipProbes == 0) 0.0 else ipSecs * 1e9 / (ipProbes * ipPasses)),
      "intel.string_probe_ns" ->
        (if (strProbes == 0) 0.0 else strSecs * 1e9 / (strProbes * strPasses)),
      "intel.ip_memo_hit_rate" -> rate(delta(_.ipMemoHits), delta(_.ipLookups)),
      "intel.string_memo_hit_rate" ->
        rate(delta(_.stringMemoHits), delta(_.stringLookups)),
      "intel.ip_match_rate" -> rate(delta(_.ipMatches), delta(_.ipLookups)),
      "intel.string_match_rate" ->
        rate(delta(_.stringMatches), delta(_.stringLookups)))
  }

  /** The production generator body (extract plus all-database lookup),
    * without Spark: turns per second on one thread and rows per turn.
    */
  def functions(texts: Seq[String], dbs: Seq[IntelDb],
      minSeconds: Double): Map[String, Double] = onFreshThread {
    val scanner = new IocScanner(Checks.scanConfig(dbs))
    val arr = dbs.toArray
    val u8 = texts.map(UTF8String.fromString).toArray
    var rows = 0L
    u8.foreach(t => rows += ScanTurn.scan(scanner, arr, t).numElements())
    val (passes, secs) = repeat(minSeconds) {
      u8.foreach(t => ScanTurn.scan(scanner, arr, t))
    }
    Map("functions.turns_per_s_1t" -> u8.length * passes / secs,
      "functions.rows_per_turn" -> rows.toDouble / u8.length)
  }
}
