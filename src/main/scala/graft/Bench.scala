package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}

import scala.collection.mutable.ArrayBuffer

/** Query timer: every `SparkEntry.queries` entry over the tables in
  * SPARK_GRAFT_SF_DIR, in one `local[cpus]` session, each timed by writing
  * all of its output to the `noop` sink (never `count()`, which lets
  * Catalyst drop projections, aggregates and sorts).
  *
  * Env: SPARK_GRAFT_SF_DIR (the tables), SPARK_GRAFT_CPUS (default: the
  * host's processors), SPARK_GRAFT_BENCH_QUERIES (optional comma-separated
  * substring filter on query names).
  *
  * Output: the full detail (cpus, max heap, per-query seconds, errors) goes
  * to target/BENCH_LOCAL.json and a "BENCH_DETAIL " stdout line; the LAST
  * stdout line is a compact JSON summary with the ten slowest queries,
  * short enough for a stdout-tail capture.
  *
  * Thread and executor scaling are measured elsewhere: perfbench's
  * `match_wide` (`scaling_eff`, cpus/4 -> cpus) and [[BenchCluster]]
  * (1 -> 4 executor JVMs).
  */
object Bench {

  /** Seconds of each query that finished, and the error of each that threw
    * (a failed query appears only in `errors`).
    */
  final case class Timings(seconds: Seq[(String, Double)],
      errors: Seq[(String, String)]) {
    def total: Double = seconds.map(_._2).sum
  }

  /** Time each query in name order by writing its whole output to `noop`.
    * One untimed job runs first, so that the session's start-up (its first
    * job, codegen and JIT of the scan path) is not charged to the first
    * query in name order.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Timings = {
    warmUp(spark)
    val errors = ArrayBuffer[(String, String)]()
    val seconds = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          errors += name ->
            e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(160)
          None
      }
    }
    Timings(seconds, errors.toSeq)
  }

  /** The untimed warm-up: one small extract job over a literal turn
    * (touches no table), written to `noop` like the timed queries.
    */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(64).select(GraftFunctions.extract_iocs(concat(
      lit("ping 192.0.2."), col("id"), lit(" and evil"), col("id"),
      lit(".example.com"))))
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    // JSON artifacts use %-formatting: pin the locale or a comma-decimal
    // JVM default renders 0,954 and the json parse fails
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').toSeq).getOrElse(Seq.empty)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = timeQueries(spark, sfDir, SparkEntry.queries.filter { case (n, _) =>
      filter.isEmpty || filter.exists(n.contains) })
    spark.stop()

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val sorted = t.seconds.map(_._2).sorted
    val medianSec = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(t.seconds.map { case (k, v) => k -> f"$v%.3f" })
    val errJson = obj(t.errors.map { case (k, v) => k -> ("\"" + v + "\"") })
    val detail =
      f"""{"metric":"total","value":${t.total}%.3f,"unit":"sec",""" +
        s""""sf":"$sfDir","cpus":$cpus,"max_heap_mb":$heapMb,""" +
        s""""queries":$qs,"errors":$errJson}"""
    val out = java.nio.file.Paths.get("target", "BENCH_LOCAL.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, detail + "\n")
    println("BENCH_DETAIL " + detail)
    val slowest =
      obj(t.seconds.sortBy(-_._2).take(10).map { case (k, v) => k -> f"$v%.2f" })
    println(
      f"""{"metric":"queries_total_sec","value":${t.total}%.1f,"unit":"sec",""" +
        f""""n_queries":${t.seconds.length},"n_errors":${t.errors.length},""" +
        f""""median_query_sec":$medianSec%.3f,"cpus":$cpus,""" +
        s""""max_heap_mb":$heapMb,"sf":"$sfDir","slowest":$slowest,""" +
        s""""detail":"$out"}""")
  }
}
