package graft

import graft.intel.{IntelDb, IntelStore}
import graft.pipeline.ScanJob
import graft.sources.IntelIngest
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the production scan job:
  *
  * {{{
  * spark-submit --class graft.ScanMain matchyspark.jar \
  *   --turns <table-path> --intel <feed.csv|feed.json|feed.txt|store-dir> \
  *   [--intel2 <...>] --out <dir> [--buckets 256] [--resume] [--run-id r1] \
  *   [--case-insensitive]   # feed builds only; stores keep their build mode
  *   [--ndjson [--ndjson-source <label>]]  # also emit the reference-format
  *                                         # NDJSON match stream (S10)
  *   [--ndjson-inline-extra]   # byte-parity mode: dynamic feed keys
  *                             # inline at the data top level (the
  *                             # reference's own shape) instead of
  *                             # nesting under "extra"
  *   [--extractors ipv4,domain | -crypto,-hash]  # override the
  *            # capability-derived extractor defaults (F3): positive
  *            # names = exclusive set, -name subtracts; aliases
  *            # crypto/ip/ips (match_cmd.rs:277-303 semantics)
  * }}}
  *
  * In local mode this is exercised by the verify probes; on a cluster the
  * same binary runs at N and 4N executors (the master/executor topology
  * comes from spark-submit, nothing here changes).
  */
object ScanMain {

  private def loadIntel(spark: SparkSession, id: String, path: String,
      caseInsensitive: Boolean): IntelDb = {
    val entries =
      if (path.endsWith(".csv"))
        IntelIngest.toEntries(IntelIngest.readCsv(spark, path))
      else if (path.endsWith(".json"))
        IntelIngest.toEntries(IntelIngest.readJson(spark, path))
      else if (path.endsWith(".txt"))
        IntelIngest.toEntries(IntelIngest.readText(spark, path))
      // compiled-db store dir: match mode was fixed at build time and is
      // persisted in the store (matchy build --case-insensitive analog,
      // bin/commands/build_cmd.rs) — the flag does not re-interpret it
      else return IntelStore.load(spark, path)
    IntelDb.build(id, entries, caseInsensitive)
  }

  def main(args: Array[String]): Unit = {
    val opts = scala.collection.mutable.Map[String, String]()
    var resume = false
    var caseInsensitive = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--resume" => resume = true; i += 1
        case "--case-insensitive" => caseInsensitive = true; i += 1
        case "--ndjson" => opts("ndjson") = "true"; i += 1
        case "--ndjson-inline-extra" =>
          opts("ndjson-inline-extra") = "true"; i += 1
        case k if k.startsWith("--") && i + 1 < args.length =>
          opts(k.drop(2)) = args(i + 1); i += 2
        case other => sys.error(s"unexpected argument: $other")
      }
    }
    val turnsPath = opts.getOrElse("turns",
      sys.error("--turns <path> is required"))
    val intelPath = opts.getOrElse("intel",
      sys.error("--intel <feed-or-store> is required"))

    val spark = SparkSession.builder()
      .appName("graft-scan")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dbs = Seq(loadIntel(spark, "threats", intelPath, caseInsensitive)) ++
      opts.get("intel2").map(p =>
        loadIntel(spark, "allowlist", p, caseInsensitive))
    // S3: `--turns -` reads stdin line-per-turn (the reference's `-` path)
    val turns =
      if (turnsPath == "-") graft.sources.StdinSource.readTurns(spark)
      else ScanJob.readTurns(spark, turnsPath)
    val stats = ScanJob.run(spark,
      turns, dbs,
      opts.getOrElse("out", sys.error("--out <dir> is required")),
      ScanJob.RunConfig(
        buckets = opts.getOrElse("buckets", "256").toInt,
        resume = resume,
        runId = opts.getOrElse("run-id", "run-0"),
        ndjson = opts.get("ndjson").contains("true"),
        ndjsonSource = opts.getOrElse("ndjson-source", turnsPath),
        extractors = opts.get("extractors"),
        ndjsonInlineExtra =
          opts.get("ndjson-inline-extra").contains("true")))
    stats.toSeq.sorted.foreach { case (k, v) => println(s"$k=$v") }
    spark.stop()
  }
}
