package graft.pipeline

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.oracle.Oracle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end gold parity: the distributed pipeline must equal the
  * single-threaded oracle on the deterministic fixture — counts, routed-row
  * sets, per-turn text round-trip (FIXTURES.md §3).
  */
class ScanJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val nTurns = 2000
  private lazy val turnsSeq = Fixtures.turns(nTurns)
  private lazy val dbs = Seq(
    IntelDb.build("threats", Fixtures.intelThreats),
    IntelDb.build("allowlist", Fixtures.intelAllowlist))
  private lazy val turnsDf = spark.createDataFrame(turnsSeq)

  test("fixture plants a meaningful mix") {
    val cands = Oracle.candidates(turnsSeq)
    val types = cands.groupBy(_.indicator_type).map { case (k, v) => k -> v.size }
    // every extractor family must fire on the fixture
    assert(types.keySet.intersect(Set("ipv4", "ipv6", "domain", "email",
      "md5", "sha256", "bitcoin", "ethereum")).size == 8, types.toString)
    val m = Oracle.matched(turnsSeq, dbs)
    assert(m.nonEmpty)
    assert(m.exists(_.match_type == "ip"))
    assert(m.exists(_.match_type == "pattern"))
    assert(m.exists(_.database_id == "allowlist"))
  }

  test("candidate rows equal oracle extraction (set + multiset counts)") {
    val sparkCands = ScanJob.candidates(turnsDf)
      .as[graft.model.Candidate].collect().toSeq
    val oracleCands = Oracle.candidates(turnsSeq)
    // size+set equality implies MULTISET equality only when the oracle
    // side is duplicate-free — assert that precondition explicitly
    // (candidates carry spans, so true duplicates are impossible)
    assert(oracleCands.distinct.size == oracleCands.size)
    assert(sparkCands.size == oracleCands.size)
    assert(sparkCands.toSet == oracleCands.toSet)
  }

  test("matched rows equal oracle (routed-row set equality)") {
    val sparkMatched = ScanJob.matched(turnsDf, dbs, spark)
      .withColumnRenamed("entry_idx", "pattern_id")
      .select("conv_id", "turn_idx", "role", "indicator_type", "value",
        "matched_text", "span_start", "span_end", "database_id",
        "match_type", "prefix_len", "pattern_id", "threat_level", "category",
        "source", "confidence")
      .as[graft.model.Matched].collect().toSeq
    val oracleMatched = Oracle.matched(turnsSeq, dbs)
    assert(oracleMatched.distinct.size == oracleMatched.size)
    assert(sparkMatched.size == oracleMatched.size)
    assert(sparkMatched.toSet == oracleMatched.toSet)
  }

  test("full run: sinks, gold counts, stats, clean, resume markers") {
    val out = Files.createTempDirectory("graft-scan").toString
    val stats = ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "test-run"))

    val oracleStats = Oracle.stats(turnsSeq, dbs)
    oracleStats.foreach { case (k, v) =>
      assert(stats.getOrElse(k, -1L) == v, s"stat $k")
    }

    // gold counts parity (A10)
    val gold = spark.read.parquet(s"$out/gold_counts")
      .as[(String, String, String, Long)].collect()
      .map { case (d, t, r, c) => (d, t, r) -> c }.toMap
    assert(gold == Oracle.goldCounts(turnsSeq, dbs))

    // routed rows carry the sink partition columns; matched/clean fan out
    // from ONE write (sink=matched | sink=clean)
    val routedBack = spark.read.parquet(s"$out/routed")
    val matchedBack = routedBack.where(col("sink") === "matched")
    assert(matchedBack.columns.contains("indicator_type"))
    assert(matchedBack.columns.contains("bucket"))

    // matched rows equal the oracle's routed-row set (same check as the
    // matched() test, but through run()'s single-pass ScanTurn path)
    val sparkMatchedRows = matchedBack
      .withColumnRenamed("entry_idx", "pattern_id")
      .select("conv_id", "turn_idx", "role", "indicator_type", "value",
        "matched_text", "span_start", "span_end", "database_id",
        "match_type", "prefix_len", "pattern_id", "threat_level", "category",
        "source", "confidence")
      .as[graft.model.Matched].collect().toSeq
    val oracleMatchedRows = Oracle.matched(turnsSeq, dbs)
    assert(oracleMatchedRows.distinct.size == oracleMatchedRows.size)
    assert(sparkMatchedRows.size == oracleMatchedRows.size)
    assert(sparkMatchedRows.toSet == oracleMatchedRows.toSet)

    // clean sink: disjoint from matched, union covers all turns, text
    // round-trips byte-exact under stable (conv_id, turn_idx) order
    val clean = routedBack.where(col("sink") === "clean")
    val matchedKeys = matchedBack.select("conv_id", "turn_idx").distinct()
    assert(clean.join(matchedKeys, Seq("conv_id", "turn_idx"), "inner").count() == 0)
    assert(clean.count() + matchedKeys.count() == nTurns)
    val cleanTexts = clean.select("conv_id", "turn_idx", "text")
      .orderBy("conv_id", "turn_idx")
      .as[(String, Int, String)].collect()
    val expectTexts = {
      val mk = Oracle.matched(turnsSeq, dbs).map(m => (m.conv_id, m.turn_idx)).toSet
      turnsSeq.filterNot(t => mk((t.conv_id, t.turn_idx)))
        .sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => (t.conv_id, t.turn_idx, t.text))
    }
    assert(cleanTexts.toSeq == expectTexts)

    // metrics table: per-partition sink lineage consistent with the stats
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.columns.toSet.contains("partition_id"))
    assert(metrics.agg(sum("matched_rows")).as[Long].head() ==
      stats("total_matches"))
    assert(metrics.agg(sum("clean_turns")).as[Long].head() ==
      stats("lines_processed") - stats("lines_with_matches"))

    // resume: all buckets marked done => second run processes nothing new
    val stats2 = ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 8, resume = true, runId = "test-run-2"))
    assert(stats2("total_matches") == stats("total_matches"))
    // SKIP evidence, not just idempotence: the per-run observed counters
    // are 0 on a fully-resumed run, so a resume that silently reprocessed
    // every bucket (run() is idempotent — output comparison alone cannot
    // tell) fails HERE (round-5 test-review find)
    assert(stats2("total_bytes") == 0L,
      s"resume reprocessed input: observed ${stats2("total_bytes")} bytes")
    val gold2 = spark.read.parquet(s"$out/gold_counts")
      .as[(String, String, String, Long)].collect()
      .map { case (d, t, r, c) => (d, t, r) -> c }.toMap
    assert(gold2 == gold)
  }

  test("sharded backfill: onlyBuckets ranges compose to the full result") {
    val out = Files.createTempDirectory("graft-scan-shard").toString
    // shard 1: buckets 0-3; shard 2: buckets 4-7 (same outDir)
    ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-1",
        onlyBuckets = Some((0 until 4).toSet)))
    val partial = spark.read.parquet(s"$out/routed")
    val shardBuckets = partial.select("bucket").distinct()
      .as[Int].collect().toSet
    // non-empty AND within range: subsetOf alone passes vacuously when a
    // broken shard writes zero rows (round-5 test-review find)
    assert(shardBuckets.nonEmpty && shardBuckets.subsetOf((0 until 4).toSet),
      s"shard-1 buckets: $shardBuckets")
    // markers exist only for shard 1's buckets
    val done1 = new java.io.File(s"$out/_buckets_done").list()
      .filter(_.matches("\\d+")).map(_.toInt).toSet
    assert(done1 == (0 until 4).toSet)
    val stats2 = ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-2",
        onlyBuckets = Some((4 until 8).toSet)))
    // after both shards: global stats equal a single full run's oracle
    val oracleStats = Oracle.stats(turnsSeq, dbs)
    assert(stats2("lines_processed") == oracleStats("lines_processed"))
    assert(stats2("total_matches") == oracleStats("total_matches"))
    assert(stats2("lines_with_matches") == oracleStats("lines_with_matches"))
    // clean + matched turns still partition the full turn set
    val routed = spark.read.parquet(s"$out/routed")
    val mk = routed.where(col("sink") === "matched")
      .select("conv_id", "turn_idx").distinct().count()
    val ck = routed.where(col("sink") === "clean").count()
    assert(mk + ck == nTurns)
    // clean rows preserve the whole turn (tool + ts, not just text)
    assert(routed.columns.contains("tool") && routed.columns.contains("ts"))
    assert(routed.where(col("sink") === "clean" && col("ts").isNull).count() == 0)
    def routedRows() = spark.read.parquet(s"$out/routed")
      .select("sink", "conv_id", "turn_idx", "indicator_type", "value",
        "database_id", "bucket")
      .collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val rowsBefore = routedRows()
    // rerunning shard 1 (idempotent dynamic overwrite) changes nothing —
    // compared by ROW MULTISET, not count: a rerun rewriting the shard
    // partitions with same-cardinality garbage passed the count check
    // (round-5 test-review find)
    ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-1b",
        onlyBuckets = Some((0 until 4).toSet)))
    assert(routedRows() == rowsBefore)
  }

  test("plan shape: no shuffle and no join; metadata read in place") {
    val m = ScanJob.matched(turnsDf, dbs, spark)
    val plan = m.queryExecution.executedPlan.toString()
    // intel_meta reads each hit's metadata from the broadcast databases:
    // no join and no broadcast exchange
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("BroadcastExchange"), plan.take(2000))
    // the matched plan itself must contain no shuffle exchange
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    // round 3: ONE flat generator (scan_turn_flat) — no intermediate
    // filter/re-explode chain between extraction and the metadata join
    assert("Generate ".r.findAllIn(plan).size == 1, plan.take(2000))
    assert(plan.toLowerCase.contains("scan_turn_flat"), plan.take(2000))
  }

  test("plan shape: run()'s routed frame is shuffle-free (single pass)") {
    val withBucket = turnsDf.withColumn("bucket",
      pmod(xxhash64(col("conv_id")), lit(8)))
    val routed = ScanJob.routedFrame(spark, withBucket, dbs)
    val plan = routed.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    // exactly one ScanTurn generator + one explode of its hits — the
    // extraction/lookup subtree is NOT duplicated ("size >= 1" could not
    // catch a duplicated subtree; round-5 test-review find)
    assert("scan_turn_".r.findAllIn(plan.toLowerCase).size == 1,
      plan.take(2000))
    assert("Generate ".r.findAllIn(plan).size == 2, plan.take(2000))
  }

  test("crash-injection: run() killed mid-flight at sampled fs-op budgets, " +
    "resumed — output equals a clean run (north-rule resumability)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[graft.streaming.FaultyLocalFs].getName)
    // clean reference run
    val refOut = Files.createTempDirectory("graft-crash-ref").toString
    ScanJob.run(spark, turnsDf, dbs, refOut,
      ScanJob.RunConfig(buckets = 8, runId = "ref"))
    def goldOf(out: String): Map[(String, String, String), Long] =
      spark.read.parquet(s"$out/gold_counts")
        .as[(String, String, String, Long)].collect()
        .map { case (d, t, r, c) => (d, t, r) -> c }.toMap
    def matchedOf(out: String): Set[(String, Int, String, String)] =
      spark.read.parquet(s"$out/routed").where(col("sink") === "matched")
        .select("conv_id", "turn_idx", "indicator_type", "value")
        .as[(String, Int, String, String)].collect().toSet
    def cleanOf(out: String): Long =
      spark.read.parquet(s"$out/routed").where(col("sink") === "clean").count()
    val refGold = goldOf(refOut)
    val refMatched = matchedOf(refOut)
    val refClean = cleanOf(refOut)

    // geometric budget sweep (a full run is hundreds of mutating ops —
    // sampling doubles covers every phase: initial cleanup, the routed
    // write, gold/stats/metrics, completion markers) until one run
    // completes unfaulted
    var budget = 1
    var cleanRun = false
    while (!cleanRun && budget < 100000) {
      val out = Files.createTempDirectory(s"graft-crash-$budget").toString
      var crashed = false
      graft.streaming.FaultyLocalFs.armAfter(budget)
      try {
        ScanJob.run(spark, turnsDf, dbs, s"faulty://$out",
          ScanJob.RunConfig(buckets = 8, runId = s"crash-$budget"))
        cleanRun = true
      } catch { case _: Throwable => crashed = true }
      finally graft.streaming.FaultyLocalFs.disarm()
      // (no crashed-or-clean assert: the try/catch makes it tautological —
      // the REAL gate is the unconditional content equality below, which
      // runs for faulted AND unfaulted budgets alike)
      if (crashed) {
        // resume over the plain scheme: markers are written LAST, so any
        // crash point leaves either unmarked buckets (reprocessed, dynamic
        // overwrite idempotent) or marked buckets with committed data;
        // gold/stats/metrics are always recomputed from the routed output
        ScanJob.run(spark, turnsDf, dbs, out,
          ScanJob.RunConfig(buckets = 8, resume = true,
            runId = s"resume-$budget"))
      }
      assert(goldOf(out) == refGold, s"gold mismatch after crash at $budget ops")
      assert(matchedOf(out) == refMatched,
        s"matched set mismatch after crash at $budget ops")
      assert(cleanOf(out) == refClean,
        s"clean count mismatch after crash at $budget ops")
      budget *= 2
    }
    assert(cleanRun, "sweep never reached an unfaulted run")
    assert(budget >= 16, s"suspiciously few mutating ops in run(): $budget")
  }

  test("F3 capability defaults: a string-only feed skips the ip scan — " +
      "config assert + no ip candidates through run()") {
    import graft.model.IntelEntry
    val stringOnly = Seq(
      IntelDb.build("strings", Seq(
        IntelEntry("evil.example.com", "high", "c2", "feed", 90),
        IntelEntry("*.bad.net", "low", "heuristic", "feed", 40))))
    // the derived config itself: ip extractors OFF, string extractors ON
    // (match_cmd.rs:277-303)
    val cfg = ScanJob.capabilityConfig(stringOnly)
    assert(!cfg.ipv4 && !cfg.ipv6, cfg.toString)
    assert(cfg.domains && cfg.emails && cfg.hashes && cfg.bitcoin &&
      cfg.ethereum && cfg.monero, cfg.toString)
    // ...and an ip-only feed derives the mirror image
    val ipOnly = Seq(IntelDb.build("ips", Seq(
      IntelEntry("192.0.2.0/24", "high", "c2", "feed", 90))))
    val ipCfg = ScanJob.capabilityConfig(ipOnly)
    assert(ipCfg.ipv4 && ipCfg.ipv6 && !ipCfg.domains && !ipCfg.hashes,
      ipCfg.toString)

    // end-to-end: the turn carries BOTH an extractable ip and a matching
    // domain; with the string-only feed the ip is never even counted as a
    // candidate (the reference's per-type candidate counters see 0)
    val turns = spark.createDataFrame(Seq(
      graft.model.Turn("c1", 0, "user",
        "ping 192.0.2.55 then evil.example.com end", "",
        new java.sql.Timestamp(1700000000000L))))
    val out = Files.createTempDirectory("f3-caps").toString
    val stats = ScanJob.run(spark, turns, stringOnly, out,
      ScanJob.RunConfig(buckets = 2))
    assert(!stats.contains("candidates_ipv4"), stats.toString)
    assert(stats.getOrElse("candidates_domain", 0L) > 0, stats.toString)
    assert(stats("total_matches") == 1L, stats.toString)
  }

  test("F3 --extractors overrides: positive list is exclusive, " +
      "-name subtracts from capability defaults") {
    import graft.extract.{ExtractorOverrides, ScanConfig}
    val caps = ScanConfig() // both sections: everything on
    // exclusive mode: only the named extractor survives
    val only = ExtractorOverrides.parse(Some("ipv4")).resolve(caps)
    assert(only.ipv4 && !only.ipv6 && !only.domains && !only.emails &&
      !only.hashes && !only.bitcoin, only.toString)
    // negative-only: defaults minus the crypto alias group
    val minus = ExtractorOverrides.parse(Some("-crypto")).resolve(caps)
    assert(minus.domains && minus.ipv4 && minus.hashes, minus.toString)
    assert(!minus.bitcoin && !minus.ethereum && !minus.monero,
      minus.toString)
    // alias + plural normalization, mixed with a subtract
    val mixed = ExtractorOverrides.parse(Some("ips,domains,-ipv6"))
      .resolve(caps)
    assert(mixed.ipv4 && !mixed.ipv6 && mixed.domains && !mixed.hashes,
      mixed.toString)
    // unknown names are a clean error (deviation from the reference's
    // silent pass-through, documented in ExtractorOverrides)
    assertThrows[IllegalArgumentException](
      ExtractorOverrides.parse(Some("domian")))

    // through run(): exclusive --extractors=ipv4 on a both-section feed
    // emits no domain candidates even though the feed could match one
    val both = Seq(IntelDb.build("mixed", Seq(
      graft.model.IntelEntry("192.0.2.0/24", "high", "c2", "feed", 90),
      graft.model.IntelEntry("evil.example.com", "critical", "phishing",
        "feed", 95))))
    val turns = spark.createDataFrame(Seq(
      graft.model.Turn("c1", 0, "user",
        "ping 192.0.2.55 then evil.example.com end", "",
        new java.sql.Timestamp(1700000000000L))))
    val out = Files.createTempDirectory("f3-override").toString
    val stats = ScanJob.run(spark, turns, both, out,
      ScanJob.RunConfig(buckets = 2, extractors = Some("ipv4")))
    assert(stats.getOrElse("candidates_ipv4", 0L) > 0, stats.toString)
    assert(!stats.contains("candidates_domain"), stats.toString)
    assert(stats("total_matches") == 1L, stats.toString)
  }

  test("empty input: run() completes with zero stats and completion " +
    "markers instead of a schema-inference crash (round-5 find)") {
    val out = Files.createTempDirectory("graft-scan-empty").toString
    val empty = turnsDf.limit(0)
    val stats = ScanJob.run(spark, empty, dbs, out,
      ScanJob.RunConfig(buckets = 4, runId = "empty-run"))
    assert(stats("total_matches") == 0L)
    assert(stats("lines_processed") == 0L)
    // the job must still write its sinks and mark every bucket done so a
    // scheduled rerun resumes cleanly
    assert(spark.read.parquet(s"$out/gold_counts").count() == 0L)
    assert(spark.read.parquet(s"$out/stats").count() > 0L)
    val doneDir = new java.io.File(s"$out/_buckets_done")
    assert(doneDir.exists &&
      doneDir.listFiles().count(!_.getName.startsWith(".")) == 4)
    // and a resumed run over real data still works after the empty one
    val stats2 = ScanJob.run(spark, turnsDf, dbs, out,
      ScanJob.RunConfig(buckets = 4, runId = "real-run"))
    assert(stats2("total_matches") > 0L)
  }

}
