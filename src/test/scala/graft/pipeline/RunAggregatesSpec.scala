package graft.pipeline

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.model.Turn
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicReference

/** `ScanJob.run` folds `gold_counts/`, `stats/` and `metrics/` from the
  * per-bucket tallies in its completion markers. They must equal what an
  * aggregation over `routed/` read back gives — kept here as the
  * reference — on fresh, sharded, resumed and empty runs. One difference is
  * pinned: turns with a hit are counted as turn rows, where the read-back
  * counted distinct (conv_id, turn_idx) keys.
  */
class RunAggregatesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val fixtureTurns = spark.createDataFrame(Fixtures.turns(2000))
  private lazy val fixtureDbs = Seq(
    IntelDb.build("threats", Fixtures.intelThreats),
    IntelDb.build("allowlist", Fixtures.intelAllowlist))

  private type Multiset = Map[Row, Int]

  private def multiset(df: DataFrame): Multiset =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def hasData(f: File): Boolean =
    f.listFiles().exists { c =>
      !c.getName.startsWith("_") && !c.getName.startsWith(".") &&
        (!c.isDirectory || hasData(c))
    }

  /** A written table's rows; a directory without data files has none. */
  private def table(dir: String): Multiset =
    if (!hasData(new File(dir))) Map.empty
    else multiset(spark.read.parquet(dir))

  /** The aggregation over `routed/` read back, as `run` did it before the
    * tallies: gold counts, global line counts and lineage metrics.
    */
  private def readBack(out: String, runId: String)
      : (Multiset, Map[String, Long], Multiset) = {
    val keys = Seq("sink", "conv_id", "turn_idx", "partition_id", "bucket",
      "database_id", "indicator_type", "role")
    val routed =
      if (hasData(new File(s"$out/routed")))
        spark.read.parquet(s"$out/routed").select(keys.map(col): _*)
      else spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
        StructField("sink", StringType), StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType),
        StructField("partition_id", IntegerType),
        StructField("bucket", IntegerType),
        StructField("database_id", StringType),
        StructField("indicator_type", StringType),
        StructField("role", StringType))))
    val matched = col("sink") === "matched"
    val gold = routed.where(matched)
      .groupBy("database_id", "indicator_type", "role")
      .agg(count(lit(1)).as("match_count"))
    val Row(total: Long, withMatches: Long, clean: Long) = routed
      .agg(count(when(matched, 1)),
        countDistinct(when(matched, struct(col("conv_id"), col("turn_idx")))),
        count(when(col("sink") === "clean", 1)))
      .head()
    val metrics = routed.groupBy("partition_id", "bucket")
      .agg(count(when(matched, 1)).as("matched_rows"),
        count(when(col("sink") === "clean", 1)).as("clean_turns"),
        countDistinct(when(matched, struct(col("conv_id"), col("turn_idx"))))
          .as("turns_with_matches"))
      .withColumn("run_id", lit(runId))
    (multiset(gold), Map("lines_processed" -> (withMatches + clean),
      "total_matches" -> total, "lines_with_matches" -> withMatches),
      multiset(metrics))
  }

  /** `run` into `out`, then its three outputs against the reference. */
  private def runAndCheck(turns: DataFrame, dbs: Seq[IntelDb], out: String,
      cfg: ScanJob.RunConfig): Map[String, Long] =
    check(out, cfg, ScanJob.run(spark, turns, dbs, out, cfg))

  /** The outputs of the run `cfg` that returned `stats` against the
    * reference over the `routed/` under `out` as it is now.
    */
  private def check(out: String, cfg: ScanJob.RunConfig,
      stats: Map[String, Long]): Map[String, Long] = {
    val (gold, globals, metrics) = readBack(out, cfg.runId)
    assert(table(s"$out/gold_counts") == gold, s"${cfg.runId} gold_counts")
    globals.foreach { case (k, v) =>
      assert(stats(k) == v, s"${cfg.runId} stat $k")
    }
    assert(table(s"$out/stats") == stats.map { case (k, v) =>
      Row(k, v) -> 1 }, s"${cfg.runId} stats")
    assert(table(s"$out/metrics").filter(_._1.getAs[String]("run_id") ==
      cfg.runId) == metrics, s"${cfg.runId} metrics")
    stats
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("fixture: gold counts, stats and metrics equal the read-back " +
    "aggregation") {
    val stats = runAndCheck(fixtureTurns, fixtureDbs, tmp("agg-fixture"),
      ScanJob.RunConfig(buckets = 8, runId = "fixture"))
    assert(stats("total_matches") > 0 && stats("lines_processed") == 2000)
  }

  test("hostile corpus at 32 partitions, NDJSON on: aggregates equal the " +
    "read-back aggregation") {
    val (turnsSeq, dbs) = graft.props.ScanDifferentialSpec.hostileCorpus()
    val stats = runAndCheck(spark.createDataFrame(turnsSeq).repartition(32),
      dbs, tmp("agg-hostile"),
      ScanJob.RunConfig(buckets = 8, runId = "hostile", ndjson = true))
    assert(stats("total_matches") > 200, stats)
  }

  test("onlyBuckets backfill in two shards, then a shard rerun: each run's " +
    "aggregates cover every marked bucket") {
    val out = tmp("agg-shards")
    val first = runAndCheck(fixtureTurns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-a",
        onlyBuckets = Some((0 until 4).toSet)))
    val both = runAndCheck(fixtureTurns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-b",
        onlyBuckets = Some((4 until 8).toSet)))
    assert(0 < first("lines_processed") && both("lines_processed") == 2000)
    val rerun = runAndCheck(fixtureTurns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "shard-a2",
        onlyBuckets = Some((0 until 4).toSet)))
    assert(rerun.filter(_._1.startsWith("lines")) ==
      both.filter(_._1.startsWith("lines")))
  }

  test("a shard that marks its buckets while another shard is writing is " +
    "in the other's aggregates") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.shardrace.impl", classOf[ShardRaceFs].getName)
    val out = tmp("agg-race")
    val b = ScanJob.RunConfig(buckets = 8, runId = "race-b",
      onlyBuckets = Some((4 until 8).toSet))
    // shard b runs whole between shard a's routed write and a's fold, as
    // when the two start together and b finishes first
    ShardRaceFs.onMarker.set(() =>
      ScanJob.run(spark, fixtureTurns, fixtureDbs, out, b))
    val a = ScanJob.RunConfig(buckets = 8, runId = "race-a",
      onlyBuckets = Some((0 until 4).toSet))
    val stats =
      try ScanJob.run(spark, fixtureTurns, fixtureDbs, s"shardrace://$out", a)
      finally ShardRaceFs.onMarker.set(null)
    assert(new File(s"$out/metrics/run_id=race-b").isDirectory)
    check(out, a, stats)
    assert(stats("lines_processed") == 2000L, stats)
  }

  test("fully resumed run: aggregates come from the markers alone") {
    val out = tmp("agg-resume")
    val full = runAndCheck(fixtureTurns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "full"))
    val resumed = runAndCheck(fixtureTurns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 8, runId = "resumed", resume = true))
    assert(resumed("total_bytes") == 0L)
    assert(resumed("total_matches") == full("total_matches"))
  }

  test("empty input: empty gold counts and metrics, zero stats") {
    val out = tmp("agg-empty")
    val stats = runAndCheck(fixtureTurns.limit(0), fixtureDbs, out,
      ScanJob.RunConfig(buckets = 4, runId = "empty"))
    assert(stats("lines_processed") == 0L && stats("total_matches") == 0L)
    assert(table(s"$out/gold_counts").isEmpty)
    assert(new File(s"$out/_buckets_done").list()
      .filterNot(_.startsWith(".")).sorted.toSeq == Seq("0", "1", "2", "3"))
  }

  test("two input rows sharing (conv_id, turn_idx) count as two turns " +
    "with a hit; the read-back counted one key") {
    val ts = new Timestamp(1700000000000L)
    val turns = spark.createDataFrame(Seq(
      Turn("c", 0, "user", "see 192.0.2.1", "", ts),
      Turn("c", 0, "user", "see 192.0.2.1 again", "", ts)))
    val out = tmp("agg-dup")
    val stats = ScanJob.run(spark, turns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 2, runId = "dup"))
    val (gold, globals, _) = readBack(out, "dup")
    assert(stats("total_matches") >= 2L, stats)
    assert(table(s"$out/gold_counts") == gold)
    assert(stats("lines_with_matches") == 2L &&
      stats("lines_processed") == 2L, stats)
    assert(globals("lines_with_matches") == 1L, globals)
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.agg(sum("turns_with_matches")).head().getLong(0) == 2L)
  }

  /** path -> (length, modification time) of every file under `dir`. */
  private def snapshot(dir: File): Map[String, (Long, Long)] =
    dir.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) snapshot(f)
      else Seq(f.getPath -> ((f.length, f.lastModified)))
    }.toMap

  test("resume over an empty marker from an older version fails before " +
    "any delete or write, naming the marker") {
    val out = tmp("agg-old-marker")
    val turns = spark.createDataFrame(Fixtures.turns(200))
    ScanJob.run(spark, turns, fixtureDbs, out, ScanJob.RunConfig(buckets = 4))
    Files.write(new File(s"$out/_buckets_done/2").toPath,
      Array.emptyByteArray)
    // a stale NDJSON stream, which a run with ndjson off deletes
    new File(s"$out/ndjson").mkdirs()
    Files.write(new File(s"$out/ndjson/part-0.json").toPath,
      "{}".getBytes("UTF-8"))
    val before = snapshot(new File(out))
    Thread.sleep(20) // a rewrite would show in the modification times
    val e = intercept[IllegalArgumentException](ScanJob.run(spark, turns,
      fixtureDbs, out, ScanJob.RunConfig(buckets = 4, resume = true)))
    assert(e.getMessage.contains("_buckets_done/2"), e.getMessage)
    assert(e.getMessage.contains("no bucket tally"), e.getMessage)
    assert(snapshot(new File(out)) == before)
  }

  test("the marker listing skips temporary and hidden names") {
    val out = tmp("agg-hidden")
    val turns = spark.createDataFrame(Fixtures.turns(200))
    val full = ScanJob.run(spark, turns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 4))
    Files.write(new File(s"$out/_buckets_done/.3.tmp").toPath,
      "{\"gold\":".getBytes("UTF-8"))
    Files.write(new File(s"$out/_buckets_done/_notes").toPath,
      Array.emptyByteArray)
    val resumed = runAndCheck(turns, fixtureDbs, out,
      ScanJob.RunConfig(buckets = 4, resume = true, runId = "hidden"))
    assert(resumed("total_bytes") == 0L)
    assert(resumed("total_matches") == full("total_matches"))
  }

  test("a stray file among the markers: a resume fails naming it before " +
    "any delete or write, a fresh run clears it") {
    val out = tmp("agg-stray")
    val turns = spark.createDataFrame(Fixtures.turns(200))
    val cfg = ScanJob.RunConfig(buckets = 4)
    ScanJob.run(spark, turns, fixtureDbs, out, cfg)
    Files.write(new File(s"$out/_buckets_done/notes.txt").toPath,
      "x".getBytes("UTF-8"))
    val before = snapshot(new File(out))
    Thread.sleep(20) // a rewrite would show in the modification times
    val e = intercept[IllegalArgumentException](ScanJob.run(spark, turns,
      fixtureDbs, out, cfg.copy(resume = true)))
    assert(e.getMessage.contains("_buckets_done/notes.txt"), e.getMessage)
    assert(snapshot(new File(out)) == before)
    ScanJob.run(spark, turns, fixtureDbs, out, cfg)
    assert(new File(s"$out/_buckets_done").list()
      .filterNot(_.startsWith(".")).sorted.toSeq == Seq("0", "1", "2", "3"))
  }
}

/** A local filesystem, under the `shardrace:` scheme, that runs
  * [[ShardRaceFs.onMarker]] once, right after the first rename into a
  * `_buckets_done` directory: it stands for another job that lands its
  * markers while the run is between its routed write and its aggregates.
  */
class ShardRaceFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("shardrace:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (dst.getParent.getName == "_buckets_done")
      Option(ShardRaceFs.onMarker.getAndSet(null)).foreach(_())
    ok
  }
}

object ShardRaceFs {
  val onMarker = new AtomicReference[() => Any]()
}
