package graft.pipeline

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.model.{IntelEntry, Turn}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** The in-place metadata read (`intel_meta`) must give exactly what the
  * broadcast hash join against `ScanJob.intelMetaDf` gave: same columns in
  * the same order with the same types, same row multiset, null metadata on
  * clean routed rows, and the same NDJSON bytes out of `ScanJob.run`.
  */
class MetaAttachSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The metadata attach as a join, kept here as the reference. */
  private def joinMeta(hits: DataFrame, dbs: Seq[IntelDb],
      how: String): DataFrame =
    hits
      .join(broadcast(ScanJob.intelMetaDf(spark, dbs)),
        Seq("db_idx", "entry_idx"), how)
      .drop("db_idx")
      .withColumn("cidr",
        when(col("match_type") === "ip",
          concat(col("value"), lit("/"), col("prefix_len"))))

  private def joinMatched(turns: DataFrame, dbs: Seq[IntelDb]): DataFrame =
    joinMeta(ScanJob.matchedHits(turns, dbs, prescreen = false, None), dbs,
      "inner")

  private def joinRouted(withBucket: DataFrame,
      dbs: Seq[IntelDb]): DataFrame =
    joinMeta(ScanJob.routedHits(withBucket, dbs, None, None, None), dbs,
      "left")
      .withColumn("indicator_type",
        coalesce(col("indicator_type"), lit("none")))

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema == want.schema, got.schema.treeString)
    val g = multiset(got)
    assert(g.nonEmpty)
    assert(g == multiset(want))
  }

  private val metaCols = Seq("database_id", "entry", "entry_type",
    "threat_level", "category", "source", "confidence", "to_ids", "comment",
    "attr_type", "attr_timestamp", "tags", "extra", "extra_json", "data_json")

  private def withBucket(turns: DataFrame): DataFrame =
    turns.withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(8)))

  // fixture feeds
  private lazy val fixtureTurns = spark.createDataFrame(Fixtures.turns(2000))
  private lazy val fixtureDbs = Seq(
    IntelDb.build("threats", Fixtures.intelThreats),
    IntelDb.build("allowlist", Fixtures.intelAllowlist))

  // several databases with overlapping entries, typed extras, MISP
  // attribute fields and entries without extras
  private lazy val multiDbs = Seq(
    IntelDb.build("misp", Seq(
      IntelEntry("192.0.2.0/24", "high", "c2", "misp-feed", 90,
        to_ids = Some(true), comment = "C2 range", attr_type = "ip-dst",
        attr_timestamp = 1700000000L, tags = "tlp:amber,apt",
        extra = Map("ttl" -> "3600", "campaign" -> "alpha"),
        extra_types = Map("ttl" -> "i32", "campaign" -> "str")),
      IntelEntry("evil.example.com", "critical", "phishing", "misp-feed", 95,
        to_ids = Some(false), attr_type = "domain",
        attr_timestamp = 1700000500L, tags = "tlp:red"),
      IntelEntry("*.bad.net", "medium", "heuristic", "misp-feed", 50,
        extra = Map("score" -> "0.5", "verified" -> "true"),
        extra_types = Map("score" -> "f64", "verified" -> "bool")),
      IntelEntry("d41d8cd98f00b204e9800998ecf8427e", "low", "malware",
        "misp-feed", 30))),
    IntelDb.build("second", Seq(
      IntelEntry("192.0.2.128/25", "high", "scanner", "feed-b", 70,
        extra = Map("port" -> "0443"), extra_types = Map("port" -> "str")),
      IntelEntry("evil.example.com", "high", "c2", "feed-b", 80,
        extra = Map("actor" -> "APT-1")),
      IntelEntry("10.0.0.0/8", "low", "internal", "feed-b", 10))))

  private lazy val multiTurnSeq: Seq[Turn] = {
    val texts = Seq(
      "ping 192.0.2.200 then evil.example.com end",
      "download from x.bad.net and 10.1.2.3 please",
      "hash d41d8cd98f00b204e9800998ecf8427e seen",
      "all clean here",
      "candidate 8.8.8.8 but nothing matches",
      null)
    (0 until 60).map { i =>
      Turn(s"c${i % 7}", i, if (i % 2 == 0) "user" else "assistant",
        texts(i % texts.size), "", new Timestamp(1700000000000L + i * 1000L))
    }
  }
  private lazy val multiTurns = spark.createDataFrame(multiTurnSeq)

  test("matched equals the metadata join on the fixture feeds") {
    assertSame(ScanJob.matched(fixtureTurns, fixtureDbs, spark),
      joinMatched(fixtureTurns, fixtureDbs))
  }

  test("matched equals the metadata join with extras and MISP fields") {
    val got = ScanJob.matched(multiTurns, multiDbs, spark)
    assertSame(got, joinMatched(multiTurns, multiDbs))
    // the set really covers both databases, extras, MISP fields and
    // entries without extras
    val rows = got.collect()
    assert(rows.map(_.getAs[String]("database_id")).toSet ==
      Set("misp", "second"))
    assert(rows.exists(_.getAs[Map[String, String]]("extra") == null))
    assert(rows.exists(_.getAs[Map[String, String]]("extra") ==
      Map("campaign" -> "alpha", "ttl" -> "3600")))
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("to_ids")) &&
      r.getAs[Boolean]("to_ids")))
    assert(rows.exists(_.getAs[String]("tags") == "tlp:amber,apt"))
    assert(rows.exists(_.getAs[Long]("attr_timestamp") == 1700000500L))
  }

  test("routedFrame equals the metadata left join; clean rows carry null " +
    "metadata") {
    for ((turns, dbs) <- Seq((fixtureTurns, fixtureDbs),
      (multiTurns, multiDbs))) {
      val got = ScanJob.routedFrame(spark, withBucket(turns), dbs)
      assertSame(got, joinRouted(withBucket(turns), dbs))
      val clean = got.where(col("sink") === "clean")
      assert(clean.count() > 0)
      assert(clean.where(metaCols.map(col(_).isNotNull).reduce(_ || _))
        .count() == 0)
      assert(clean.where(col("entry_idx").isNotNull || col("cidr").isNotNull)
        .count() == 0)
    }
  }

  test("run(ndjson) writes the same NDJSON bytes as the metadata join, " +
    "nested and inlineExtra") {
    for (inline <- Seq(false, true)) {
      val cfg = ScanJob.RunConfig(buckets = 8, ndjson = true,
        ndjsonSource = "transcripts.log", ndjsonInlineExtra = inline)
      val out = Files.createTempDirectory("meta-ndjson").toString
      ScanJob.run(spark, multiTurns, multiDbs, s"$out/new", cfg)
      // the reference: run()'s routed write and NDJSON sink over the join
      val routed = joinRouted(multiTurns.withColumn("bucket",
        pmod(xxhash64(col("conv_id")), lit(cfg.buckets))), multiDbs)
      routed.drop(if (inline) "extra_json" else "data_json")
        .write.partitionBy("sink", "bucket", "indicator_type")
        .parquet(s"$out/old/routed")
      graft.io.Sinks.ndjsonMatched(
        spark.read.parquet(s"$out/old/routed").where(col("sink") === "matched"),
        cfg.ndjsonSource, coalesce(col("ts").cast("double"), lit(0.0)),
        s"$out/old/ndjson", inlineExtra = inline)
      def lines(dir: String): Seq[String] =
        spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted
      val got = lines(s"$out/new/ndjson")
      assert(got.nonEmpty)
      assert(got.exists(_.contains(if (inline) "\"ttl\":3600" else "\"extra\":")))
      assert(got == lines(s"$out/old/ndjson"))
    }
  }
}
