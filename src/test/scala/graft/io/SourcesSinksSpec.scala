package graft.io

import graft.SparkTestBase
import graft.pipeline.ScanJob
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** Direct coverage for S11 (extract sink: json/csv/text, --unique) and S2
  * (gzip auto-decompression, delegated to Spark's codec handling — proven
  * here, not assumed).
  */
class SourcesSinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cands() = {
    val turns = Seq(
      ("c1", 0, "user", "ping 192.0.2.5 and 192.0.2.5 again", "", new java.sql.Timestamp(0L)),
      ("c1", 1, "user", "see evil.example.com now", "", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    ScanJob.candidates(turns)
  }

  test("S11 extract sink: text + --unique dedups values") {
    val out = Files.createTempDirectory("extract-sink").toString
    Sinks.extractDump(cands(), s"$out/uniq", "text", unique = true)
    val uniq = spark.read.text(s"$out/uniq").as[String].collect().sorted
    assert(uniq.toSeq == Seq("192.0.2.5", "evil.example.com"))
    Sinks.extractDump(cands(), s"$out/all", "text", unique = false)
    assert(spark.read.text(s"$out/all").count() == 3) // dup ip kept
  }

  test("S11 extract sink: json and csv shapes") {
    val out = Files.createTempDirectory("extract-sink2").toString
    Sinks.extractDump(cands(), s"$out/j", "json", unique = true)
    val lines = spark.read.text(s"$out/j").as[String].collect().sorted
    assert(lines.exists(_.contains("\"type\":\"ipv4\"")))
    assert(lines.exists(_.contains("\"value\":\"evil.example.com\"")))
    Sinks.extractDump(cands(), s"$out/c", "csv", unique = true)
    val csv = spark.read.option("header", "true").csv(s"$out/c")
    assert(csv.columns.toSeq == Seq("type", "value"))
    assert(csv.count() == 2)
  }

  test("S2 gzip auto-decompress: .json.gz turn files scan end-to-end") {
    val dir = Files.createTempDirectory("gz-in").toString
    val gz = new GZIPOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(dir, "turns.json.gz")))
    gz.write(
      ("""{"conv_id":"g1","turn_idx":0,"role":"user","text":"hit 192.0.2.9 here","tool":"","ts":"2024-01-01T00:00:00.000Z"}""" +
        "\n" +
        """{"conv_id":"g1","turn_idx":1,"role":"user","text":"clean","tool":"","ts":"2024-01-01T00:00:01.000Z"}""" +
        "\n").getBytes("UTF-8"))
    gz.close()
    val turns = spark.read
      .schema(ScanJob.turnSchema).json(dir)
    assert(turns.count() == 2)
    val db = graft.intel.IntelDb.build("t", Seq(
      graft.model.IntelEntry("192.0.2.0/24", "high", "c2", "f", 90)))
    val m = ScanJob.matched(turns, Seq(db), spark)
    assert(m.select("value").as[String].collect().toSeq == Seq("192.0.2.9"))
  }
}
