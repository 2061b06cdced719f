package graft.io

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.model.Turn
import graft.pipeline.ScanJob
import graft.sources.IntelIngest
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

/** Non-ASCII feed extras reach the NDJSON match stream as UTF-8 in both
  * shapes, whatever the JVM's default charset (US-ASCII under a POSIX
  * locale on Java 17).
  */
class NdjsonCharsetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ndjsonLines(inlineExtra: Boolean): Seq[String] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("ndjson-utf8")
    val feed = dir.resolve("feed.csv")
    Files.write(feed, ("entry,note,страна,ttl\n" +
      "192.0.2.0/24,é☃😀,ru,3600\n" +
      "evil.example.com,naïve\tq,日本,\n").getBytes(UTF_8))
    val db = IntelDb.build("threats", IntelIngest.toEntries(
      IntelIngest.readCsv(spark, feed.toString)))
    val turns = Seq(Turn("c1", 0, "user",
      "ping 192.0.2.55 then evil.example.com end", "",
      new Timestamp(1700000000000L)))
    val out = dir.resolve("scan").toString
    ScanJob.run(spark, spark.createDataFrame(turns), Seq(db), out,
      ScanJob.RunConfig(buckets = 2, ndjson = true,
        ndjsonSource = "transcripts.log", ndjsonInlineExtra = inlineExtra))
    spark.read.text(s"$out/ndjson").as[String].collect().toSeq.sorted
  }

  private val tail = """"source":"transcripts.log","timestamp":"1700000000.000"}"""
  private val fixed = """"category":"unknown","confidence":0"""
  private val rest = """"source":"unknown","threat_level":"unknown""""

  test("nested extras keep their UTF-8 values and member names") {
    val lines = ndjsonLines(inlineExtra = false)
    val ip = s"""{"cidr":"192.0.2.55/24","data":{$fixed,""" +
      """"extra":{"note":"é☃😀","ttl":3600,"страна":"ru"},""" +
      s"""$rest},"match_type":"ip","matched_text":"192.0.2.55",""" +
      s""""prefix_len":24,$tail"""
    val pattern = s"""{"data":[{$fixed,""" +
      """"extra":{"note":"naïve\tq","страна":"日本"},""" +
      s"""$rest}],"match_type":"pattern",""" +
      s""""matched_text":"evil.example.com","pattern_count":1,$tail"""
    assert(lines == Seq(ip, pattern).sorted,
      s"default charset ${Charset.defaultCharset}\n${lines.mkString("\n")}")
  }

  test("inline extras keep their UTF-8 values and member names") {
    val lines = ndjsonLines(inlineExtra = true)
    val ip = s"""{"cidr":"192.0.2.55/24","data":{$fixed,""" +
      s""""note":"é☃😀",$rest,"ttl":3600,"страна":"ru"},""" +
      """"match_type":"ip","matched_text":"192.0.2.55",""" +
      s""""prefix_len":24,$tail"""
    val pattern = s"""{"data":[{$fixed,""" +
      s""""note":"naïve\\tq",$rest,"страна":"日本"}],""" +
      """"match_type":"pattern","matched_text":"evil.example.com",""" +
      s""""pattern_count":1,$tail"""
    assert(lines == Seq(ip, pattern).sorted,
      s"default charset ${Charset.defaultCharset}\n${lines.mkString("\n")}")
  }
}
