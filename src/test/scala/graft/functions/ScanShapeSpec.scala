package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import graft.intel.IntelDb
import graft.model.IntelEntry
import graft.pipeline.Fixtures
import graft.props.ScanDifferentialSpec
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The three emitters over ScanTurn's one probe loop agree: for every
  * text, `scanFlat` is the flattening of `scan`'s candidate rows that have
  * hits, `scan` emits the clean marker iff `scanFlat` is empty, and
  * `IntelLookupMulti.lookup` of a candidate equals that candidate's hits.
  * Expression level, no Spark session.
  */
class ScanShapeSpec extends AnyFunSuite {
  import ScanShapeSpec._

  // one candidate whose value hits every glob below (more than the probe's
  // 16 scratch slots), so a turn holding it also has more than 16 flat rows
  private val WideValue = "sub.wide-hit.example.com"
  private val wideGlobs =
    (0 to WideValue.length - 4).map(i => s"*${WideValue.substring(i, i + 4)}*")
      .distinct

  private def nestedCidrs = Seq(
    IntelEntry("192.0.0.0/16", "low", "range", "nest", 20),
    IntelEntry("192.0.2.0/25", "medium", "range", "nest", 40),
    IntelEntry("192.0.2.1/32", "high", "host", "nest", 60),
    IntelEntry("2001:db8::/32", "low", "range", "nest", 20),
    IntelEntry("2001:db8:bad::/64", "high", "range", "nest", 60))

  // case-insensitive feed: upper-case globs and literals match lower-case
  // text; the globs overlap each other and the fixture feed's
  private def ciFeed = (wideGlobs ++ Seq("*.EVIL-GLOB.NET", "*GLOB*",
    "MAL?.EXAMPLE.COM", "EVIL-DOMAIN.COM", "*.COM")).map(g =>
    IntelEntry(g.toUpperCase, "medium", "ci", "ci-feed", 50))

  private val dbs: Array[IntelDb] = Array(
    IntelDb.build("threats", Fixtures.intelThreats),
    IntelDb.build("allowlist", Fixtures.intelAllowlist),
    IntelDb.build("nested", nestedCidrs),
    IntelDb.build("ci", ciFeed, caseInsensitive = true))

  private val scanner = new IocScanner(ScanConfig())

  private def hitsOf(a: ArrayData): Seq[Hit] =
    (0 until a.numElements()).map { k =>
      val h = a.getStruct(k, 4)
      (h.getInt(0), h.getInt(1), h.getInt(2), h.getUTF8String(3).toString)
    }

  /** `scan`'s rows as (candidates, has clean marker). */
  private def nested(text: UTF8String): (Seq[Cand], Boolean) = {
    val a = ScanTurn.scan(scanner, dbs, text)
    val rows = (0 until a.numElements()).map(a.getStruct(_, 7))
    val (cand, clean) = rows.partition(_.getUTF8String(0).toString == "cand")
    assert(clean.forall(_.getUTF8String(0).toString == "clean"))
    assert(clean.size <= 1)
    (cand.map(r => Cand(r.getUTF8String(1).toString,
      r.getUTF8String(2).toString, r.getUTF8String(3).toString, r.getInt(4),
      r.getInt(5), hitsOf(r.getArray(6)))), clean.nonEmpty)
  }

  private def flat(text: UTF8String): Seq[Flat] = {
    val a = ScanTurn.scanFlat(scanner, dbs, text)
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 9)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getUTF8String(2).toString, r.getInt(3), r.getInt(4), r.getInt(5),
        r.getInt(6), r.getInt(7), r.getUTF8String(8).toString)
    }
  }

  /** Checks one text; returns (most hits of a candidate, flat rows). */
  private def check(text: String): (Int, Int) = {
    val u8 = UTF8String.fromString(text)
    val (cands, clean) = nested(u8)
    val rows = flat(u8)
    val expected = for {
      c <- cands
      (d, e, p, t) <- c.hits
    } yield (c.itype, c.value, c.matched, c.start, c.end, d, e, p, t)
    assert(rows == expected, s"flat != flattened nested for: $text")
    assert(clean == rows.isEmpty, s"clean marker vs flat rows for: $text")
    cands.foreach { c =>
      val looked = hitsOf(IntelLookupMulti.lookup(dbs,
        UTF8String.fromString(c.value), UTF8String.fromString(c.itype)))
      assert(looked == c.hits, s"lookup of ${c.value} (${c.itype})")
    }
    ((0 +: cands.map(_.hits.size)).max, rows.size)
  }

  private def checkAll(texts: Seq[String]): (Int, Int, Int) = {
    val stats = texts.map(check)
    (stats.map(_._1).max, stats.map(_._2).max, stats.count(_._2 > 0))
  }

  test("fixture turns: flat == flattened nested, clean iff no flat rows, " +
    "lookup == hits") {
    val (maxHits, maxRows, matchedTurns) =
      checkAll(Fixtures.turns(2000).map(_.text))
    assert(matchedTurns > 100, s"only $matchedTurns fixture turns matched")
    assert(maxRows > 0 && maxHits > 1)
  }

  test("hostile turns: flat == flattened nested, clean iff no flat rows, " +
    "lookup == hits") {
    val (_, _, matchedTurns) =
      checkAll(ScanDifferentialSpec.hostileCorpus()._1.map(_.text))
    assert(matchedTurns > 100, s"only $matchedTurns hostile turns matched")
  }

  test("both scratch buffers grow: a candidate with more than 16 hits, " +
    "a turn with more than 16 flat rows") {
    val manyIps = (1 to 20).map(i => s"192.0.2.$i").mkString(" ")
    val texts = Seq(s"see $WideValue now", s"SEE ${WideValue.toUpperCase}",
      manyIps, s"$manyIps and $WideValue", "")
    // twice: the second pass runs on the grown buffers
    val (maxHits, maxRows, _) = checkAll(texts ++ texts)
    assert(maxHits > 16, s"widest candidate had only $maxHits hits")
    assert(maxRows > 16 + maxHits, s"largest turn had only $maxRows rows")
  }
}

object ScanShapeSpec {
  private type Hit = (Int, Int, Int, String)
  private type Flat = (String, String, String, Int, Int, Int, Int, Int, String)
  private final case class Cand(itype: String, value: String, matched: String,
      start: Int, end: Int, hits: Seq[Hit])
}
