package perfbench

import scala.collection.mutable

import graft.extract.{IocScanner, ScanConfig}
import graft.functions.ScanTurn
import graft.intel.IntelDb
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String

/** Output checks. Each runs outside the timed section and compares what the
  * program wrote with an independent computation; every check has a
  * self-test that drops or duplicates one row and expects a failure.
  */
object Checks {

  type GoldKey = (String, String, String) // database_id, indicator_type, role

  /** The scan config `ScanJob` derives from the databases it is given. */
  def scanConfig(dbs: Seq[IntelDb]): ScanConfig =
    ScanConfig.forCapabilities(dbs.exists(_.hasIpSection),
      dbs.exists(_.hasStringSection))

  final case class Reference(gold: Map[GoldKey, Long], matchedTurns: Long)

  /** Single-thread pass of the production generator body over (role, text)
    * rows: per-(database_id, indicator_type, role) match counts and the
    * number of turns with at least one match.
    */
  def reference(rows: Seq[(String, String)], dbs: Seq[IntelDb]): Reference = {
    val scanner = new IocScanner(scanConfig(dbs))
    val arr = dbs.toArray
    val gold = mutable.HashMap[GoldKey, Long]().withDefaultValue(0L)
    var matched = 0L
    rows.foreach { case (role, text) =>
      val out = ScanTurn.scan(scanner, arr,
        UTF8String.fromString(if (text == null) "" else text))
      var anyHit = false
      var i = 0
      while (i < out.numElements()) {
        val r = out.getStruct(i, 7)
        if (r.getUTF8String(0).toString == "cand") {
          val itype = r.getUTF8String(1).toString
          val hits = r.getArray(6)
          var h = 0
          while (h < hits.numElements()) {
            val db = hits.getStruct(h, 4).getInt(0)
            gold((arr(db).databaseId, itype, role)) += 1
            anyHit = true
            h += 1
          }
        }
        i += 1
      }
      if (anyHit) matched += 1
    }
    Reference(gold.toMap, matched)
  }

  def goldOf(df: DataFrame): Map[GoldKey, Long] =
    df.collect().map(r => (r.getAs[String]("database_id"),
      r.getAs[String]("indicator_type"), r.getAs[String]("role")) ->
      r.getAs[Long]("match_count")).toMap

  def countsEqual[K](expected: Map[K, Long], actual: Map[K, Long]): Boolean =
    expected.filter(_._2 != 0) == actual.filter(_._2 != 0)

  /** The count map with one row dropped and with one row duplicated. */
  def mutations[K](m: Map[K, Long]): Seq[Map[K, Long]] =
    if (m.isEmpty) Nil
    else {
      val (k, v) = m.maxBy(_._2)(Ordering.Long)
      Seq(m.updated(k, v - 1), m.updated(k, v + 1))
    }

  /** True when every mutation of `actual` fails the comparison. */
  def selfTest[K](expected: Map[K, Long], actual: Map[K, Long]): Boolean =
    mutations(actual).nonEmpty &&
      mutations(actual).forall(m => !countsEqual(expected, m))

  // ---------------------------------------------------- query digests
  /** Order-independent digest of a result: the row count and the wrapping
    * sum of 64-bit hashes of each row's canonical rendering, with doubles
    * rounded to 9 significant digits. A dropped or duplicated row changes
    * both.
    */
  final case class Digest(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  def digest(rows: Iterator[Row]): Digest = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += rowHash(r) }
    Digest(n, s)
  }

  def rowHash(r: Row): Long = {
    val c = render(r)
    val a = scala.util.hashing.MurmurHash3.stringHash(c, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(c, 0x0dd5)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  private def roundDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case x => x.toString
  }
}
