package graft.props

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.model.{IntelEntry, Turn}
import graft.oracle.Oracle
import graft.pipeline.ScanJob
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.util.Random

/** Randomized DISTRIBUTED-vs-SINGLE-THREADED differential over the full
  * extract + enrich expression path.
  *
  * Semantics are owned by the DuckDB oracle gate (independent SQL
  * reimplementation, fixed corpus); what no other test covers is the
  * distributed plumbing under adversarial load: the codegen'd generator,
  * per-thread scanner scratch, direct-mapped intern caches
  * (overwrite-on-collision!), per-thread lookup memos and broadcast
  * handles, all hit from parallel tasks with a value stream engineered to
  * collide. A cross-thread scratch bug or cache poisoning returns WRONG
  * VALUES only under exactly these conditions — so this spec generates a
  * seeded hostile corpus (valid IoCs of every family, near-miss mutations,
  * unicode junk, thousands of distinct hash-like tokens to thrash the
  * 2048-slot caches), runs it through `ScanJob.candidates`/`matched` at 32
  * partitions on the shared local[4] session, and asserts exact multiset
  * equality with the single-threaded scanner — TWICE, because a poisoned
  * cache from pass one would only surface on pass two.
  *
  * Ground truth is NOT needed: whatever the scanner says, both paths must
  * say identically.
  */
class ScanDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("random hostile corpus: distributed candidates+matched == " +
    "single-threaded scanner, exactly, twice (32 partitions, colliding values)") {
    val (turnsSeq, dbs) = ScanDifferentialSpec.hostileCorpus()
    val turnsDf = spark.createDataFrame(turnsSeq).repartition(32)

    val oracleCands = Oracle.candidates(turnsSeq)
    assert(oracleCands.size > 10000, // the corpus must be DENSE to stress
      s"hostile corpus too sparse: ${oracleCands.size} candidates")
    val oracleMatched = Oracle.matched(turnsSeq, dbs)
    assert(oracleMatched.size > 200,
      s"hostile corpus produced too few matches: ${oracleMatched.size}")
    val oCandMs = oracleCands.groupBy(identity).view.mapValues(_.size).toMap
    val oMatchMs = oracleMatched.groupBy(identity).view.mapValues(_.size).toMap

    // two passes: pass 1 populates every per-thread cache with colliding
    // values; pass 2 would surface any poisoned slot
    for (pass <- 1 to 2) {
      val cands = ScanJob.candidates(turnsDf)
        .as[graft.model.Candidate].collect().toSeq
      assert(cands.groupBy(identity).view.mapValues(_.size).toMap == oCandMs,
        s"candidate multiset diverged on pass $pass")
      val matched = ScanJob.matched(turnsDf, dbs, spark)
        .withColumnRenamed("entry_idx", "pattern_id")
        .select("conv_id", "turn_idx", "role", "indicator_type", "value",
          "matched_text", "span_start", "span_end", "database_id",
          "match_type", "prefix_len", "pattern_id", "threat_level",
          "category", "source", "confidence")
        .as[graft.model.Matched].collect().toSeq
      assert(matched.groupBy(identity).view.mapValues(_.size).toMap == oMatchMs,
        s"matched multiset diverged on pass $pass")
    }
  }
}

object ScanDifferentialSpec {
  /** The seeded hostile corpus: 3,000 turns and three databases, the
    * fixture feeds plus one drawn from the same random stream.
    */
  def hostileCorpus(): (Seq[Turn], Seq[IntelDb]) = {
    val r = new Random(0x5eed4007L)
    val turnsSeq = mkTurns(r, 3000)
    (turnsSeq, Seq(
      IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist),
      mkRandomDb(r)))
  }

  private val hexDigits = "0123456789abcdef"

  private def hex(r: Random, n: Int): String =
    (0 until n).map(_ => hexDigits(r.nextInt(16))).mkString

  private def label(r: Random): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 3 + r.nextInt(8)).map(_ => letters(r.nextInt(26))).mkString
  }

  /** One adversarial token; families weighted to keep the candidate stream
    * dense and the intern caches colliding.
    */
  private def token(r: Random): String = r.nextInt(24) match {
    case 0 => s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
    case 1 => // ipv4 near-misses: leading zero, oversized octet, 3 octets
      r.nextInt(3) match {
        case 0 => s"${r.nextInt(256)}.0${1 + r.nextInt(9)}.${r.nextInt(256)}.${r.nextInt(256)}"
        case 1 => s"${256 + r.nextInt(700)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        case _ => s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      }
    case 2 => s"2001:db8:${hex(r, 4)}::${hex(r, 4)}"
    case 3 => s"fe80::${hex(r, 4)}" // loopback/link-local textual prefilter
    case 4 => s"2001:db8:${hex(r, 4)}:::${hex(r, 4)}" // malformed :::
    case 5 => s"${label(r)}.${Seq("com", "org", "net", "io", "co.uk")(r.nextInt(5))}"
    case 6 => s"${label(r)}.zzznotatld" // not on the PSL
    case 7 => s"${label(r)}@${label(r)}.${Seq("com", "org")(r.nextInt(2))}"
    case 8 => hex(r, 32) // md5-shaped; thousands of DISTINCT ones = cache thrash
    case 9 => hex(r, 40)
    case 10 => hex(r, 64)
    case 11 => hex(r, 128)
    case 12 => hex(r, 31 + r.nextInt(3)) // off-by-one hash lengths
    case 13 => // known-valid wallet addresses from the fixture corpus
      Seq(graft.queries.QueryDefs.btcGenesis, graft.queries.QueryDefs.btcP2sh,
        graft.queries.QueryDefs.btcBech32, graft.queries.QueryDefs.ethLower,
        graft.queries.QueryDefs.ethMixed, graft.queries.QueryDefs.xmrA,
        graft.queries.QueryDefs.xmrB)(r.nextInt(7))
    case 14 => // mutated wallet (checksum/EIP-55 near-miss)
      val base = Seq(graft.queries.QueryDefs.btcGenesis,
        graft.queries.QueryDefs.ethMixed)(r.nextInt(2))
      val i = 4 + r.nextInt(base.length - 4)
      base.updated(i, if (base(i).isUpper) base(i).toLower else base(i).toUpper)
    case 15 => s"0x${hex(r, 2 * r.nextInt(24))}" // 0x junk of random width
    case 16 => "." * (1 + r.nextInt(6)) + "@" * r.nextInt(3) + "::" * r.nextInt(3)
    case 17 => Seq("été", "漢字テスト",
      "😀🔥", "àb́c")(r.nextInt(4))
    case 18 => hex(r, 200 + r.nextInt(120)) // very long token
    case 19 => s"${label(r)}.evil-glob.net" // hits *.evil-glob.net
    case 20 => s"mal${r.nextInt(10)}.example.com" // hits mal[0-9].example.com
    case 21 => s"${label(r)}c2${label(r)}.org" // hits *c2* (substring)
    case 22 => s"error-${label(r)}.com" // hits error-*
    case _ => label(r)
  }

  private def mkTurns(r: Random, n: Int): Seq[Turn] = (0 until n).map { i =>
    val seps = Seq(" ", "  ", ", ", "; ", "\n", " | ", "\t", ">")
    val text =
      if (r.nextInt(50) == 0) "" // empty turns must route clean, not vanish
      else (0 until 4 + r.nextInt(14)).map(_ => token(r))
        .mkString(seps(r.nextInt(seps.length)))
    Turn(s"conv-${i % 97}", i, Seq("user", "assistant", "tool")(i % 3), text,
      if (i % 5 == 0) "browser" else "", new Timestamp(1700000000000L + i))
  }

  /** A db of entries derived from the SAME random stream, so lookups hit
    * random values (not just the curated fixture indicators).
    */
  private def mkRandomDb(r: Random): IntelDb = {
    val entries = (0 until 30).map { _ =>
      val ip = s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      if (r.nextBoolean()) IntelEntry(ip, "high", "rand", "rnd", 50)
      else IntelEntry(ip.take(ip.lastIndexOf('.')) + ".0/24", "low", "rand", "rnd", 40)
    } ++ (0 until 10).map(_ =>
      IntelEntry(s"${label(r)}.com", "medium", "rand", "rnd", 60)) ++
      (0 until 10).map(_ => IntelEntry(hex(r, 32), "high", "rand", "rnd", 70))
    IntelDb.build("rand", entries)
  }
}
