package graft.intel

import graft.model.IntelEntry
import org.scalatest.funsuite.AnyFunSuite

/** A8: lookup statistics — the reference's DatabaseStats hit/miss/match
  * counters (database.rs:54-125), here per-thread plain counters folded by
  * `IntelDb.stats`.
  */
class IntelDbStatsSpec extends AnyFunSuite {

  private def entry(e: String) = IntelEntry(e, "high", "c2", "test", 90)

  private def freshDb = IntelDb.build("t", Seq(
    entry("1.2.3.0/24"), entry("evil.com"), entry("*.bad.com")))

  test("a caller-held probe state counts and memoizes like the plain " +
    "lookups, and only its own database takes it") {
    val db = freshDb
    val st = db.probeState
    assert(db.lookupIpv4(st, Cidr.parseV4("1.2.3.4")) >= 0)
    assert(db.lookupIpv6(st, null) == -1L)
    assert(db.lookupString(st, new ProbeKey().set("evil.com")).nonEmpty)
    assert(db.stats == IntelDb.LookupStats(2, 0, 1, 1, 0, 1))
    // the plain entry points use the same per-thread state
    assert(db.lookupIp("1.2.3.4", isV6 = false) != null)
    assert(db.lookupString("evil.com").nonEmpty)
    assert(db.stats == IntelDb.LookupStats(3, 1, 2, 2, 1, 2))
    val other = freshDb
    intercept[IllegalArgumentException](other.lookupIpv4(st, 0L))
    intercept[IllegalArgumentException](
      other.lookupString(st, new ProbeKey().set("evil.com")))
    assert(other.stats == IntelDb.LookupStats(0, 0, 0, 0, 0, 0))
  }

  test("stats: counts lookups, memo hits, and matches per path") {
    val db = freshDb
    assert(db.stats == IntelDb.LookupStats(0, 0, 0, 0, 0, 0))

    // ip path: 1 match (then a memo-hit repeat), 1 not-found (repeated)
    assert(db.lookupIp("1.2.3.4", isV6 = false) != null)
    assert(db.lookupIp("1.2.3.4", isV6 = false) != null)
    assert(db.lookupIp("9.9.9.9", isV6 = false) == null)
    assert(db.lookupIp("9.9.9.9", isV6 = false) == null)

    // string path: literal match, glob match, not-found — each repeated
    assert(db.lookupString("evil.com").nonEmpty)
    assert(db.lookupString("evil.com").nonEmpty)
    assert(db.lookupString("x.bad.com").nonEmpty)
    assert(db.lookupString("nothing.example").isEmpty)
    assert(db.lookupString("nothing.example").isEmpty)

    val s = db.stats
    assert(s.ipLookups == 4)
    assert(s.ipMemoHits == 2) // second probe of each distinct value
    assert(s.ipMatches == 2)  // both probes of 1.2.3.4 count as matches
    assert(s.stringLookups == 5)
    assert(s.stringMemoHits == 2)
    assert(s.stringMatches == 3)
    assert(s.ipMemoHitRate == 0.5)
    assert(s.ipMatchRate == 0.5)
    assert(s.stringMemoHitRate == 0.4)
    assert(s.stringMatchRate == 0.6)
  }

  test("stats: memo-hit results still count toward match rate") {
    val db = freshDb
    (1 to 10).foreach(_ => db.lookupString("evil.com"))
    val s = db.stats
    assert(s.stringLookups == 10 && s.stringMemoHits == 9 &&
      s.stringMatches == 10)
  }

  test("stats: folds across threads") {
    val db = freshDb
    val threads = (0 until 4).map { _ =>
      new Thread(() => (1 to 100).foreach { i =>
        db.lookupIp(s"1.2.3.${i % 8}", isV6 = false)
        db.lookupString(if (i % 2 == 0) "evil.com" else s"miss-$i.example")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val s = db.stats
    assert(s.ipLookups == 400 && s.ipMatches == 400)
    assert(s.ipMemoHits == 4 * (100 - 8)) // 8 distinct values per thread
    assert(s.stringLookups == 400 && s.stringMatches == 200)
    // per thread: evil.com hits memo 49 of 50 times; the 50 distinct
    // misses never repeat
    assert(s.stringMemoHits == 4 * 49)
  }

  test("stats: rates are 0 (not NaN) on an unused db") {
    val s = freshDb.stats
    assert(s.ipMemoHitRate == 0.0 && s.stringMatchRate == 0.0)
  }
}
