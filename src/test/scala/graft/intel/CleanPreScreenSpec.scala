package graft.intel

import graft.model.IntelEntry
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level clean-turn pre-screen (north-rule trie/bloom fast path):
  * soundness vectors per entry class, case modes, and the fold-widening
  * rule for mixed CI/CS database sets.
  */
class CleanPreScreenSpec extends AnyFunSuite {

  private def entry(e: String) = IntelEntry(e, "high", "c2", "test", 90)
  private def db(entries: String*) = IntelDb.build("t", entries.map(entry))
  private def dbCi(entries: String*) =
    IntelDb.build("t", entries.map(entry), caseInsensitive = true)
  private def hits(s: CleanPreScreen, text: String): Boolean =
    s.mightMatch(text.getBytes("UTF-8"))

  test("literal: substring pass, miss reject") {
    val s = CleanPreScreen.build(Seq(db("evil.com", "deadbeef")))
    assert(hits(s, "see evil.com now"))
    assert(hits(s, "prefix-evil.com.suffix")) // substring superset: pass ok
    assert(hits(s, "xxdeadbeefxx"))
    assert(!hits(s, "a clean turn with words only"))
    assert(!hits(s, "evil.org deadbee"))
  }

  test("glob cores: longest literal segment, AC multi-pattern") {
    val s = CleanPreScreen.build(Seq(db("*.evil-glob.net", "mal[0-9].example.com")))
    assert(hits(s, "host.evil-glob.net seen"))
    assert(hits(s, "ping mal7.example.com")) // core ".example.com"
    assert(!hits(s, "totally unrelated text"))
    // a core with an unpaired surrogate matches inside a pair at the char
    // level (here the high half of U+1F600) but never as bytes: it must
    // take the any-token fallback
    val sur = Seq(db("glob:*evil\uD83D*"))
    val turn = graft.model.Turn("c", 0, "user", "see evil\uD83D\uDE00.com now", "",
      new java.sql.Timestamp(0L))
    assert(graft.oracle.Oracle.matched(Seq(turn), sur).size == 1)
    assert(hits(CleanPreScreen.build(sur), turn.text))
  }

  test("pure-wildcard glob: any-token fallback") {
    val s = CleanPreScreen.build(Seq(db("glob:*")))
    assert(hits(s, "anything"))
    assert(!hits(s, "   ")) // no token at all
  }

  test("ip anchors: digit.digit and ::") {
    val s = CleanPreScreen.build(Seq(db("192.0.2.0/24", "2001:db8::/32")))
    assert(hits(s, "from 10.1.2.3 port"))       // any v4-looking text passes
    assert(hits(s, "v6 2001:db8::1 here"))
    assert(hits(s, "weird ::1 loopback"))
    assert(!hits(s, "dotted.words.only v4-less"))
    assert(!hits(s, "single:colon only"))
  }

  test("anchors derive from the unified match space, not notation family") {
    // a v4-notation CIDR is stored at ::ffff:x (v4-mapped) and is therefore
    // reachable from ::-form IPv6 TEXT — the v6 anchor must stay ON
    // (round-5 review find: the per-family derivation dropped such turns)
    val v4 = CleanPreScreen.build(Seq(db("192.0.2.0/24")))
    assert(hits(v4, "hex form ::ffff:c000:205 here")) // inside the /24
    assert(hits(v4, "v6 ::1 text")) // anchor is coarse: any :: passes
    // a v6-notation CIDR that cannot intersect ::ffff:0:0/96 can never
    // match IPv4 text — the v4 anchor stays OFF (precision retained)
    val v6 = CleanPreScreen.build(Seq(db("2001:db8::/32")))
    assert(!hits(v6, "v4 1.2.3.4 text"))
    assert(hits(v6, "v6 2001:db8::1 here"))
  }

  test("v6-notation CIDR covering v4-mapped space enables the v4 anchor") {
    // ::/0 contains every v4-mapped address: LpmIndex would match any
    // extracted IPv4, so the screen must pass digit-dot-digit turns
    val any = CleanPreScreen.build(Seq(db("::/0")))
    assert(hits(any, "v4 1.2.3.4 text"))
    assert(hits(any, "v6 ::1 text"))
    // a narrow v6-notation block INSIDE the v4-mapped /96 likewise
    val narrow = CleanPreScreen.build(Seq(db("::ffff:102:304/120")))
    assert(hits(narrow, "from 1.2.3.4 port"))
    assert(!hits(narrow, "dotted.words.only v4-less"))
    // host bits below the prefix must not defeat the intersection test:
    // ::ffff:0:1/96 IS the whole v4-mapped block (Cidr.parse keeps host
    // bits unmasked — round-5 review find on the first fix)
    val hostBits = CleanPreScreen.build(Seq(db("::ffff:0:1/96")))
    assert(hits(hostBits, "v4 9.8.7.6 text"))
    assert(Cidr.intersectsV4Mapped(Cidr.parse("::ffff:1.2.3.4/90")))
    assert(Cidr.intersectsV4Mapped(Cidr.parse("1.2.3.4/0")))
    assert(!Cidr.intersectsV4Mapped(Cidr.parse("2001:db8::99/32")))
  }

  test("case-insensitive db: ascii fold both sides") {
    val s = CleanPreScreen.build(Seq(dbCi("EVIL.com", "*.Bad-Glob.NET")))
    assert(hits(s, "saw evil.COM today"))
    assert(hits(s, "x.bad-glob.net"))
    assert(hits(s, "X.BAD-GLOB.NET"))
    assert(!hits(s, "clean words"))
  }

  test("mixed CI + CS dbs: CS words widened to folded (sound superset)") {
    val s = CleanPreScreen.build(Seq(db("Exact.Case.com"), dbCi("other.com")))
    // the CS literal still passes in its exact case...
    assert(hits(s, "hit Exact.Case.com here"))
    // ...and (widened) in folded case too — never a false reject
    assert(hits(s, "hit exact.case.com here"))
    assert(hits(s, "OTHER.COM"))
  }

  test("CI literal with non-ASCII lowercase degrades to any-token fallback") {
    val s = CleanPreScreen.build(Seq(dbCi("Über.com")))
    // cannot byte-fold U-umlaut: must not reject any turn with a token
    assert(hits(s, "some random token"))
  }

  test("CI text with non-ASCII bytes passes (toLowerCase can fold INTO ascii)") {
    // U+212A KELVIN SIGN lowercases to ascii 'k': the literal index would
    // match 'Kelvin.com'.toLowerCase == 'kelvin.com', so the byte
    // screen must never reject a CI turn containing non-ASCII bytes
    val s = CleanPreScreen.build(Seq(dbCi("kelvin.com")))
    assert(hits(s, "see Kelvin.com today"))
    // ...including mid-word occurrences while the automaton is in-state
    assert(hits(s, "xkelviKxkelvin.comx".replace("kelvin.comx", "zzz") + " K"))
    // case-SENSITIVE dbs keep exact-byte semantics: non-ASCII text alone
    // does not force a pass
    val cs = CleanPreScreen.build(Seq(db("kelvin.com")))
    assert(!hits(cs, "nothing hére"))
  }

  test("fixture soundness + selectivity at 5k turns") {
    val dbs = Seq(
      IntelDb.build("threats", graft.pipeline.Fixtures.intelThreats),
      IntelDb.build("allowlist", graft.pipeline.Fixtures.intelAllowlist))
    val s = CleanPreScreen.build(dbs)
    val turns = graft.pipeline.Fixtures.turns(5000)
    val matched = graft.oracle.Oracle.matched(turns, dbs)
      .map(m => (m.conv_id, m.turn_idx)).toSet
    // the soundness loop below is vacuous if the oracle finds nothing
    // (round-5 test-review find)
    assert(matched.nonEmpty, "oracle found no matches in the fixture")
    var rejected = 0
    turns.foreach { t =>
      val p = hits(s, t.text)
      if (matched((t.conv_id, t.turn_idx)))
        assert(p, s"prescreen dropped a matching turn: ${t.text}")
      if (!p) rejected += 1
    }
    // the screen must actually reject a useful share of the fixture
    assert(rejected > 500, s"prescreen rejected only $rejected of 5000")
  }
}
