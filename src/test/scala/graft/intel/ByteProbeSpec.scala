package graft.intel

import graft.extract.Ipv6Format
import graft.model.IntelEntry
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.util.Locale
import scala.util.Random

/** The byte-keyed probes against naive references over seeded random
  * feeds: the flat literal table against a `Map[String, Seq[Int]]` with
  * `Locale.ROOT` folding, the byte-walk glob prefilter against verifying
  * every pattern with `Glob.parse(..).matches`, and the LPM probe from the
  * parsed address against a linear longest-prefix scan over `Cidr`s. Each
  * probe runs through the String entry point and, where the text is valid
  * UTF-8, through a key set from bytes — the scan's path.
  */
class ByteProbeSpec extends AnyFunSuite {

  // letters whose lowercase changes UTF-8 length (İ -> i + U+0307, Kelvin
  // sign -> k), other non-ASCII, a surrogate pair and both lone halves
  private val pieces = Seq("a", "b", "A", "B", "k", "K", "i", ".", "-", "İ",
    "K", "ß", "é", "É", "😀", "\ud800", "\udc00")

  private def randomText(rnd: Random, maxPieces: Int): String =
    Seq.fill(rnd.nextInt(maxPieces + 1))(pieces(rnd.nextInt(pieces.size)))
      .mkString

  private def wellFormed(s: String): Boolean = !ProbeKey.hasUnpairedSurrogate(s)

  // failure clues in ASCII: a lone surrogate cannot be written to the
  // test report
  private def show(s: String): String = s.flatMap(c =>
    if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  private def bytesKey(s: String): ProbeKey = {
    // pad both ends so the key is a span inside a larger buffer
    val b = ("<" + s + ">").getBytes(StandardCharsets.UTF_8)
    new ProbeKey().set(b, 1, b.length - 1)
  }

  private def literalFeed(rnd: Random, n: Int): Seq[(String, Int)] = {
    val keys = Seq.fill(n)(rnd.nextInt(10) match {
      case 0 => "" // empty key
      case 1 => "x" * (129 + rnd.nextInt(40)) + randomText(rnd, 3) // > 128 bytes
      case _ => randomText(rnd, 6)
    })
    // repeat some keys so one key carries several entries
    (keys ++ keys.take(n / 5)).zipWithIndex
  }

  private def literalRef(feed: Seq[(String, Int)], ci: Boolean)
      : Map[String, Seq[Int]] = {
    def norm(s: String) = if (ci) s.toLowerCase(Locale.ROOT) else s
    feed.groupBy(e => norm(e._1)).map { case (k, es) => k -> es.map(_._2) }
  }

  for (ci <- Seq(false, true); mask <- Seq(-1L, 0x3L)) {
    val what = (if (ci) "case-insensitive" else "case-sensitive") +
      (if (mask == -1L) "" else ", forced fingerprint collisions")
    test(s"literal table == String map ($what)") {
      val rnd = new Random(if (ci) 11 else 7)
      for (_ <- 0 until 20) {
        val feed = literalFeed(rnd, 60)
        val idx = LiteralIndex.build(feed, ci, mask)
        val ref = literalRef(feed, ci)
        def expect(v: String) =
          ref.getOrElse(if (ci) v.toLowerCase(Locale.ROOT) else v, Nil)
        val probes = feed.map(_._1) ++ feed.map(_._1.toUpperCase(Locale.ROOT)) ++
          feed.map(_._1.toLowerCase(Locale.ROOT)) ++
          Seq("k", "K", "i̇", "K", "İ", "") ++
          Seq.fill(200)(randomText(rnd, 6))
        for (v <- probes) {
          assert(idx.lookup(v).toSeq == expect(v), show(v))
          if (wellFormed(v))
            assert(idx.lookup(bytesKey(v)).toSeq == expect(v), "bytes " + show(v))
        }
      }
    }
  }

  private val globPieces = Seq("a", "b", "A", ".", "é", "İ",
    "😀", "\udc00", "\ud800", "*", "?", "[ab]", "[!a]", "[A-_]",
    "\\*")

  private def globFeed(rnd: Random, n: Int): Seq[(String, Int)] =
    (Seq("*", "?", "??*", "[ab]*", "\udc00", "*\ud800", "a*b", "*a.b*") ++
      Seq.fill(n)(Seq.fill(1 + rnd.nextInt(4))(
        globPieces(rnd.nextInt(globPieces.size))).mkString))
      .filter(Glob.isValid).zipWithIndex

  for (ci <- Seq(false, true)) {
    test(s"glob byte walk == brute-force verify (ci = $ci)") {
      val rnd = new Random(if (ci) 23 else 19)
      for (_ <- 0 until 20) {
        val feed = globFeed(rnd, 40)
        val idx = GlobIndex.build(feed, ci)
        val parsed = feed.map { case (p, i) => (Glob.parse(p, ci).toOption.get, i) }
        val texts = Seq("", "a", "ab", "a.b", "𐀀", "\udc00",
          "x\ud800", "😀a") ++ Seq.fill(150)(randomText(rnd, 5))
        for (t <- texts) {
          val expect = parsed.filter(_._1.matches(t)).map(_._2).sorted
          assert(idx.findAll(t).toSeq == expect, show(t))
          if (wellFormed(t))
            assert(idx.findAll(bytesKey(t)).toSeq == expect, "bytes " + show(t))
        }
      }
    }
  }

  /** Linear longest-prefix scan; among equal (network, length) entries the
    * last one wins, as in the index's build.
    */
  private def lpmRef(cidrs: Seq[(Cidr, Int)], hi: Long, lo: Long): Long = {
    val hits = cidrs.filter { case (c, _) =>
      Cidr.mask(hi, lo, c.prefixLen) == Cidr.mask(c.hi, c.lo, c.prefixLen)
    }
    if (hits.isEmpty) -1L
    else {
      val best = hits.map(_._1.prefixLen).max
      LpmIndex.pack(hits.filter(_._1.prefixLen == best).last._2, best)
    }
  }

  private def v4(a: Long) =
    s"${(a >> 24) & 0xff}.${(a >> 16) & 0xff}.${(a >> 8) & 0xff}.${a & 0xff}"

  test("LPM from the parsed address == linear scan (IPv4, IPv6, v4-mapped)") {
    val rnd = new Random(5)
    for (_ <- 0 until 30) {
      val base = Seq.fill(6)(rnd.nextInt() & 0xffffffffL)
      val strs = Seq.fill(40)(rnd.nextInt(4) match {
        case 0 => s"${v4(base(rnd.nextInt(6)))}/${rnd.nextInt(33)}"
        case 1 => s"::ffff:${v4(base(rnd.nextInt(6)))}/${96 + rnd.nextInt(33)}"
        case 2 => s"2001:db8:${rnd.nextInt(4).toHexString}::/${rnd.nextInt(129)}"
        case _ => Seq("::/0", "::ffff:0:0/96", "::/96", "2001:db8::1")(rnd.nextInt(4))
      })
      val feed = strs.map(Cidr.parse).zipWithIndex
      assert(feed.forall(_._1 != null))
      val lpm = LpmIndex.build(feed)
      val db = IntelDb.build("t", strs.map(IntelEntry(_, "high", "c", "s", 1)))
      for (_ <- 0 until 100) {
        val a = if (rnd.nextBoolean()) base(rnd.nextInt(6)) ^ rnd.nextInt(256)
          else rnd.nextInt() & 0xffffffffL
        val ref4 = lpmRef(feed, 0L, Cidr.V4Mapped | a)
        val exp4 = if (ref4 < 0) ref4
          else LpmIndex.pack(LpmIndex.entryOf(ref4),
            math.max(0, LpmIndex.prefixOf(ref4) - 96))
        assert(lpm.lookupV4(a) == exp4, v4(a))
        assert(lpm.lookupV4(v4(a)) == LpmIndex.unpack(exp4), v4(a))
        assert(db.lookupIpv4(a) == exp4, v4(a))
        val g = Array.fill(8)(rnd.nextInt(0x10000))
        g(0) = 0x2001; g(1) = 0xdb8; g(2) = rnd.nextInt(4)
        val c = Cidr.fromGroups(g, 128, isV4 = false)
        val ref6 = lpmRef(feed, c.hi, c.lo)
        assert(lpm.lookupV6(g) == ref6)
        assert(lpm.lookupV6(Ipv6Format.format(g)) == LpmIndex.unpack(ref6))
        assert(db.lookupIpv6(g) == ref6)
        // a v4-mapped IPv6 probe
        val m = Cidr.parse(s"::ffff:${v4(a)}")
        assert(db.lookupIpv6(Ipv6Format.parse(s"::ffff:${v4(a)}")) ==
          lpmRef(feed, m.hi, m.lo))
      }
    }
  }

  test("LPM: aligned /8, /16, /24, /32 sets spread over the table") {
    val rnd = new Random(3)
    for (len <- Seq(8, 16, 24, 32)) {
      val n = if (len == 8) 200 else 2000
      val nets = Iterator.continually(
        (rnd.nextInt() & 0xffffffffL) & (0xffffffffL << (32 - len)) & 0xffffffffL)
        .distinct.take(n).toSeq
      val feed = nets.map(a => Cidr.parse(s"${v4(a)}/$len")).zipWithIndex
      val lpm = LpmIndex.build(feed)
      // at load ~0.5 a well-spread table's longest run stays near 40 (40
      // seeds: at most 40); a hash that ignores the zero host bits piles
      // a /16 or /24 set onto a few home slots, runs in the hundreds
      assert(lpm.longestRun <= 96, s"/$len: longest probe run ${lpm.longestRun}")
      for (_ <- 0 until 500) {
        val a = if (rnd.nextBoolean()) nets(rnd.nextInt(n)) | rnd.nextInt(1 << (32 - len)).toLong
          else rnd.nextInt() & 0xffffffffL
        val ref = lpmRef(feed, 0L, Cidr.V4Mapped | a)
        assert(lpm.lookupV4(a) ==
          (if (ref < 0) ref else LpmIndex.pack(LpmIndex.entryOf(ref), len)), v4(a))
      }
    }
  }

  test("IntelDb string path: bytes == String == literal ids then glob ids") {
    val rnd = new Random(29)
    for (ci <- Seq(false, true); _ <- 0 until 5) {
      val lits = literalFeed(rnd, 30).map(_._1)
      val globs = globFeed(rnd, 20).map(_._1)
      val db = IntelDb.build("t",
        (lits.map("literal:" + _) ++ globs.map("glob:" + _)).map(e =>
          IntelEntry(e, "high", "c", "s", 1)), caseInsensitive = ci)
      val litRef = literalRef(lits.zipWithIndex, ci)
      val parsed = globs.map(Glob.parse(_, ci).toOption.get).zipWithIndex
      for (t <- lits ++ Seq.fill(100)(randomText(rnd, 5)); _ <- 0 until 2) {
        val expect =
          litRef.getOrElse(if (ci) t.toLowerCase(Locale.ROOT) else t, Nil) ++
            parsed.filter(_._1.matches(t)).map(lits.size + _._2).sorted
        assert(db.lookupString(t).toSeq == expect, show(t))
        if (wellFormed(t))
          assert(db.lookupString(bytesKey(t)).toSeq == expect, "bytes " + show(t))
      }
    }
  }
}
