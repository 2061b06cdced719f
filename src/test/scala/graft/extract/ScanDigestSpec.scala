package graft.extract

import graft.queries.QueryDefs
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** Seeded scanner corpora shared by [[ScanDigestSpec]] and the scanner
  * bench. Each corpus is a fixed, reproducible list of texts.
  */
object ScanCorpora {
  /** The pipeline fixture texts (`Fixtures.text(0 until n)`). */
  def fixtures(n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => graft.pipeline.Fixtures.text(i.toLong).getBytes(UTF_8))

  private val hexDigits = "0123456789abcdef"
  private def hex(r: Random, n: Int): String =
    (0 until n).map(_ => hexDigits(r.nextInt(16))).mkString
  private def label(r: Random): String =
    (0 until 3 + r.nextInt(8)).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  /** One token of the hostile corpus of ScanDifferentialSpec (valid IoCs of
    * every family, near misses, unicode junk, long and off-by-one tokens).
    */
  private def hostileToken(r: Random): String = r.nextInt(24) match {
    case 0 => s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
    case 1 => r.nextInt(3) match {
      case 0 => s"${r.nextInt(256)}.0${1 + r.nextInt(9)}.${r.nextInt(256)}.${r.nextInt(256)}"
      case 1 => s"${256 + r.nextInt(700)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      case _ => s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
    }
    case 2 => s"2001:db8:${hex(r, 4)}::${hex(r, 4)}"
    case 3 => s"fe80::${hex(r, 4)}"
    case 4 => s"2001:db8:${hex(r, 4)}:::${hex(r, 4)}"
    case 5 => s"${label(r)}.${Seq("com", "org", "net", "io", "co.uk")(r.nextInt(5))}"
    case 6 => s"${label(r)}.zzznotatld"
    case 7 => s"${label(r)}@${label(r)}.${Seq("com", "org")(r.nextInt(2))}"
    case 8 => hex(r, 32)
    case 9 => hex(r, 40)
    case 10 => hex(r, 64)
    case 11 => hex(r, 128)
    case 12 => hex(r, 31 + r.nextInt(3))
    case 13 => Seq(QueryDefs.btcGenesis, QueryDefs.btcP2sh, QueryDefs.btcBech32,
      QueryDefs.ethLower, QueryDefs.ethMixed, QueryDefs.xmrA,
      QueryDefs.xmrB)(r.nextInt(7))
    case 14 =>
      val base = Seq(QueryDefs.btcGenesis, QueryDefs.ethMixed)(r.nextInt(2))
      val i = 4 + r.nextInt(base.length - 4)
      base.updated(i, if (base(i).isUpper) base(i).toLower else base(i).toUpper)
    case 15 => s"0x${hex(r, 2 * r.nextInt(24))}"
    case 16 => "." * (1 + r.nextInt(6)) + "@" * r.nextInt(3) + "::" * r.nextInt(3)
    case 17 => Seq("été", "漢字テスト", "😀🔥", "àb́c")(r.nextInt(4))
    case 18 => hex(r, 200 + r.nextInt(120))
    case 19 => s"${label(r)}.evil-glob.net"
    case 20 => s"mal${r.nextInt(10)}.example.com"
    case 21 => s"${label(r)}c2${label(r)}.org"
    case 22 => s"error-${label(r)}.com"
    case _ => label(r)
  }

  /** `n` hostile texts of 4-17 tokens joined by a seeded separator. */
  def hostile(seed: Long, n: Int): Seq[Array[Byte]] = {
    val r = new Random(seed)
    val seps = Seq(" ", "  ", ", ", "; ", "\n", " | ", "\t", ">")
    (0 until n).map { _ =>
      val text =
        if (r.nextInt(50) == 0) ""
        else (0 until 4 + r.nextInt(14)).map(_ => hostileToken(r))
          .mkString(seps(r.nextInt(seps.length)))
      text.getBytes(UTF_8)
    }
  }

  /** Boundary, anchor, hex/digit and UTF-8 lead/continuation bytes. */
  private val alphabet: Array[Byte] =
    (" \t\n\r/,;:()[]{}<>\"'@=" + ".@:0x" + "0123456789abcdefABCDEF" +
      "...::09gzGZ-_+13").getBytes(UTF_8) ++
      Array(0xc3, 0xe2, 0xf0, 0xc0, 0xf5, 0x80, 0xa9, 0xbf, 0x9f).map(_.toByte)

  /** `n` texts of random bytes from [[alphabet]]; one in eight is 2-6 KB
    * long so runs cross the scanner's chunk edges.
    */
  def randomBytes(seed: Long, n: Int): Seq[Array[Byte]] = {
    val r = new Random(seed)
    (0 until n).map { _ =>
      val len = if (r.nextInt(8) == 0) 2000 + r.nextInt(4000) else r.nextInt(300)
      Array.fill(len)(alphabet(r.nextInt(alphabet.length)))
    }
  }

  /** SHA-256 over every span `(kind, start, end, addr, canon)` of every
    * text, with a text separator, under `scanner`.
    */
  def digest(scanner: IocScanner, texts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val scr = new IocScanner.ScanScratch
    val buf = java.nio.ByteBuffer.allocate(16)
    texts.foreach { t =>
      val sp = scanner.scanSpans(t, t.length, scr)
      var i = 0
      while (i < sp.n) {
        buf.clear()
        buf.putInt(sp.kind(i)).putInt(sp.start(i)).putInt(sp.end(i))
          .putInt(if (sp.kind(i) == IocScanner.Kind.Ipv4) sp.addr(i) else 0)
        md.update(buf.array())
        if (sp.canon(i) != null) md.update(sp.canon(i).getBytes(UTF_8))
        md.update(0.toByte)
        i += 1
      }
      md.update(0xff.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The scanner's spans, byte for byte, against digests recorded before its
  * hot paths were rewritten (two-pass anchor collection, the TLD gate and
  * the table-driven character checks), plus edge cases at the places those
  * rewrites cut: token-length floors, text ends and chunk edges.
  */
class ScanDigestSpec extends AnyFunSuite {
  import ScanCorpora._

  private val scanners = Seq(
    "default" -> IocScanner.default,
    "no-boundaries" -> new IocScanner(ScanConfig(requireWordBoundaries = false)))

  private lazy val corpora = Seq(
    "fixtures" -> fixtures(20000),
    "hostile" -> hostile(0x5eed4007L, 3000),
    "random-bytes" -> randomBytes(0x0b17e5L, 6000))

  // recorded with the scanner before the rewrite (commit f77f303)
  private val recorded = Map(
    ("fixtures", "default") ->
      "aab7c9f728e50f4d805887c5ff706370fcd234dc7fbab778d8f648eb5b14bfaf",
    ("fixtures", "no-boundaries") ->
      "f053b139a8ba86c7218a695c469d352f724f2f0db803a127d3cd738d70072ffd",
    ("hostile", "default") ->
      "53c0a840e24d749e2729cfaa5e654cf55eb9c246ab8328a7acc28653c9e76a1e",
    ("hostile", "no-boundaries") ->
      "3fe836a9c33a274cbe8ab14103c60a5e00320001fb076cf0d6995d09a0da457a",
    ("random-bytes", "default") ->
      "b38bf45aaea2cb04572a5db39492a0d92dd48f1d8ac0fc4672c1c13f3bd192d8",
    ("random-bytes", "no-boundaries") ->
      "2ffe23d7b77bd5a8eefc93679b27e035332b0dcb3eb23cc174e3131187b045fc",
    ("edges", "default") ->
      "8d24f49aad31e7569639c0e6be724777339811e6b3cb718deda3b41d824e5727",
    ("edges", "no-boundaries") ->
      "da01be58289ca4fcca8cbd955987bf2e89c0f6724ba48aa2d6145c280a255c90")

  for (corpus <- Seq("fixtures", "hostile", "random-bytes"); (name, sc) <- scanners)
    test(s"span digest: $corpus corpus, $name scanner") {
      assert(digest(sc, corpora.toMap.apply(corpus)) == recorded((corpus, name)))
    }

  // ------------------------------------------------------------ edge cases

  private def spans(sc: IocScanner, s: String): Seq[(String, String)] =
    sc.scanText(s).map(i => (i.indicator_type, i.matched_text)).toSeq

  /** A Base58Check string (sha256d checksum) of exactly `len` chars that
    * starts with `1`, found by a seeded search over payload bytes.
    */
  private def base58Check(len: Int, seed: Long): String = {
    val r = new Random(seed)
    Iterator.continually {
      val body = new Array[Byte](math.max(1, (len - 1) * 3 / 4 - 4 + r.nextInt(3)))
      r.nextBytes(body)
      body(0) = 0 // leading zero byte: the address starts with '1'
      val payload = body ++ Checksums.sha256d(body).take(4)
      Checksums.base58Encode(payload)
    }.find(s => s.length == len && s.charAt(1) != '1').get
  }

  test("edge: 25/26/27-byte base58 tokens at the start and the end") {
    for (len <- Seq(25, 26, 27); seed <- 1L to 3L) {
      val addr = base58Check(len, seed * 100 + len)
      assert(Checksums.validBase58Check(addr))
      val want =
        if (len >= 26) Seq(graft.model.IndicatorType.Bitcoin -> addr) else Nil
      for (text <- Seq(addr, s"$addr tail", s"head $addr", s"x,$addr,y"))
        assert(spans(IocScanner.default, text)
          .filter(_._1 == graft.model.IndicatorType.Bitcoin) == want,
          s"len $len text '$text'")
    }
  }

  test("edge: ':' and '0' as the last byte") {
    val sc = IocScanner.default
    for (t <- Seq(":", "0", "a:", "a0", "2001:db8::1:", "2001:db8::", "::",
      "10.0.0.0", "10.0.0.1:0", "x 0", "0x", "0x0", "1.2.3.4 :"))
      assert(spans(sc, t) == spans(sc, t + " "), t)
    assert(spans(sc, "2001:db8:1:2::a0") ==
      Seq(graft.model.IndicatorType.Ipv6 -> "2001:db8:1:2::a0"))
    assert(spans(sc, "see 10.0.0.0") ==
      Seq(graft.model.IndicatorType.Ipv4 -> "10.0.0.0"))
  }

  test("edge: all-digit last label, punycode and uppercase TLDs") {
    val sc = IocScanner.default
    assert(spans(sc, "host.example.123 and 1.2.3.4").map(_._1) ==
      Seq(graft.model.IndicatorType.Ipv4))
    assert(spans(sc, "xn--bcher-kva.xn--p1ai and b.xn--90ais") == Seq(
      graft.model.IndicatorType.Domain -> "xn--bcher-kva.xn--p1ai",
      graft.model.IndicatorType.Domain -> "b.xn--90ais"))
    // PSL suffixes compare byte-exact: an uppercase TLD does not validate
    assert(spans(sc, "EXAMPLE.COM example.Com Example.com") ==
      Seq(graft.model.IndicatorType.Domain -> "Example.com"))
    assert(spans(sc, "mail me@x.COM or me@x.com") == Seq(
      graft.model.IndicatorType.Domain -> "x.com",
      graft.model.IndicatorType.Email -> "me@x.com"))
  }

  /** Texts with an anchor (or a token boundary) on each side of each
    * likely chunk edge: the anchor payload starts `d` bytes before the edge.
    */
  private lazy val edgeTexts: Seq[Array[Byte]] = {
    val payloads = Seq("a.com", "1.2.3.4", "x@y.org", "2001:db8::1", "::",
      "0x52908400098527886E0F7030069857D2E4169EE7", "0x",
      "d41d8cd98f00b204e9800998ecf8427e", "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa",
      "1234567890123456789012345", "12345678901234567890123456",
      "123456789012345678901234567", ".", "@", ":", "0")
    for (edge <- Seq(1024, 2048, 4096, 8192); d <- -3 to 3;
         p <- payloads; fill <- Seq("a", " ")) yield {
      val pad = fill * math.max(0, edge - d)
      (pad + p + " " + fill * 40 + p).getBytes(UTF_8)
    }
  }

  for ((name, sc) <- scanners)
    test(s"span digest: anchors on both sides of chunk edges, $name scanner") {
      assert(digest(sc, edgeTexts) == recorded(("edges", name)))
    }

  test("edge: a payload straddling a chunk edge is found like one inside") {
    val sc = IocScanner.default
    for (edge <- Seq(1024, 2048, 4096); d <- 0 to 6;
         p <- Seq("1.2.3.4", "a.com", "2001:db8::1",
           "0x52908400098527886E0F7030069857D2E4169EE7",
           "d41d8cd98f00b204e9800998ecf8427e")) {
      val s = " " * (edge - d) + p + " "
      assert(spans(sc, s) == spans(sc, " " + p + " "), s"edge $edge d $d $p")
    }
  }

  test("the TLD gate's set is exactly the snapshot's last labels") {
    val in = getClass.getResourceAsStream("/graft/psl_snapshot.dat")
    val lines = try new String(in.readAllBytes(), UTF_8).split("\n").toSeq
      finally in.close()
    val want = lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//"))
      .map { l =>
        val label = l.substring(l.lastIndexOf('.') + 1)
        new String(label.getBytes(UTF_8), java.nio.charset.StandardCharsets.ISO_8859_1)
      }.toSet
    val got = scala.jdk.CollectionConverters.SetHasAsScala(Psl.lastLabels).asScala.toSet
    assert(got == want)
    assert(got.contains("com") && got.contains("xn--p1ai") && got.contains("uk"))
    assert(!got.contains("co.uk") && !got.exists(_.forall(_.isDigit)))
  }

  test("the TLD walk with its gate answers like the plain walk over the " +
    "whole snapshot") {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // the right-to-left walk without the gate or the length bound
    def plain(b: Array[Byte]): Int = {
      var i = b.length - 1
      while (i >= 0) {
        if (b(i) == '.' &&
          Psl.suffixes.contains(new String(b, i + 1, b.length - i - 1, latin1)))
          return i
        i -= 1
      }
      -1
    }
    val entries = scala.jdk.CollectionConverters.SetHasAsScala(Psl.suffixes).asScala
    val labels = scala.jdk.CollectionConverters.SetHasAsScala(Psl.lastLabels).asScala
    val spans = entries.toSeq.flatMap(e => Seq(e, "x." + e, "x.y." + e,
      "x." + e + "q", "x." + e.dropRight(1), "x." + e.toUpperCase)) ++
      labels.toSeq.flatMap(l => Seq("host." + l, "a.b." + l, "a." + l + "0")) ++
      Seq("1.2.3.4", "foo.", ".", "a..com", "com", "", "a.b.c.d.e.f.g.h.co.uk")
    var checked = 0
    spans.foreach { s =>
      val b = s.getBytes(latin1)
      assert(Psl.tldSuffixPos(b, 0, b.length) == plain(b), s)
      checked += 1
    }
    assert(checked > 50000)
  }
}
