package graft.extract

import graft.model.{IndicatorType => T, Ioc}

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Scanner configuration (reference ExtractorBuilder defaults,
  * crates/matchy-extractor/src/lib.rs:35-50).
  */
final case class ScanConfig(
    domains: Boolean = true,
    emails: Boolean = true,
    ipv4: Boolean = true,
    ipv6: Boolean = true,
    hashes: Boolean = true,
    bitcoin: Boolean = true,
    ethereum: Boolean = true,
    monero: Boolean = true,
    minDomainLabels: Int = 2,
    requireWordBoundaries: Boolean = true
)

object ScanConfig {
  /** Capability-derived defaults of the match flow (match_cmd.rs:277-303):
    * a db with ip data enables the ip extractors, string data (literals or
    * globs) the rest — a string-only feed never pays the IPv4/IPv6 scan on
    * every turn, and vice versa.
    */
  def forCapabilities(hasIp: Boolean, hasStrings: Boolean): ScanConfig =
    ScanConfig(
      domains = hasStrings, emails = hasStrings,
      ipv4 = hasIp, ipv6 = hasIp,
      hashes = hasStrings, bitcoin = hasStrings,
      ethereum = hasStrings, monero = hasStrings)
}

/** Single-pass IoC scanner over the UTF-8 bytes of one turn's text.
  *
  * Re-implements the observable extraction semantics of the reference
  * extractor (crates/matchy-extractor/src/lib.rs) from scratch in Scala:
  * boundary alphabet (lib.rs:1568-1593), per-type candidate grammars
  * (SURVEY.md §2.2 E1-E8), emission order of line-mode extraction
  * (lib.rs:1471-1521): domains, ipv4, emails, ipv6, hashes, bitcoin,
  * ethereum, monero. Spans are byte offsets; candidates are not deduped and
  * may overlap across types (an email also yields its domain).
  *
  * This class is immutable and serializable — one instance is shared by all
  * executor threads (it backs the `extract_iocs` Catalyst expression).
  */
final class IocScanner(val config: ScanConfig) extends Serializable {
  import IocScanner._

  def scanText(text: String): ArrayBuffer[Ioc] =
    scan(text.getBytes(StandardCharsets.UTF_8))

  def scan(bytes: Array[Byte]): ArrayBuffer[Ioc] =
    scan(bytes, bytes.length)

  /** The candidates of bytes[0, len) as `Ioc`s (Strings built for every
    * candidate) — for the reference paths and tests; the scan expressions
    * read [[scanSpans]] directly.
    */
  def scan(bytes: Array[Byte], len: Int): ArrayBuffer[Ioc] = {
    val sp = scanSpans(bytes, len, scratch.get())
    val out = new ArrayBuffer[Ioc](math.max(4, sp.n))
    var i = 0
    while (i < sp.n) {
      val raw = new String(bytes, sp.start(i), sp.end(i) - sp.start(i),
        StandardCharsets.UTF_8)
      val value = if (sp.kind(i) == Kind.Ipv6) sp.canon(i) else raw
      out += Ioc(Kind.names(sp.kind(i)), value, raw, sp.start(i), sp.end(i))
      i += 1
    }
    out
  }

  /** Scan bytes[0, n) into `scr.spans` (cleared first) and return it: one
    * (kind, start, end) per candidate in emission order, plus the parsed
    * address of an IPv4 candidate and the canonical form of an IPv6 one.
    * No String is built for a candidate. The spans are valid until the
    * next scan with `scr`. The caller-supplied scratch lets the expression
    * layer reuse the ScanScratch it hangs off its own per-row scratch
    * holder, so a scan costs ONE ThreadLocal probe total (every extra
    * ThreadLocal is a hash probe in a collision-prone per-thread map — JFR:
    * getEntryAfterMiss), and the reused buffers keep per-row garbage off
    * the GC (round-2 scaling).
    */
  def scanSpans(bytes: Array[Byte], n: Int,
      scr: IocScanner.ScanScratch): Spans = {
    val out = scr.spans
    out.n = 0
    // ONE fused anchor pass over the bytes (the reference's shared
    // precompute, lib.rs:412-447): token boundaries + '.', '@', "::", "0x"
    // anchor positions collected together — the per-type scans previously
    // each swept the full byte range again (6 passes; fused is the single
    // biggest scanner win in the JFR profile).
    collectAnchors(bytes, n, scr)
    if (config.domains) scanDomains(bytes, n, scr, out)
    if (config.ipv4) scanIpv4(bytes, n, scr.dots, out)
    if (config.emails) scanEmails(bytes, n, scr, out)
    if (config.ipv6) scanIpv6(bytes, n, scr.dcolons, out)
    if (config.hashes) scanHashes(bytes, scr.tokens, out)
    if (config.bitcoin) scanBitcoin(bytes, scr.tokens, out)
    if (config.ethereum) scanEthereum(bytes, n, scr.zx, out)
    if (config.monero) scanMonero(bytes, scr.tokens, out)
    scr.release()
    out
  }

  /** The fused anchor pass: token spans of maximal non-boundary runs
    * (reference find_word_boundaries_into, lib.rs:1742-1782), RESTRICTED
    * to spans >= 26 bytes (the fixed-width consumers' floor: hashes >= 32,
    * bitcoin >= 26, monero >= 90 bytes; most tokens are short words),
    * dot/at positions, "::" pair starts (all, including overlapping — the
    * consumer applies the non-overlap skip), "0x" starts (overlap
    * impossible: b(i+1)=='x' excludes a '0'), and the positions of the
    * non-domain bytes, with each dot's count of them before it: the
    * domain-char run around a dot lies between two of them.
    *
    * Two passes per chunk of [[ChunkBytes]] bytes. Pass 1 is branch-free:
    * it writes every position into `scr.anchorPos` and advances only past
    * a byte of non-zero class (a boundary, an anchor char or a non-domain
    * byte). Pass 2 walks just those positions. It appends each to the dot
    * and non-domain lists the same way (write, then advance by the class
    * bit), a token is the gap between two boundaries, and only the rare
    * events (a gap of 27+ bytes, '@', "::", "0x") take a branch. The
    * one-pass loop this replaces branched on every byte's class, and on
    * text those branches mispredict: on 40k match_wide texts a plain
    * class-table sum ran at ~1,040 MB/s, the same loop with the per-byte
    * branches at ~290 MB/s and the one-pass anchor collection at ~173 MB/s
    * (one thread, 4-vCPU host). Chunking bounds the position buffer
    * whatever the text length.
    */
  private def collectAnchors(b: Array[Byte], n: Int,
      scr: IocScanner.ScanScratch): Unit = {
    val tokens = scr.tokens; tokens.clear()
    val dots = scr.dots; dots.clear()
    val ats = scr.ats; ats.clear()
    val dcolons = scr.dcolons; dcolons.clear()
    val zx = scr.zx; zx.clear()
    val nonDomain = scr.nonDomain; nonDomain.clear()
    val dotRun = scr.dotRun; dotRun.clear()
    val atRun = scr.atRun; atRun.clear()
    val tbl = IocScanner.anchorClassTable
    val pairTbl = IocScanner.pairClassTable
    val pos = scr.anchorPos
    var lastBoundary = -1
    var base = 0
    while (base < n) {
      val lim = math.min(n, base + ChunkBytes)
      var np = 0
      var i = base
      while (i < lim) {
        pos(np) = i
        np += (tbl(b(i) & 0xff) + 255) >>> 8
        i += 1
      }
      val dotA = dots.reserve(np); var nd = dots.length
      val ndA = nonDomain.reserve(np); var nn = nonDomain.length
      val runA = dotRun.reserve(np)
      var j = 0
      while (j < np) {
        val p = pos(j)
        val k = tbl(b(p) & 0xff)
        ndA(nn) = p; nn += (k >> 5) & 1
        dotA(nd) = p; runA(nd) = nn; nd += (k >> 1) & 1
        val isB = k & 1
        val gap = p - lastBoundary
        if ((isB & ((26 - gap) >>> 31)) != 0) {
          tokens.add(lastBoundary + 1); tokens.add(p)
        }
        lastBoundary += gap & -isB
        // '@', "::" and "0x" are rare: a branch on them predicts well
        val pair = k & (if (p + 1 < n) pairTbl(b(p + 1) & 0xff) else 0)
        if (((k & 4) | pair) != 0) {
          if ((k & 4) != 0) { ats.add(p); atRun.add(nn) }
          else if (pair == 8) dcolons.add(p)
          else zx.add(p)
        }
        j += 1
      }
      dots.length = nd; dotRun.length = nd; nonDomain.length = nn
      base = lim
    }
    if (n - lastBoundary > 26) { tokens.add(lastBoundary + 1); tokens.add(n) }
  }

  // ------------------------------------------------------------- domains
  private def scanDomains(b: Array[Byte], n: Int,
      scr: IocScanner.ScanScratch, out: Spans): Unit = {
    val dots = scr.dots
    val nonDomain = scr.nonDomain
    var lastSpanEnd = 0
    var di = 0
    while (di < dots.length) {
      val dot = dots(di)
      if (dot >= lastSpanEnd) {
        // the maximal domain-char run around the dot: between the
        // non-domain bytes before and after it (the anchor pass counted
        // them), in place of a byte walk each way
        val r = scr.dotRun(di)
        val start = if (r == 0) 0 else nonDomain(r - 1) + 1
        val end = if (r < nonDomain.length) nonDomain(r) else n
        if (start < dot && end > dot + 1) {
          val tldStart = Psl.tldSuffixPos(b, start, end)
          if (tldStart > 0) { // -1 = no TLD; 0 = bare TLD, rejected
            val boundaryOk = !config.requireWordBoundaries ||
              ((start == 0 || isBoundary(b(start - 1))) &&
                (end == n || isBoundary(b(end))))
            if (boundaryOk && validLabels(b, start, end) &&
              utf8Valid(b, start, end))
              out.add(Kind.Domain, start, end)
          }
        }
        // skip the span's remaining dots on REJECTION too (round 6):
        // domain-char runs are maximal, so every dot inside [start, end)
        // derives exactly this span and reaches the same verdict — the
        // old accept-only skip made a dotted-quad pay the PSL walk once
        // PER DOT. Emission is unchanged: an accepted span emits at its
        // first dot (as before), a rejected span emits nothing either way.
        lastSpanEnd = end
      }
      di += 1
    }
  }

  /** Labels: non-empty, no leading/trailing hyphen, count >= min. One
    * branch-free pass over the span (`end - start >= 3`): the first and
    * last byte must not be a dot or a hyphen, and no inner dot may have a
    * dot or a hyphen beside it.
    */
  private def validLabels(b: Array[Byte], start: Int, end: Int): Boolean = {
    val t = labelClassTable
    val first = t(b(start) & 0xff)
    if (((first | t(b(end - 1) & 0xff)) & 3) != 0) return false
    var bad = 0
    var dots = 0
    var prev = first
    var c = t(b(start + 1) & 0xff)
    var i = start + 1
    while (i < end - 1) {
      val next = t(b(i + 1) & 0xff)
      val around = prev | next
      bad |= c & (around | (around >> 1)) & 1
      dots += c & 1
      prev = c
      c = next
      i += 1
    }
    bad == 0 && dots + 1 >= config.minDomainLabels
  }

  // --------------------------------------------------------------- ipv4
  private def scanIpv4(b: Array[Byte], n: Int, dots: IntVec,
      out: Spans): Unit = {
    // every dot of one maximal digit/dot run walks back to the SAME start,
    // and tryParseIpv4 parses from that start only, so the run's verdict is
    // reached at its first dot that passes the guard; `runEnd` is where that
    // run ends, and the run's later dots are skipped ("999.1.2.3" paid the
    // walk and the parse once per dot before). A parsed address lies inside
    // its run, so a later run never starts inside an emitted span. The
    // first guard-passing dot of a run that parses is the address's first
    // dot, so the old ">= 3 dots within 15 bytes" prefilter never turned
    // away an address and is gone.
    var runEnd = 0
    var di = 0
    while (di < dots.length) {
      val dotPos = dots(di)
      if (dotPos >= runEnd && dotPos != 0 && dotPos + 6 <= n &&
        isDigit(b(dotPos - 1)) && isDigit(b(dotPos + 1))) {
        var start = dotPos
        while (start > 0 && isIpv4Char(b(start - 1))) start -= 1
        runEnd = dotPos + 1
        val parsed = tryParseIpv4(b, n, start)
        if (parsed >= 0) {
          runEnd = (parsed >>> 32).toInt
          out.add(Kind.Ipv4, start, runEnd)
          out.addr(out.n - 1) = parsed.toInt
        }
        while (runEnd < n && isIpv4Char(b(runEnd))) runEnd += 1
      }
      di += 1
    }
  }

  /** Strict dotted-quad parse from `start`: 4 octets of 1-3 digits, each
    * 0-255, no leading zeros, word boundaries both ends — so the span IS
    * the canonical form. Returns (end << 32) | address, or -1. An octet is
    * read from three table lookups without a per-digit branch: the digit
    * count is the length of the run of non-negative [[digitTable]] values
    * (at most 3, like the digit loop this replaces).
    */
  private def tryParseIpv4(b: Array[Byte], n: Int, start: Int): Long = {
    if (config.requireWordBoundaries && start > 0 && !isBoundary(b(start - 1)))
      return -1L
    var pos = start
    var addr = 0L
    var oi = 0
    while (oi < 4) {
      val d0 = digitAt(b, n, pos)
      val d1 = digitAt(b, n, pos + 1)
      val d2 = digitAt(b, n, pos + 2)
      // 1 where the digit run reaches that byte, else 0
      val h0 = ~d0 >>> 31
      val h1 = h0 & (~d1 >>> 31)
      val h2 = h1 & (~d2 >>> 31)
      val digits = h0 + h1 + h2
      if (digits == 0) return -1L
      val value = (d0 * (1 + 9 * h1) + (d1 & -h1)) * (1 + 9 * h2) + (d2 & -h2)
      if (value > 255) return -1L
      if (digits > 1 && d0 == 0) return -1L
      pos += digits
      addr = (addr << 8) | value
      if (oi < 3) {
        if (pos >= n || b(pos) != '.') return -1L
        pos += 1
      }
      oi += 1
    }
    if (config.requireWordBoundaries && pos < n && !isBoundary(b(pos)))
      return -1L
    (pos.toLong << 32) | addr
  }

  // -------------------------------------------------------------- emails
  private def scanEmails(b: Array[Byte], n: Int,
      scr: IocScanner.ScanScratch, out: Spans): Unit = {
    val ats = scr.ats
    var ai = 0
    while (ai < ats.length) {
      val at = ats(ai)
      locally {
        var start = at
        while (start > 0 && isEmailLocalChar(b(start - 1))) start -= 1
        var ok = start < at
        if (ok && config.requireWordBoundaries && start > 0 &&
          !isBoundary(b(start - 1))) ok = false
        if (ok) {
          // the domain-char run after the '@' ends at the next non-domain
          // byte the anchor pass listed
          val r = scr.atRun(ai)
          val end = if (r < scr.nonDomain.length) scr.nonDomain(r) else n
          if (end > at + 1) {
            if (!config.requireWordBoundaries || end == n || isBoundary(b(end))) {
              // local part: no "..", at least one ASCII letter
              val t = labelClassTable
              var classes = 0
              var dd = 0
              var prev = 0
              var i = start
              while (i < at) {
                val c = t(b(i) & 0xff)
                classes |= c
                dd |= prev & c & 1
                prev = c
                i += 1
              }
              if ((classes & 4) != 0 && dd == 0) {
                // domain part: at least one dot + PSL TLD
                var hasDot = false
                i = at + 1
                while (i < end && !hasDot) { if (b(i) == '.') hasDot = true; i += 1 }
                if (hasDot && Psl.tldSuffixPos(b, at + 1, end) >= 0 &&
                  utf8Valid(b, start, end))
                  out.add(Kind.Email, start, end)
              }
            }
          }
        }
      }
      ai += 1
    }
  }

  // --------------------------------------------------------------- ipv6
  private def scanIpv6(b: Array[Byte], n: Int, dcolons: IntVec,
      out: Spans): Unit = {
    var lastEnd = 0
    var search = 0
    var ci = 0
    while (ci < dcolons.length) {
      // next non-overlapping "::" (the fused pass collects ALL pair starts)
      val dc = dcolons(ci)
      ci += 1
      if (dc >= search) {
      search = dc + 2
      if (dc >= lastEnd) {
        val hexBefore = dc > 0 && isHex(b(dc - 1))
        val hexAfter = dc + 2 < n && isHex(b(dc + 2))
        if (hexBefore || hexAfter) {
          var start = dc
          while (start > 0 && isIpv6Char(b(start - 1))) start -= 1
          var end = dc + 2
          while (end < n && isIpv6Char(b(end))) end += 1
          val len = end - start
          if (len < 8) { lastEnd = end }
          else if (b(start) == ':' && b(start + 1) == ':') { lastEnd = end }
          else if (b(end - 1) == ':' && b(end - 2) == ':') { lastEnd = end }
          else if (isLoopbackOrLinkLocal(b, start, end)) { lastEnd = end }
          else {
            val raw = new String(b, start, len, StandardCharsets.US_ASCII)
            val canonical = Ipv6Format.canonicalize(raw)
            if (canonical != null) {
              out.add(Kind.Ipv6, start, end)
              out.canon(out.n - 1) = canonical
              lastEnd = end
            } else lastEnd = dc + 2
          }
        } else lastEnd = dc + 2
      }
      }
    }
  }

  /** Reject ::1 and fe80::/10 by textual prefix (lib.rs:1425-1456). */
  private def isLoopbackOrLinkLocal(b: Array[Byte], start: Int, end: Int): Boolean = {
    val len = end - start
    if (len == 3 && b(start) == ':' && b(start + 1) == ':' && b(start + 2) == '1')
      return true
    if (len >= 3) {
      val c0 = lower(b(start)); val c1 = lower(b(start + 1)); val c2 = lower(b(start + 2))
      if (c0 == 'f' && c1 == 'e' && (c2 == '8' || c2 == '9' || c2 == 'a' || c2 == 'b'))
        return true
    }
    false
  }

  // -------------------------------------------------------------- hashes
  private def scanHashes(b: Array[Byte], tokens: IntVec,
      out: Spans): Unit = {
    var t = 0
    while (t + 1 < tokens.length) {
      val start = tokens(t)
      val end = tokens(t + 1)
      val len = end - start
      val kind = len match {
        case 32  => Kind.Md5
        case 40  => Kind.Sha1
        case 64  => Kind.Sha256
        case 96  => Kind.Sha384
        case 128 => Kind.Sha512
        case _   => -1
      }
      if (kind >= 0 && allHex(b, start, end)) out.add(kind, start, end)
      t += 2
    }
  }

  // ------------------------------------------------------------- bitcoin
  private def scanBitcoin(b: Array[Byte], tokens: IntVec,
      out: Spans): Unit = {
    var t = 0
    while (t + 1 < tokens.length) {
      val start = tokens(t)
      val end = tokens(t + 1)
      val len = end - start
      if (len >= 26 && len <= 62) {
        if (len >= 3 && b(start) == 'b' && b(start + 1) == 'c' &&
          b(start + 2) == '1') {
          if (asciiOnly(b, start, end)) {
            val s = new String(b, start, len, StandardCharsets.US_ASCII)
            if (Checksums.validBitcoinBech32(s))
              out.add(Kind.Bitcoin, start, end)
          }
        } else if (b(start) == '1' || b(start) == '3') {
          // base58Decode rejects any byte outside the alphabet, so the table
          // check only skips the String and the decode (a hex token has a
          // '0' ~87% of the time)
          if (allBase58(b, start, end)) {
            val s = new String(b, start, len, StandardCharsets.US_ASCII)
            if (Checksums.validBase58Check(s))
              out.add(Kind.Bitcoin, start, end)
          }
        }
      }
      t += 2
    }
  }

  // ------------------------------------------------------------ ethereum
  private def scanEthereum(b: Array[Byte], n: Int, zx: IntVec,
      out: Spans): Unit = {
    // "0x" starts from the fused pass; pairs cannot overlap
    var zi = 0
    while (zi < zx.length) {
      val start = zx(zi)
      if (start + 42 <= n &&
        (!config.requireWordBoundaries || start == 0 || isBoundary(b(start - 1)))) {
        val end = start + 42
        if ((!config.requireWordBoundaries || end == n || isBoundary(b(end))) &&
          allHex(b, start + 2, end) &&
          // validate on the raw bytes (zero-alloc EIP-55, round 6)
          Checksums.validEthereumBytes(b, start))
          out.add(Kind.Ethereum, start, end)
      }
      zi += 1
    }
  }

  // -------------------------------------------------------------- monero
  private def scanMonero(b: Array[Byte], tokens: IntVec,
      out: Spans): Unit = {
    var t = 0
    while (t + 1 < tokens.length) {
      val start = tokens(t)
      val end = tokens(t + 1)
      val len = end - start
      if (len >= 90 && len <= 110 && (b(start) == '4' || b(start) == '8') &&
        allBase58(b, start, end)) {
        val s = new String(b, start, len, StandardCharsets.US_ASCII)
        if (Checksums.validMonero(s))
          out.add(Kind.Monero, start, end)
      }
      t += 2
    }
  }
}

object IocScanner {
  val default = new IocScanner(ScanConfig())

  /** Boundary alphabet (reference BOUNDARY_LOOKUP, lib.rs:1568-1593):
    * whitespace + / , ; : ( ) [ ] { } < > " ' @ =
    */
  private val boundaryTable: Array[Boolean] = {
    val t = new Array[Boolean](256)
    " \t\n\r/,;:()[]{}<>\"'@=".foreach(c => t(c.toInt) = true)
    t
  }

  /** Domain chars: [A-Za-z0-9.-] plus bytes >= 0x80 (IDN), lib.rs:1597-1629. */
  private val domainCharTable: Array[Boolean] = {
    val t = new Array[Boolean](256)
    var i = '0'.toInt; while (i <= '9') { t(i) = true; i += 1 }
    i = 'a'.toInt; while (i <= 'z') { t(i) = true; i += 1 }
    i = 'A'.toInt; while (i <= 'Z') { t(i) = true; i += 1 }
    t('-'.toInt) = true
    t('.'.toInt) = true
    i = 0x80; while (i <= 0xff) { t(i) = true; i += 1 }
    t
  }

  /** Bytes per chunk of the anchor pass: its position buffer holds one
    * chunk, so a huge text pins no large buffer on the thread.
    */
  private[extract] final val ChunkBytes = 2048

  /** 1 for a byte in `chars`, 0 otherwise. */
  private def table(chars: String): Array[Int] = {
    val t = new Array[Int](256)
    chars.foreach(c => t(c.toInt) = 1)
    t
  }
  private val HexChars = "0123456789abcdefABCDEF"
  private val hexTable = table(HexChars)
  private val ipv6CharTable = table(HexChars + ":")
  private val ipv4CharTable = table("0123456789.")
  private val base58Table = table(Checksums.Base58Alphabet)
  private val emailLocalTable = table(
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-_+")
  /** The digit's value for '0'-'9', -1 for any other byte. */
  private val digitTable: Array[Int] = {
    val t = Array.fill(256)(-1)
    var i = 0
    while (i < 10) { t('0' + i) = i; i += 1 }
    t
  }

  /** Candidate kinds: indexes into `names`, in IndicatorType.all order. */
  object Kind {
    final val Domain = 0
    final val Email = 1
    final val Ipv4 = 2
    final val Ipv6 = 3
    final val Md5 = 4
    final val Sha1 = 5
    final val Sha256 = 6
    final val Sha384 = 7
    final val Sha512 = 8
    final val Bitcoin = 9
    final val Ethereum = 10
    final val Monero = 11
    val names: Array[String] = Array(T.Domain, T.Email, T.Ipv4, T.Ipv6,
      T.Md5, T.Sha1, T.Sha256, T.Sha384, T.Sha512, T.Bitcoin, T.Ethereum,
      T.Monero)
  }

  /** One scan's candidates as primitive columns (grow-only, reused): the
    * kind, the byte span [start, end), the 32-bit address of an IPv4
    * candidate (its span is already canonical) and the RFC 5952 form of an
    * IPv6 one (null for every other kind).
    */
  final class Spans {
    var n = 0
    var kind = new Array[Int](16)
    var start = new Array[Int](16)
    var end = new Array[Int](16)
    var addr = new Array[Int](16)
    var canon = new Array[String](16)

    private[extract] def add(k: Int, s: Int, e: Int): Unit = {
      if (n == kind.length) {
        val cap = n * 2
        kind = java.util.Arrays.copyOf(kind, cap)
        start = java.util.Arrays.copyOf(start, cap)
        end = java.util.Arrays.copyOf(end, cap)
        addr = java.util.Arrays.copyOf(addr, cap)
        canon = java.util.Arrays.copyOf(canon, cap)
      }
      kind(n) = k; start(n) = s; end(n) = e; canon(n) = null
      n += 1
    }

    /** The IPv4 address of candidate i as a non-negative long. */
    def ipv4(i: Int): Long = addr(i) & 0xffffffffL
  }

  /** Per-thread scanner scratch, consolidated behind ONE ThreadLocal. */
  final class ScanScratch {
    val tokens = new IntVec(64)
    val dots = new IntVec(16)
    val ats = new IntVec(8)
    val dcolons = new IntVec(8)
    val zx = new IntVec(8)
    val nonDomain = new IntVec(32)
    val dotRun = new IntVec(16) // per dot: non-domain bytes before it
    val atRun = new IntVec(8) // per '@': non-domain bytes up to it
    val spans = new Spans
    val anchorPos = new Array[Int](ChunkBytes)

    /** Drop the anchor lists a huge text grew (the non-domain list holds
      * about one position per word), so no thread keeps them.
      */
    private[extract] def release(): Unit = {
      tokens.shrink(); dots.shrink(); ats.shrink(); dcolons.shrink()
      zx.shrink(); nonDomain.shrink(); dotRun.shrink(); atRun.shrink()
    }
  }
  private val scratch = new ThreadLocal[ScanScratch] {
    override def initialValue(): ScanScratch = new ScanScratch
  }

  /** Fused anchor-pass byte classes: bit0 boundary, bit1 '.', bit2 '@',
    * bit3 ':', bit4 '0', bit5 not a domain char (every boundary too).
    * Class 0 = plain domain-char token byte.
    */
  private[extract] val anchorClassTable: Array[Byte] = {
    val t = new Array[Byte](256)
    var i = 0
    while (i < 256) { if (boundaryTable(i)) t(i) = 1; i += 1 }
    t('.') = (t('.') | 2).toByte
    t('@') = (t('@') | 4).toByte
    t(':') = (t(':') | 8).toByte
    t('0') = (t('0') | 16).toByte
    i = 0
    while (i < 256) { if (!domainCharTable(i)) t(i) = (t(i) | 32).toByte; i += 1 }
    t
  }

  /** Label classes: bit 0 '.', bit 1 '-', bit 2 an ASCII letter. */
  private val labelClassTable: Array[Int] = {
    val t = new Array[Int](256)
    t('.') = 1
    t('-') = 2
    ('a' to 'z').foreach(c => t(c) = 4)
    ('A' to 'Z').foreach(c => t(c) = 4)
    t
  }

  /** The class bit a byte completes as the second byte of a pair: ':'
    * the "::" bit, 'x' the "0x" bit.
    */
  private[extract] val pairClassTable: Array[Int] = {
    val t = new Array[Int](256)
    t(':') = 8
    t('x') = 16
    t
  }

  @inline def isBoundary(b: Byte): Boolean = boundaryTable(b & 0xff)
  @inline def isDigit(b: Byte): Boolean = digitTable(b & 0xff) >= 0
  @inline def isHex(b: Byte): Boolean = hexTable(b & 0xff) != 0
  @inline private def isIpv6Char(b: Byte): Boolean = ipv6CharTable(b & 0xff) != 0
  @inline private def isIpv4Char(b: Byte): Boolean = ipv4CharTable(b & 0xff) != 0
  /** The digit value of b(i), -1 if it is not a digit or i >= n. */
  @inline private def digitAt(b: Array[Byte], n: Int, i: Int): Int =
    if (i < n) digitTable(b(i) & 0xff) else -1
  @inline def isEmailLocalChar(b: Byte): Boolean = emailLocalTable(b & 0xff) != 0
  @inline private def lower(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b.toInt

  /** Every byte of [from, to) is hex. AND-accumulates the table with no
    * exit per byte: on random hex the range-compare chain mispredicted
    * about every other byte.
    */
  def allHex(b: Array[Byte], from: Int, to: Int): Boolean =
    allIn(hexTable, b, from, to)

  /** Every byte of [from, to) is in the base58 alphabet. */
  def allBase58(b: Array[Byte], from: Int, to: Int): Boolean =
    allIn(base58Table, b, from, to)

  private def allIn(t: Array[Int], b: Array[Byte], from: Int, to: Int): Boolean = {
    var acc = 1
    var i = from
    while (i < to) { acc &= t(b(i) & 0xff); i += 1 }
    acc != 0
  }

  def asciiOnly(b: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** Unboxed growable int vector — the scan hot path must not box ints
    * (ArrayBuffer[Int] boxes; the resulting GC pressure halves throughput).
    */
  final class IntVec(initial: Int) {
    private var arr = new Array[Int](initial)
    var length: Int = 0
    def clear(): Unit = length = 0
    def add(v: Int): Unit = {
      if (length == arr.length) reserve(1)
      arr(length) = v
      length += 1
    }
    /** The backing array, with room for `extra` more values past `length`
      * (a caller that writes them sets `length` itself).
      */
    private[extract] def reserve(extra: Int): Array[Int] = {
      if (length + extra > arr.length) {
        val next = new Array[Int](math.max(arr.length * 2, length + extra))
        System.arraycopy(arr, 0, next, 0, length)
        arr = next
      }
      arr
    }
    /** Back to the initial capacity if grown past [[ChunkBytes]]. */
    private[extract] def shrink(): Unit =
      if (arr.length > ChunkBytes + initial) arr = new Array[Int](initial)
    def apply(i: Int): Int = arr(i)
  }

  /** Strict UTF-8 validity of bytes[from, to). */
  def utf8Valid(b: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation or overlong lead
      else if (c < 0xe0) {
        if (i + 1 >= to || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) {
        if (i + 2 >= to || (b(i + 1) & 0xc0) != 0x80 ||
          (b(i + 2) & 0xc0) != 0x80) return false
        val cp = ((c & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f)
        if (cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff)) return false
        i += 3
      } else if (c < 0xf5) {
        if (i + 3 >= to || (b(i + 1) & 0xc0) != 0x80 ||
          (b(i + 2) & 0xc0) != 0x80 || (b(i + 3) & 0xc0) != 0x80) return false
        val cp = ((c & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
          ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f)
        if (cp < 0x10000 || cp > 0x10ffff) return false
        i += 4
      } else return false
    }
    true
  }
}
