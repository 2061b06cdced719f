package graft.intel

import graft.extract.IocScanner

/** Broadcast pre-screen that cheaply rejects clean turns before extraction
  * — the Spark analog of matchy's "AC automaton finds no literal => line is
  * clean" fast path (SURVEY.md §4.3; north-rule trie/bloom pre-screen).
  *
  * This is the zero-allocation byte form: ONE fused pass over the turn's
  * raw UTF-8 bytes drives (a) the IPv4 `digit.digit` anchor, (b) the IPv6
  * `::` anchor (the extractor only emits ::-compressed forms, so the anchor
  * is total), and (c) a walk of the engine's one byte automaton
  * ([[AhoCorasick]], the one GlobIndex probes with) over every literal
  * value and every glob literal core, whose dense root row makes
  * anchor-free bytes cost one array read. The previous String/token-based
  * form allocated a String per token plus a full lowercased copy of the
  * text per turn — measurably NOT cheap next to the 145 MB/s scanner it was
  * supposed to short-circuit.
  *
  * Soundness (superset filter — may pass clean turns, must NEVER drop a
  * matching one):
  *  - every IP match requires an IPv4/IPv6 candidate, whose textual anchors
  *    (digit.digit / "::") are checked directly on the raw bytes (the
  *    scanner does no de-fanging; the only candidate whose canonical value
  *    differs from its matched span is RFC-5952 IPv6, which still contains
  *    "::" in the source bytes). Which anchors are needed derives from the
  *    unified 128-bit match space, NOT the entries' notation family — see
  *    the derivation note in [[CleanPreScreen.build]];
  *  - every literal match is full-token equality, which implies the literal
  *    occurs as a SUBSTRING of the text — checked by the automaton (a
  *    superset of token equality, so strictly sound). Case-insensitive
  *    databases match on `value.toLowerCase`; the automaton stores the
  *    toLowerCase'd literal and ASCII-folds the text bytes, which agrees
  *    because extracted candidate values are ASCII. A CI literal whose
  *    lowercased form still contains non-ASCII cannot be byte-checked that
  *    way, so it degrades to the any-token fallback instead (never skipped);
  *  - every glob match implies the pattern's longest literal segment is a
  *    substring of the text under Glob's OWN normalization (exact bytes, or
  *    `asciiLower` when CI — Glob.scala:43-50), which the automaton's
  *    ASCII fold reproduces exactly; a glob with no literal core, or whose
  *    core holds an unpaired surrogate (it can match inside a surrogate
  *    pair at the char level but never as bytes, see
  *    [[ProbeKey.hasUnpairedSurrogate]]), disables rejection for any turn
  *    that has a token (string-path candidates are always
  *    boundary-delimited tokens).
  *
  * Off by default in front of the scan (`ScanJob.matched(prescreen =
  * false)`): measured on the bench corpus, the screen pass costs ~12% while
  * the single-pass byte scanner's own anchor sweep already rejects clean
  * turns at the same cost — the reference needs the AC screen because its
  * per-type regex extraction is expensive; this engine absorbed that fast
  * path into the extractor. The screen stays for extraction configs where
  * scanning IS expensive (many databases, case-folded globs), as the
  * explicit `matched(prescreen = true)` filter (MightMatch). It must never
  * sit in front of ScanJob.run: the A2-A6 candidate counts need clean turns
  * extracted too.
  */
final class CleanPreScreen private (
    ac: AhoCorasick,
    anyTokenFallback: Boolean,
    needIpv4: Boolean,
    needIpv6: Boolean,
    foldCase: Boolean
) extends Serializable {

  // per-byte dispatch table over FOLDED bytes: 0 = boring (cannot trigger
  // any check), else a bitmask of which slow checks apply. Boring bytes —
  // the vast majority of clean text — cost one table read and one branch.
  @transient private lazy val classTable: Array[Byte] = {
    val t = new Array[Byte](256)
    if (needIpv4) t('.') = (t('.') | 1).toByte
    if (needIpv6) t(':') = (t(':') | 2).toByte
    var b = 0
    while (b < 256) {
      if (ac.startsWord(b)) t(b) = (t(b) | 4).toByte
      b += 1
    }
    // CI soundness backstop: Java toLowerCase can map NON-ASCII text
    // characters INTO ASCII (U+212A KELVIN SIGN -> 'k', U+0130 -> 'i'), so
    // under a case-insensitive string section an ASCII-stored literal CAN
    // match a candidate containing non-ASCII bytes via the index's own
    // toLowerCase normalization. The ASCII byte fold cannot see that, so
    // any >= 0x80 byte makes the turn pass outright (class bit 8) — a
    // cheap, sound widening; pure-ASCII text (the norm) is unaffected.
    if (foldCase && ac.nWords > 0) {
      b = 128
      while (b < 256) { t(b) = (t(b) | 8).toByte; b += 1 }
    }
    t
  }
  @transient private lazy val foldTable: Array[Int] = {
    val t = new Array[Int](256)
    var b = 0
    while (b < 256) {
      t(b) = if (foldCase && b >= 'A' && b <= 'Z') b + 32 else b
      b += 1
    }
    t
  }

  def mightMatch(bytes: Array[Byte]): Boolean = mightMatch(bytes, bytes.length)

  def mightMatch(bytes: Array[Byte], n: Int): Boolean = {
    if (anyTokenFallback) {
      // a string-path candidate needs a token; any non-boundary byte is one
      var i = 0
      while (i < n) {
        if (!IocScanner.isBoundary(bytes(i))) return true
        i += 1
      }
      // fall through: IP anchors don't need the fallback's token
    }
    val cls = classTable
    val fold = foldTable
    var state = 0
    var i = 0
    while (i < n) {
      val b = fold(bytes(i) & 0xff)
      if (state == 0) {
        val c = cls(b)
        if (c != 0) {
          if ((c & 8) != 0) return true // CI non-ASCII widening (see table)
          if ((c & 1) != 0 && i > 0 && i + 1 < n &&
            IocScanner.isDigit(bytes(i - 1)) && IocScanner.isDigit(bytes(i + 1)))
            return true
          if ((c & 2) != 0 && i + 1 < n && bytes(i + 1) == ':') return true
          if ((c & 4) != 0) {
            state = ac.step(0, b)
            if (ac.isMatch(state)) return true
          }
        }
      } else {
        if (b >= 128 && (cls(b) & 8) != 0) return true
        // in-word: '.'/':'-anchored checks still apply (words may contain
        // them), then advance the automaton
        if (b == '.') {
          if (needIpv4 && i > 0 && i + 1 < n && IocScanner.isDigit(bytes(i - 1)) &&
            IocScanner.isDigit(bytes(i + 1))) return true
        } else if (b == ':') {
          if (needIpv6 && i + 1 < n && bytes(i + 1) == ':') return true
        }
        state = ac.step(state, b)
        if (ac.isMatch(state)) return true
      }
      i += 1
    }
    false
  }
}

object CleanPreScreen {

  def build(dbs: Seq[IntelDb]): CleanPreScreen = {
    val words = scala.collection.mutable.LinkedHashSet[String]()
    var anyToken = false
    dbs.foreach { db =>
      db.entries.foreach { m =>
        m.entryType match {
          case "ip" => // handled below via classified CIDR family
          case "literal" =>
            val key = IntelDb.classify(m.entry) match {
              case Some(IntelDb.LiteralEntry(k)) => k
              case _                             => m.entry
            }
            val norm = if (db.caseInsensitive)
              key.toLowerCase(java.util.Locale.ROOT) else key
            if (norm.nonEmpty) {
              if (db.caseInsensitive && norm.exists(_ >= 128)) anyToken = true
              else words += norm
            }
          case "glob" =>
            val pat = IntelDb.classify(m.entry) match {
              case Some(IntelDb.GlobEntry(p)) => p
              case _                          => m.entry
            }
            Glob.parse(pat, db.caseInsensitive) match {
              case Right(g) if g.prefilter.nonEmpty &&
                  !ProbeKey.hasUnpairedSurrogate(g.prefilter) =>
                words += (if (db.caseInsensitive) Glob.asciiLower(g.prefilter)
                          else g.prefilter)
              case _ => anyToken = true
            }
        }
      }
    }
    // IP anchors derive from the unified 128-bit MATCH space, never the
    // entry's notation family: LpmIndex looks every candidate up
    // family-blind (IPv4 at ::ffff:a.b.c.d), so a db holding only the
    // v6-notation `::/0` still matches IPv4 text, and a v4-notation CIDR
    // (stored at ::ffff:x/96+len) is reachable from IPv6 text like
    // `::ffff:102:304`. Hence: the IPv4 anchor is needed iff ANY CIDR's
    // range intersects the v4-mapped /96; the IPv6 anchor iff ANY CIDR
    // exists at all (every stored range is reachable from some ::-form
    // text). The previous per-family derivation DROPPED matching turns —
    // e.g. `1.2.3.4` against a `::/0`-only db (round-5 review find).
    val cidrs = dbs.flatMap(_.entries.iterator
      .filter(_.entryType == "ip")
      .flatMap(m => IntelDb.classify(m.entry) match {
        case Some(IntelDb.IpEntry(c)) => Some(c)
        case _                        => None
      }))
    val v6Real = cidrs.nonEmpty
    val v4Real = cidrs.exists(Cidr.intersectsV4Mapped)
    val ci = dbs.exists(_.caseInsensitive)
    // with the fold active globally, words from case-SENSITIVE dbs must be
    // stored folded too — that widens their screen to case-insensitive
    // (passes more turns: still a sound superset filter)
    val normWords =
      (if (ci) words.toArray.map(Glob.asciiLower) else words.toArray).distinct
    new CleanPreScreen(AhoCorasick.build(normWords.map(ProbeKey.encode)),
      anyToken, v4Real, v6Real, ci)
  }
}
