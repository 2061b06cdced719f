package graft.intel

/** Glob pattern matching with the reference's grammar and semantics
  * (crates/matchy-paraglob/src/glob.rs:7-15, 138-420):
  *
  *  - `*` zero or more characters (backtracking, 100k step cap)
  *  - `?` exactly one character
  *  - `[abc]`, `[!abc]`/`[^abc]`, `[a-z]` character classes
  *  - `\x` escapes
  *  - anchored: the whole text must match
  *  - case-insensitive mode compares ASCII-case-insensitively
  *
  * Characters are Unicode code points (the reference iterates &str chars).
  */
object Glob {

  sealed trait Segment
  final case class Lit(s: String) extends Segment
  case object Star extends Segment
  case object Question extends Segment
  final case class CharClass(items: List[ClassItem], negated: Boolean)
      extends Segment
  sealed trait ClassItem
  final case class One(c: Int) extends ClassItem
  final case class Range(lo: Int, hi: Int) extends ClassItem

  final case class GlobPattern(pattern: String, segments: List[Segment],
      caseInsensitive: Boolean) {

    /** True when the pattern has no wildcard segments — paraglob matches
      * such patterns as SUBSTRING (paraglob_offset.rs:1152-1160).
      */
    val isPureLiteral: Boolean = segments.forall(_.isInstanceOf[Lit])

    /** Longest literal segment, used as a cheap contains() prefilter before
      * the backtracking verify (the AC-prefilter analog, SURVEY.md §4.1).
      */
    val prefilter: String = {
      val lits = segments.collect { case Lit(s) => s }
      if (lits.isEmpty) "" else lits.maxBy(_.length)
    }
    private val prefilterNorm =
      if (caseInsensitive) asciiLower(prefilter) else prefilter

    // simple shapes bypass the backtracking matcher entirely (the dominant
    // real-world glob forms; JFR: matchImpl re-scanned the text after the
    // contains() prefilter had already proven a *lit* match)
    private val shape: Int = {
      val s = segments match {
        case List(Star, Lit(_), Star) => 1 // contains(lit)
        case List(Lit(_), Star)       => 2 // startsWith(lit)
        case List(Star, Lit(_))       => 3 // endsWith(lit)
        case List(Lit(_), Star, Lit(_)) => 4 // prefix+suffix, no overlap
        case _                          => 0
      }
      // char-indexed startsWith/endsWith only agrees with the codepoint-
      // aligned matcher when the literals carry no surrogate halves
      val surrogateFree = segments.forall {
        case Lit(l) => l.forall(c => c < 0xD800 || c > 0xDFFF)
        case _      => true
      }
      if (surrogateFree) s else 0
    }
    private val shapeLits: Array[String] = {
      val lits = segments.collect { case Lit(s) =>
        if (caseInsensitive) asciiLower(s) else s
      }
      lits.toArray
    }

    /** Paraglob semantics for one pattern: pure literals match as substring;
      * anything else is an anchored glob match.
      */
    def matches(text: String): Boolean = {
      if (prefilterNorm.nonEmpty) {
        val hay = if (caseInsensitive) asciiLower(text) else text
        if (!hay.contains(prefilterNorm)) return false
        if (isPureLiteral) return true
        shape match {
          case 1 => return true // *lit*: the contains() above IS the match
          case 2 => return hay.startsWith(shapeLits(0))
          case 3 => return hay.endsWith(shapeLits(0))
          case 4 => return hay.length >= shapeLits(0).length + shapeLits(1).length &&
            hay.startsWith(shapeLits(0)) && hay.endsWith(shapeLits(1))
          case _ =>
        }
      } else if (isPureLiteral) {
        // segments == Nil, possible only via a hand-built GlobPattern:
        // parse() rejects the empty pattern (mirroring the reference's
        // InvalidPattern — paraglob_offset.rs:63-65), so indexed patterns
        // never take this branch
        return true
      }
      val steps = new Steps(100000)
      matchImpl(text, 0, segments, steps)
    }

    /** Anchored glob match only (no substring rule) — the verifier used
      * when a glob candidate needs full confirmation.
      */
    def matchesAnchored(text: String): Boolean = {
      val steps = new Steps(100000)
      matchImpl(text, 0, segments, steps)
    }

    /** Verdict of the simple shapes on the UTF-8 bytes of a text whose
      * literal segments are ALL PROVEN substrings (the GlobIndex AC path
      * establishes exactly that before calling — its meta-words are the
      * patterns' literal segments), so no contains() prefilter runs and no
      * String is needed. `hay` is the CI-folded encoding (the raw one in
      * case-sensitive mode). Returns 1 on a match, 0 on none and -1 when
      * the pattern is not a simple shape: the caller then decodes the text
      * and runs [[matchesAnchored]]. Byte-level starts/ends agree with the
      * char-level ones because simple-shape literals are surrogate-free
      * and UTF-8 is self-synchronizing.
      */
    def provenShape(hay: Array[Byte], from: Int, len: Int): Int = {
      if (isPureLiteral) return 1
      val ok = shape match {
        case 1 => true // *lit*: substring presence IS the match
        case 2 => startsWith(hay, from, len, shapeBytes(0))
        case 3 => endsWith(hay, from, len, shapeBytes(0))
        case 4 => len >= shapeBytes(0).length + shapeBytes(1).length &&
          startsWith(hay, from, len, shapeBytes(0)) &&
          endsWith(hay, from, len, shapeBytes(1))
        case _ => return -1
      }
      if (ok) 1 else 0
    }
    private val shapeBytes: Array[Array[Byte]] = shapeLits.map(ProbeKey.encode)

    private def matchImpl(text: String, pos0: Int, segs: List[Segment],
        steps: Steps): Boolean = {
      if (steps.n == 0) return false
      steps.n -= 1
      segs match {
        case Nil => pos0 >= text.length
        case Lit(lit) :: rest =>
          if (caseInsensitive) {
            // ASCII-case-insensitive compare, code point by code point
            var tp = pos0
            var lp = 0
            while (lp < lit.length) {
              if (tp >= text.length) return false
              val tc = text.codePointAt(tp)
              val lc = lit.codePointAt(lp)
              if (asciiLowerCp(tc) != asciiLowerCp(lc)) return false
              tp += Character.charCount(tc)
              lp += Character.charCount(lc)
            }
            matchImpl(text, tp, rest, steps)
          } else {
            if (text.startsWith(lit, pos0)) matchImpl(text, pos0 + lit.length, rest, steps)
            else false
          }
        case Question :: rest =>
          if (pos0 >= text.length) false
          else matchImpl(text, pos0 + Character.charCount(text.codePointAt(pos0)), rest, steps)
        case (cc: CharClass) :: rest =>
          if (pos0 >= text.length) false
          else {
            val ch = text.codePointAt(pos0)
            val in = cc.items.exists {
              case One(c) =>
                ch == c || (caseInsensitive &&
                  asciiLowerCp(ch) == asciiLowerCp(c))
              case Range(lo, hi) =>
                // CI ranges keep their RAW bounds and test the char plus
                // its ASCII case sibling against them (fnmatch CASEFOLD
                // semantics). Folding each bound independently corrupted
                // ranges spanning the case/non-letter boundary: "[A-_]"
                // (65-95) folded to the EMPTY range (97, 95) — dropping
                // real matches — and "[?-Z]" folded to (63, 122), newly
                // matching the never-included 91-96 block (round-5 fix).
                (ch >= lo && ch <= hi) || (caseInsensitive && {
                  val sib = asciiSwapCp(ch)
                  sib != ch && sib >= lo && sib <= hi
                })
            }
            if (in != cc.negated)
              matchImpl(text, pos0 + Character.charCount(ch), rest, steps)
            else false
          }
        case Star :: rest =>
          if (rest.isEmpty) return true
          var pos = pos0
          while (true) {
            if (matchImpl(text, pos, rest, steps)) return true
            if (pos >= text.length) return false
            pos += Character.charCount(text.codePointAt(pos))
          }
          false
      }
    }
  }

  private final class Steps(var n: Int)

  private def startsWith(b: Array[Byte], from: Int, len: Int,
      lit: Array[Byte]): Boolean =
    len >= lit.length && ProbeKey.equal(b, from, lit, 0, lit.length)

  private def endsWith(b: Array[Byte], from: Int, len: Int,
      lit: Array[Byte]): Boolean =
    len >= lit.length &&
      ProbeKey.equal(b, from + len - lit.length, lit, 0, lit.length)

  @inline private def asciiLowerCp(c: Int): Int =
    if (c >= 'A' && c <= 'Z') c + 32 else c

  /** The ASCII case sibling: 'A'<->'a'. Identity for non-letters. */
  @inline private def asciiSwapCp(c: Int): Int =
    if (c >= 'A' && c <= 'Z') c + 32
    else if (c >= 'a' && c <= 'z') c - 32
    else c
  private[intel] def asciiLower(s: String): String = {
    var i = 0
    var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i); if (c >= 'A' && c <= 'Z') needs = true; i += 1
    }
    if (!needs) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        i += 1
      }
      sb.toString
    }
  }

  /** Parse a glob pattern; Left(error) on malformed input. Grammar and
    * error cases mirror glob.rs:303-420 (unclosed class, empty class,
    * inverted range, trailing backslash) plus the paraglob builder's
    * empty-pattern rejection (paraglob_offset.rs:63-65) — an empty pattern
    * would otherwise parse to zero segments and match EVERY string (no
    * literal prefilter, pure-literal-over-Nil substring rule), turning one
    * malformed feed row into a match on every extracted candidate.
    */
  def parse(pattern: String, caseInsensitive: Boolean = false)
      : Either[String, GlobPattern] = {
    if (pattern.isEmpty) return Left("Empty pattern")
    val segs = List.newBuilder[Segment]
    val lit = new java.lang.StringBuilder
    def flush(): Unit =
      if (lit.length > 0) { segs += Lit(lit.toString); lit.setLength(0) }

    val cps = pattern.codePoints().toArray
    var i = 0
    while (i < cps.length) {
      cps(i) match {
        case '*' => flush(); segs += Star; i += 1
        case '?' => flush(); segs += Question; i += 1
        case '[' =>
          flush()
          i += 1
          var negated = false
          if (i < cps.length && (cps(i) == '!' || cps(i) == '^')) {
            negated = true; i += 1
          }
          val items = List.newBuilder[ClassItem]
          var itemCount = 0
          var prev: Int = -1
          var expectRangeEnd = false
          var closed = false
          while (!closed) {
            if (i >= cps.length) return Left("Unclosed character class")
            val c = cps(i)
            i += 1
            if (c == ']' && (itemCount > 0 || prev >= 0)) {
              if (prev >= 0) { items += One(prev); itemCount += 1 }
              closed = true
            } else if (c == '-' && prev >= 0 && i < cps.length && cps(i) != ']') {
              expectRangeEnd = true
            } else if (expectRangeEnd) {
              val start = prev
              if (start > c) return Left(s"Invalid character range")
              items += Range(start, c); itemCount += 1
              prev = -1
              expectRangeEnd = false
            } else {
              if (prev >= 0) { items += One(prev); itemCount += 1 }
              prev = c
            }
          }
          if (itemCount == 0) return Left("Empty character class")
          segs += CharClass(items.result(), negated)
        case '\\' =>
          i += 1
          if (i >= cps.length) return Left("Trailing backslash in pattern")
          lit.appendCodePoint(cps(i))
          i += 1
        case c =>
          lit.appendCodePoint(c)
          i += 1
      }
    }
    flush()
    Right(GlobPattern(pattern, segs.result(), caseInsensitive))
  }

  def isValid(pattern: String): Boolean = parse(pattern).isRight
}
