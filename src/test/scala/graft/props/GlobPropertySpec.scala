package graft.props

import graft.intel.Glob
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based equivalence of the glob matcher against an independent
  * java.util.regex translation (SURVEY.md §5; the reference fuzzes glob
  * parsing/matching with cargo-fuzz, fuzz/fuzz_targets/). Patterns are
  * generated as SEGMENT LISTS and rendered to both a glob string and an
  * anchored regex independently, so a bug in Glob.parse or in the
  * backtracking matcher shows up as a disagreement.
  *
  * scalatestplus is not in the offline cache, so properties run through
  * scalacheck's own Test.check with a fixed seed policy (scalacheck seeds
  * randomly per run; 300 cases x 2 texts give broad coverage every run).
  */
class GlobPropertySpec extends AnyFunSuite {

  private def checkProp(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, PropReport(s"$name failed: ${res.status}"))
  }

  private sealed trait Seg
  private case class Lit(s: String) extends Seg
  private case object Star extends Seg
  private case object Question extends Seg
  private case class Cls(chars: Seq[Char], negated: Boolean) extends Seg
  private case class Rng(lo: Char, hi: Char, negated: Boolean) extends Seg

  private val litChar = Gen.oneOf("abcde.xZ-".toSeq)
  private val clsChar = Gen.oneOf("abcdexZ".toSeq)
  // range bounds deliberately STRADDLE the letter/non-letter boundaries
  // ('?' 63 < 'A'..'Z' < '_' 95 < 'a'..'z') — CI ranges spanning them are
  // where fold-the-bounds implementations break (round-5 fix)
  private val rngChar = Gen.oneOf("?AKZ_akz".toSeq)

  private val segGen: Gen[Seg] = Gen.frequency(
    4 -> Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, litChar).map(cs => Lit(cs.mkString))),
    2 -> Gen.const(Star),
    2 -> Gen.const(Question),
    1 -> (for {
      n <- Gen.choose(1, 3)
      cs <- Gen.listOfN(n, clsChar)
      neg <- Gen.oneOf(true, false)
    } yield Cls(cs.distinct, neg)),
    1 -> (for {
      a <- rngChar; b <- rngChar
      neg <- Gen.oneOf(true, false)
    } yield Rng(if (a <= b) a else b, if (a <= b) b else a, neg))
  )

  private val patternGen: Gen[List[Seg]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, segGen))

  private def renderGlob(segs: List[Seg]): String = segs.map {
    case Lit(s) => s
    case Star => "*"
    case Question => "?"
    case Cls(cs, neg) => "[" + (if (neg) "!" else "") + cs.mkString + "]"
    case Rng(lo, hi, neg) => "[" + (if (neg) "!" else "") + lo + "-" + hi + "]"
  }.mkString

  /** Independent translation: segments -> anchored java regex. */
  private def renderRegex(segs: List[Seg], flags: Int = 0)
      : java.util.regex.Pattern = {
    val sb = new StringBuilder
    segs.foreach {
      case Lit(s) => sb.append(java.util.regex.Pattern.quote(s))
      case Star => sb.append(".*")
      case Question => sb.append(".")
      case Cls(cs, neg) =>
        sb.append("[").append(if (neg) "^" else "")
        cs.foreach { c =>
          if (Character.isLetterOrDigit(c)) sb.append(c)
          else sb.append("\\").append(c)
        }
        sb.append("]")
      case Rng(lo, hi, neg) =>
        def esc(c: Char): String =
          if (Character.isLetterOrDigit(c)) c.toString else "\\" + c
        sb.append("[").append(if (neg) "^" else "")
          .append(esc(lo)).append("-").append(esc(hi)).append("]")
    }
    java.util.regex.Pattern.compile(sb.toString,
      java.util.regex.Pattern.DOTALL | flags)
  }

  private val textGen: Gen[String] =
    Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abcdex.Z-?*".toSeq)).map(_.mkString))

  /** Text likely to match: instantiate the pattern's wildcards. */
  private def positiveText(segs: List[Seg], seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    segs.map {
      case Lit(s) => s
      case Star => Seq("", "a", "xyz", "a.b")(rnd.nextInt(4))
      case Question => "abcz".charAt(rnd.nextInt(4)).toString
      case Cls(cs, false) => cs(rnd.nextInt(cs.length)).toString
      case Cls(_, true) => "q"
      case Rng(lo, hi, false) => ((lo + hi) / 2).toChar.toString
      case Rng(_, _, true) => "q"
    }.mkString
  }

  test("glob matchesAnchored == anchored regex (random patterns x texts)") {
    checkProp("glob-vs-regex",
      Prop.forAllNoShrink(patternGen, textGen, Gen.long) {
        (segs, text, seed) =>
          val glob = renderGlob(segs)
          val parsed = Glob.parse(glob)
          val rx = renderRegex(segs)
          parsed.isRight && Seq(text, positiveText(segs, seed)).forall { t =>
            parsed.toOption.get.matchesAnchored(t) == rx.matcher(t).matches()
          }
      })
  }

  test("case-insensitive glob == CASE_INSENSITIVE regex") {
    val mixedText = Gen.choose(0, 16).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aAbBcCdDeExXzZ._?^{K".toSeq)).map(_.mkString))
    checkProp("glob-ci-vs-regex",
      Prop.forAllNoShrink(patternGen, mixedText) { (segs, text) =>
        val glob = renderGlob(segs)
        val parsed = Glob.parse(glob, caseInsensitive = true)
        val rx = renderRegex(segs,
          java.util.regex.Pattern.CASE_INSENSITIVE)
        parsed.isRight &&
          parsed.toOption.get.matchesAnchored(text) == rx.matcher(text).matches()
      })
  }

  test("paraglob substring rule: pure-literal pattern matches iff contained") {
    val lit = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, litChar).map(_.mkString))
    checkProp("pure-literal-substring",
      Prop.forAllNoShrink(lit, textGen) { (l, text) =>
        val p = Glob.parse(l).toOption.get
        p.isPureLiteral && p.matches(text) == text.contains(l)
      })
  }
}
