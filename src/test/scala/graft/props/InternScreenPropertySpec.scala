package graft.props

import graft.functions.ExtractIoCs
import graft.intel.{CleanPreScreen, IntelDb}
import graft.model.IntelEntry
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property suites for the round-4 hot-path structures whose failure mode
  * is a silently WRONG value (not a crash): the per-thread value-intern
  * caches (a broken compare would emit a colliding cached string as the
  * matched value) and the byte-level clean-turn pre-screen (an unsound
  * reject silently drops a real match).
  */
class InternScreenPropertySpec extends AnyFunSuite {

  private def checkProp(name: String, p: Prop, min: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, PropReport(s"$name failed: ${res.status}"))
  }

  // adversarial generator: values drawn from a SMALL alphabet and length
  // band so the 2048-slot direct-mapped cache sees constant collisions
  private val smallToken: Gen[String] =
    Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', '1', '.')).map(_.mkString))

  test("internSpan returns exactly the span bytes under heavy collision") {
    checkProp("intern-span", Prop.forAllNoShrink(
      Gen.listOfN(200, smallToken)) { tokens =>
      val scr = new ExtractIoCs.RowScratch
      tokens.forall { t =>
        val bytes = ("x" + t + "y").getBytes("UTF-8")
        val u = ExtractIoCs.internSpan(scr, bytes, 1, bytes.length - 1)
        u.toString == t
      }
    })
  }

  test("internString returns the exact string; shares slots with spans") {
    checkProp("intern-string", Prop.forAllNoShrink(
      Gen.listOfN(200, smallToken)) { tokens =>
      val scr = new ExtractIoCs.RowScratch
      tokens.forall { t =>
        val viaString = ExtractIoCs.internString(scr, t)
        val bytes = t.getBytes("UTF-8")
        val viaSpan = ExtractIoCs.internSpan(scr, bytes, 0, bytes.length)
        viaString.toString == t && viaSpan.toString == t
      }
    })
  }

  test("internString: non-ASCII falls back without corruption") {
    checkProp("intern-nonascii", Prop.forAllNoShrink(
      Gen.listOfN(50, Gen.oneOf("über", "naïve.com", "日本", "a", "ü"))) { ts =>
      val scr = new ExtractIoCs.RowScratch
      ts.forall(t => ExtractIoCs.internString(scr, t).toString == t)
    })
  }

  // --- pre-screen soundness: a turn the pipeline matches must pass the
  // screen, for RANDOM feeds (every entry class) and random texts that
  // embed feed values at random positions.
  private val feedGen: Gen[Seq[IntelEntry]] = {
    val lit = Gen.oneOf("evil.com", "EVIL.org", "abc.example.com",
      "5d41402abc4b2a76b9719d911017c592")
    val glob = Gen.oneOf("*.bad.net", "mal[0-9].x.com", "*core*", "err-*",
      "*.suffix.io", "*evil\uD83D*")
    val ip = Gen.oneOf("192.0.2.0/24", "10.1.2.3", "2001:db8::/48")
    Gen.listOfN(4, Gen.oneOf(lit, glob, ip))
      .map(_.distinct.map(e => IntelEntry(e, "high", "t", "s", 90)))
  }
  private val fillers = Vector("the", "quick", "relay", "node", "ok",
    "cache", "10.1.2.3", "x.bad.net", "mal7.x.com", "evil.com", "a-core-b",
    "err-77", "2001:db8::1", "sub.abc.example.com", "web.suffix.io",
    "5d41402abc4b2a76b9719d911017c592", "clean.example.net", "192.0.2.55",
    "evil\uD83D\uDE00.com")
  private val textGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(fillers)).map(_.mkString(" ")))

  test("prescreen soundness: matched turn always passes (random feeds/texts)") {
    checkProp("screen-sound", Prop.forAllNoShrink(
      feedGen, Gen.oneOf(true, false), Gen.listOfN(60, textGen)) {
      (feed, ci, texts) =>
        val db = IntelDb.build("t", feed, caseInsensitive = ci)
        val screen = CleanPreScreen.build(Seq(db))
        texts.forall { text =>
          val turn = graft.model.Turn("c", 0, "user", text, "",
            new java.sql.Timestamp(0L))
          val matched =
            graft.oracle.Oracle.matched(Seq(turn), Seq(db)).nonEmpty
          val passes = screen.mightMatch(text.getBytes("UTF-8"))
          !matched || passes
        }
    }, min = 200)
  }
}
