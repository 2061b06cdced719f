package graft.intel

import org.scalatest.funsuite.AnyFunSuite

/** The AC-prefiltered GlobIndex must return EXACTLY what a brute-force
  * verify-all scan returns — the prefilter is a sound candidate filter
  * (every literal segment of a matching pattern must occur in the text),
  * never a semantic change.
  */
class GlobIndexSpec extends AnyFunSuite {

  private def bruteForce(globs: Seq[(String, Int)], ci: Boolean,
      value: String): Array[Int] =
    globs.flatMap { case (pat, idx) =>
      Glob.parse(pat, ci).toOption
        .filter(_.matches(value)).map(_ => idx)
    }.distinct.sorted.toArray

  private val patterns: Seq[(String, Int)] = Seq(
    "*.evil-glob.net" -> 0,
    "mal[0-9].example.com" -> 1,
    "*c2*" -> 2, // pure wildcard + literal core
    "err?r-*" -> 3, // ? splits the literal into two words
    "paraglob-sub" -> 4, // pure literal => substring
    "*seg1a*seg1b*" -> 5, // two required words
    "*seg1a*seg9x*" -> 6, // shares word seg1a with 5
    "[abc]start*" -> 7, // leading class, word = "start"
    "*" -> 8, // matches everything, no words
    "???" -> 9, // no words, length 3 only
    "over*lap" -> 10,
    "aa*aa" -> 11 // duplicate word in one pattern
  )

  private val texts = Seq(
    "host1.evil-glob.net", "mal3.example.com", "my-c2-server",
    "error-404", "xx-paraglob-sub-yy", "pre seg1a mid seg1b post",
    "pre seg1a mid seg9x post", "astartled", "bstart", "abc", "overlap",
    "over-and-lap", "aaaa", "aaa", "xaax", "nothing to see",
    "ERR0R-CAPS", "MAL3.EXAMPLE.COM", "")

  test("AC-prefiltered findAll == brute force, case-sensitive") {
    val idx = GlobIndex.build(patterns, caseInsensitive = false)
    for (t <- texts)
      assert(idx.findAll(t).toSeq == bruteForce(patterns, ci = false, t).toSeq,
        s"text: '$t'")
  }

  test("AC-prefiltered findAll == brute force, case-insensitive") {
    val idx = GlobIndex.build(patterns, caseInsensitive = true)
    for (t <- texts)
      assert(idx.findAll(t).toSeq == bruteForce(patterns, ci = true, t).toSeq,
        s"text: '$t'")
  }

  test("word-less pattern set: every pattern verified, same as brute force") {
    val wordless = Seq("*" -> 0, "???" -> 1, "[ab]?" -> 2)
    for (ci <- Seq(false, true)) {
      val idx = GlobIndex.build(wordless, caseInsensitive = ci)
      for (t <- texts ++ Seq("ax", "Bz", "b", "abcd"))
        assert(idx.findAll(t).toSeq == bruteForce(wordless, ci, t).toSeq,
          s"text: '$t', ci: $ci")
    }
  }

  test("randomized equivalence sweep (deterministic seeds)") {
    val alphabet = "abcx.*-"
    def synth(seed: Long, len: Int): String = {
      val sb = new StringBuilder
      var s = seed
      for (_ <- 0 until len) {
        s = graft.pipeline.Fixtures.mix(s)
        sb.append(alphabet(((s >>> 7) % alphabet.length).toInt.abs))
      }
      sb.toString
    }
    // synthesize glob patterns from the same alphabet (incl. * and -)
    val pats = (0 until 60).flatMap { i =>
      val raw = synth(i * 31L + 5, 3 + (i % 6))
      Glob.parse(raw).toOption.map(_ => raw -> i)
    }
    val idx = GlobIndex.build(pats, caseInsensitive = false)
    for (j <- 0 until 300) {
      val t = synth(j * 17L + 11, j % 12)
      assert(idx.findAll(t).toSeq == bruteForce(pats, ci = false, t).toSeq,
        s"text: '$t'")
    }
  }
}
