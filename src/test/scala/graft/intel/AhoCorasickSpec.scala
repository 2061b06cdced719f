package graft.intel

import org.scalatest.funsuite.AnyFunSuite

/** The byte automaton against a naive `indexOf` over every word: the set
  * of words `findWords` reports, and the first position at which a walk of
  * `step` reaches `isMatch` (the earliest end of any occurrence).
  */
class AhoCorasickSpec extends AnyFunSuite {

  private def indexOf(text: Array[Byte], word: Array[Byte]): Int =
    (0 to text.length - word.length).find { i =>
      word.indices.forall(j => text(i + j) == word(j))
    }.getOrElse(-1)

  private def naiveWords(words: Array[Array[Byte]], text: Array[Byte]): Set[Int] =
    words.indices.filter(w => indexOf(text, words(w)) >= 0).toSet

  private def naiveFirstEnd(words: Array[Array[Byte]], text: Array[Byte]): Int = {
    val ends = words.flatMap { w =>
      val i = indexOf(text, w)
      if (i < 0) None else Some(i + w.length - 1)
    }
    if (ends.isEmpty) -1 else ends.min
  }

  private def found(ac: AhoCorasick, text: Array[Byte], from: Int,
      len: Int): Set[Int] = {
    val seen = new Array[Int](ac.nWords)
    val ids = new Array[Int](ac.nWords)
    val n = ac.findWords(text, from, len, seen, 1, ids)
    val out = ids.take(n).toSet
    assert(out.size == n, "a word was reported twice")
    out
  }

  private def firstMatch(ac: AhoCorasick, text: Array[Byte]): Int = {
    var state = 0
    var i = 0
    while (i < text.length) {
      state = ac.step(state, text(i) & 0xff)
      if (ac.isMatch(state)) return i
      i += 1
    }
    -1
  }

  private def check(words: Array[Array[Byte]], texts: Seq[Array[Byte]]): Unit = {
    val ac = AhoCorasick.build(words)
    assert(ac.nWords == words.length)
    (0 until 256).foreach { b =>
      assert(ac.startsWord(b) == words.exists(_.headOption.exists(h => (h & 0xff) == b)))
    }
    texts.foreach { t =>
      val show = t.map(b => f"${b & 0xff}%02x").mkString(" ")
      assert(found(ac, t, 0, t.length) == naiveWords(words, t), s"text: $show")
      assert(firstMatch(ac, t) == naiveFirstEnd(words, t), s"text: $show")
      // a walk over an inner slice sees only that slice
      if (t.length > 2) {
        val inner = t.slice(1, t.length - 1)
        assert(found(ac, t, 1, t.length - 2) == naiveWords(words, inner),
          s"inner of: $show")
      }
    }
  }

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("he/she/his/hers: outputs reached through fail links") {
    val words = Array("he", "she", "his", "hers").map(bytes)
    check(words, Seq("ushers", "she", "hishe", "hhers", "ahishers", "sh",
      "h", "", "xyz", "shis", "hehe").map(bytes))
    // "she" ends at 'e' (index 3); "he" rides its fail link there
    val ac = AhoCorasick.build(words)
    assert(found(ac, bytes("ushe"), 0, 4) == Set(0, 1))
  }

  test("words that share prefixes") {
    val words = Array("abc", "abd", "ab", "abcde", "b", "bcd").map(bytes)
    check(words, Seq("abcde", "xabdx", "aab", "abce", "bc", "cdab", "a",
      "zzz", "abcdabd", "bbcd").map(bytes))
  }

  test("an empty word list finds nothing") {
    val ac = AhoCorasick.build(Array.empty)
    assert(ac.nWords == 0)
    assert((0 until 256).forall(b => !ac.startsWord(b)))
    check(Array.empty, Seq("", "anything", "été").map(bytes))
  }

  test("seeded random words over a 3-byte alphabet plus a byte >= 0x80") {
    val alphabet = Array('a'.toByte, 'b'.toByte, 'c'.toByte, 0xc3.toByte)
    var s = 0x5eedL
    def next(n: Int): Int = {
      s = graft.pipeline.Fixtures.mix(s)
      ((s >>> 11) % n).toInt.abs
    }
    def word(maxLen: Int): Array[Byte] =
      Array.fill(1 + next(maxLen))(alphabet(next(alphabet.length)))
    for (_ <- 0 until 40) {
      val words = Array.fill(1 + next(12))(word(5))
        .map(_.toSeq).distinct.map(_.toArray)
      val texts = Seq.fill(30)(Array.fill(next(20))(alphabet(next(alphabet.length))))
      check(words, texts)
    }
  }
}
