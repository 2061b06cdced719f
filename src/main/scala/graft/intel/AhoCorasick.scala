package graft.intel

/** Aho-Corasick multi-pattern substring automaton over bytes — the
  * prefilter core of the paraglob structure (reference:
  * crates/matchy-paraglob, which compiles pattern meta-words into an AC
  * automaton and glob-verifies only candidate patterns; SURVEY.md §4.1).
  * Words and texts are UTF-8 ([[ProbeKey]] encoding), so the walk runs on a
  * candidate's bytes where they lie. The one automaton of the engine:
  * [[GlobIndex]] collects the words found in a key ([[findWords]]), and
  * [[CleanPreScreen]] drives [[step]] itself, fused with its IP anchors,
  * and stops at the first [[isMatch]].
  *
  * Build: trie + BFS fail links, per-node output lists merged through the
  * fail chain (so probing never walks fail links for outputs). Probe:
  * goto/fail walk, O(text + matches).
  *
  * The root's transitions are one dense 256-entry row: most bytes of a
  * text start no word, so the walk sits at the root and a step there is
  * one array read. The other nodes' transitions live in one
  * open-addressing long->int table keyed by (node << 8 | byte) — no
  * per-node maps, no boxing on the probe path.
  */
final class AhoCorasick private (
    root: Array[Int],
    keys: Array[Long],
    vals: Array[Int],
    mask: Int,
    fail: Array[Int],
    out: Array[Array[Int]],
    val nWords: Int
) extends Serializable {

  /** True when byte `c` starts some word (leaves the root). */
  def startsWord(c: Int): Boolean = root(c) != 0

  /** True when some word ends at `state` or on its fail chain (the output
    * lists are merged down the fail chain at build time).
    */
  def isMatch(state: Int): Boolean = out(state).length != 0

  /** The goto/fail transition on byte `c`; at the root it is `root(c)`. */
  @inline def step(state: Int, c: Int): Int = {
    var s = state
    while (s != 0) {
      val key = (s.toLong << 8) | c
      var idx = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
      while (keys(idx) != -1L) {
        if (keys(idx) == key) return vals(idx)
        idx = (idx + 1) & mask
      }
      s = fail(s)
    }
    root(c)
  }

  /** Walk text[from, from + len), stamping found word ids into `seen` with
    * `gen` (a generation-stamped scratch: seen(w) == gen means found).
    * Returns the number of DISTINCT words found and appends their ids to
    * `foundIds`.
    */
  def findWords(text: Array[Byte], from: Int, len: Int, seen: Array[Int],
      gen: Int, foundIds: Array[Int]): Int = {
    var n = 0
    var state = 0
    var i = from
    val end = from + len
    while (i < end) {
      if (state == 0) {
        // at the root: skip the bytes that start no word, one read each
        while (i < end && root(text(i) & 0xff) == 0) i += 1
        if (i == end) return n
      }
      state = step(state, text(i) & 0xff)
      val os = out(state)
      var j = 0
      while (j < os.length) {
        val w = os(j)
        if (seen(w) != gen) {
          seen(w) = gen
          foundIds(n) = w
          n += 1
        }
        j += 1
      }
      i += 1
    }
    n
  }
}

object AhoCorasick {

  /** Build from distinct non-empty words; word i gets id i. With no words
    * the root row is all zero, so no walk finds anything.
    */
  def build(words: Array[Array[Byte]]): AhoCorasick = {
    // trie with per-node HashMap (construction only)
    val trans = new scala.collection.mutable.ArrayBuffer[java.util.HashMap[Integer, Integer]]()
    val outB = new scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]]()
    def newNode(): Int = {
      trans += new java.util.HashMap[Integer, Integer]()
      outB += new scala.collection.mutable.ArrayBuffer[Int](1)
      trans.length - 1
    }
    newNode() // root
    var w = 0
    while (w < words.length) {
      val word = words(w)
      var s = 0
      var i = 0
      while (i < word.length) {
        val c = Integer.valueOf(word(i) & 0xff)
        val nxt = trans(s).get(c)
        s = if (nxt != null) nxt.intValue()
        else { val n = newNode(); trans(s).put(c, Integer.valueOf(n)); n }
        i += 1
      }
      outB(s) += w
      w += 1
    }
    val n = trans.length
    val fail = new Array[Int](n)
    // BFS fail links + output merging
    val queue = new java.util.ArrayDeque[Integer]()
    trans(0).forEach { (_, v) => queue.add(v) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      trans(u).forEach { (c, v) =>
        queue.add(v)
        var f = fail(u)
        var nxt = trans(f).get(c)
        while (nxt == null && f != 0) { f = fail(f); nxt = trans(f).get(c) }
        val fv = if (nxt != null && nxt.intValue() != v.intValue())
          nxt.intValue() else 0
        fail(v.intValue()) = fv
        outB(v.intValue()) ++= outB(fv)
      }
    }
    val root = new Array[Int](256)
    trans(0).forEach { (c, v) => root(c.intValue()) = v.intValue() }
    // flatten the other nodes' transitions into one open-addressing table
    var nEdges = 0
    var s = 1
    while (s < n) { nEdges += trans(s).size(); s += 1 }
    var cap = 16
    while (cap < nEdges * 2) cap <<= 1
    val keys = Array.fill[Long](cap)(-1L)
    val vals = new Array[Int](cap)
    val mask = cap - 1
    s = 1
    while (s < n) {
      val st = s
      trans(s).forEach { (c, v) =>
        val key = (st.toLong << 8) | c.intValue()
        var idx = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
        while (keys(idx) != -1L) idx = (idx + 1) & mask
        keys(idx) = key
        vals(idx) = v.intValue()
      }
      s += 1
    }
    val out = outB.map(b => if (b.isEmpty) EMPTY else b.toArray).toArray
    new AhoCorasick(root, keys, vals, mask, fail, out, words.length)
  }

  private val EMPTY = Array.emptyIntArray
}
