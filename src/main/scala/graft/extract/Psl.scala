package graft.extract

import java.nio.charset.StandardCharsets

/** Public-suffix snapshot used for domain/email TLD validation.
  *
  * Mirrors the reference's compile-time-embedded PSL behavior
  * (crates/matchy-extractor/src/lib.rs:1546-1563, 1671-1692): suffixes are
  * compared byte-exact (so only lowercase TLDs validate), the suffix walk
  * goes right-to-left over dots and accepts the first PSL hit, and the
  * entry file format skips blank lines and `//` comments.
  *
  * The snapshot at `graft/psl_snapshot.dat` is the reference's full PSL
  * file vendored byte-for-byte (10,496 lines, Mozilla Public Suffix List,
  * MPL-2.0, crates/matchy-extractor/src/data/public_suffix_list.dat) —
  * md5 6aa29e437a9e742d1bbca03f66bc7910. Wildcard lines (`*.foo`) are
  * stored as literal strings exactly like the reference does, which makes
  * them inert for matching (no real label equals "*") — intentional parity,
  * not an oversight.
  */
object Psl {

  /** Suffixes as ISO-8859-1-decoded strings: one char per byte, so string
    * equality == byte equality, including UTF-8 suffixes.
    */
  val suffixes: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String](4096)
    val in = getClass.getResourceAsStream("/graft/psl_snapshot.dat")
    require(in != null, "psl_snapshot.dat missing from resources")
    val src = scala.io.Source.fromInputStream(in)(
      scala.io.Codec(StandardCharsets.UTF_8))
    try {
      src.getLines().foreach { raw =>
        val line = raw.trim
        if (line.nonEmpty && !line.startsWith("//")) {
          val bytes = line.getBytes(StandardCharsets.UTF_8)
          set.add(new String(bytes, StandardCharsets.ISO_8859_1))
        }
      }
    } finally src.close()
    set
  }

  /** Zero-allocation byte-slice set: open-addressing table of byte
    * arrays, probed by hashing the candidate slice directly. The
    * String-per-dot probe through a HashSet was ~8% of scan CPU (JFR) —
    * every dot of every domain anchor allocated and hashed a fresh String.
    */
  private final class ByteSet(entries: Array[Array[Byte]]) {
    val maxLen: Int = entries.iterator.map(_.length).maxOption.getOrElse(0)
    private val mask: Int = {
      var c = 16
      while (c < entries.length * 2) c <<= 1
      c - 1
    }
    // entry number + 1 per slot, 0 = empty
    private val slot = new Array[Int](mask + 1)
    entries.indices.foreach { k =>
      val e = entries(k)
      var i = hashBytes(e, 0, e.length) & mask
      while (slot(i) != 0 && !java.util.Arrays.equals(entries(slot(i) - 1), e))
        i = (i + 1) & mask
      slot(i) = k + 1
    }

    @inline private def hashBytes(b: Array[Byte], from: Int, to: Int): Int = {
      var h = -2128831035 // FNV-1a
      var i = from
      while (i < to) { h = (h ^ (b(i) & 0xff)) * 16777619; i += 1 }
      h ^ (h >>> 16)
    }

    /** The number of the entry equal to bytes[from, to), or -1. */
    def indexOf(b: Array[Byte], from: Int, to: Int): Int = {
      val len = to - from
      var i = hashBytes(b, from, to) & mask
      while (slot(i) != 0) {
        val e = entries(slot(i) - 1)
        if (e.length == len) {
          var j = 0
          while (j < len && e(j) == b(from + j)) j += 1
          if (j == len) return slot(i) - 1
        }
        i = (i + 1) & mask
      }
      -1
    }
  }

  private def latin1(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  private val suffixSet = new ByteSet(suffixes.toArray(Array.empty[String]).map(latin1))

  /** The last label (the bytes after the last dot) of every suffix, in the
    * same one-char-per-byte form: the TLD gate's set.
    */
  private[extract] val lastLabels: java.util.Set[String] = {
    val set = new java.util.HashSet[String]()
    suffixes.forEach(s => set.add(s.substring(s.lastIndexOf('.') + 1)))
    set
  }
  private val labels = lastLabels.toArray(Array.empty[String])
  private val labelSet = new ByteSet(labels.map(latin1))
  // label k is itself a suffix: the walk's first probe, answered by the gate
  private val labelIsSuffix = labels.map(suffixes.contains)
  // the first bytes of the non-empty labels
  private val labelFirst: Array[Boolean] = {
    val t = new Array[Boolean](256)
    labels.foreach(l => if (l.nonEmpty) t(l.charAt(0).toInt) = true)
    t
  }

  /** Find the byte position (relative to `from`) of the dot introducing a
    * valid PSL suffix in bytes[from, to), walking right-to-left (shortest
    * suffix first — same walk as the reference's
    * find_valid_tld_suffix_bytes). Returns -1 if none.
    */
  def tldSuffixPos(bytes: Array[Byte], from: Int, to: Int): Int = {
    // TLD gate: every suffix the walk can accept ends in the span's last
    // label, so a last label that ends no PSL entry (a dotted quad's
    // digits, most non-domains) is a miss after a first-byte check or one
    // probe of the label set instead of a suffix probe per dot, and a
    // label that is itself an entry answers the walk's first probe. A
    // label longer than every last label ends no entry either, so the
    // search for the last dot is bounded.
    val minDot = math.max(from, to - 1 - labelSet.maxLen)
    var i = to - 1
    while (i >= minDot && bytes(i) != '.') i -= 1
    if (i < minDot || (i + 1 < to && !labelFirst(bytes(i + 1) & 0xff))) return -1
    val label = labelSet.indexOf(bytes, i + 1, to)
    if (label < 0) return -1
    if (labelIsSuffix(label)) return i - from
    // dots left of minI would introduce suffixes longer than any PSL entry
    // (the suffix always extends to `to`), so the leftward walk can stop
    val minI = math.max(from, to - 1 - suffixSet.maxLen)
    i -= 1
    while (i >= minI) {
      if (bytes(i) == '.' && suffixSet.indexOf(bytes, i + 1, to) >= 0)
        return i - from
      i -= 1
    }
    -1
  }
}
