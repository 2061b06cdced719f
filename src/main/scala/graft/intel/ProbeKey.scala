package graft.intel

import org.apache.spark.unsafe.Platform

import java.nio.charset.StandardCharsets

/** One string-path lookup key as UTF-8 bytes — what the literal table, the
  * glob prefilter and the L7 memo all probe with. The scan sets it straight
  * from a candidate's span in its text buffer (no String); the String APIs
  * encode into the key's own buffer. Mutable and reused: one per thread.
  *
  * Derived forms are computed once per key and shared by every database
  * probed with it: the 64-bit hash of the bytes ([[ProbeKey.hash]]; it
  * keys both the literal table and the L7 memo), the ASCII case fold (with
  * its own hash) for case-insensitive databases, and a decoded String,
  * built only when a glob needs the general matcher.
  *
  * Bytes set from a candidate span must be valid UTF-8 (the scanner
  * checks every non-ASCII span). Strings encode as UTF-8 except that an
  * unpaired surrogate takes the 3-byte form of its code unit, so the
  * encoding stays injective and byte equality is String equality.
  */
final class ProbeKey {
  private[intel] var bytes: Array[Byte] = ProbeKey.NoBytes
  private[intel] var from = 0
  private[intel] var len = 0
  private[intel] var hash = 0L
  private var own = new Array[Byte](64)
  private var text: String = _
  // ASCII fold of the bytes: 0 = not computed, 1 = all ASCII, 2 = some
  // non-ASCII byte (whose lowercase needs the String, see LiteralIndex)
  private var foldState = 0
  private[intel] var lower: Array[Byte] = new Array[Byte](64)
  private[intel] var lowerHash = 0L

  /** Key = bytes[start, end), valid UTF-8. */
  def set(b: Array[Byte], start: Int, end: Int): ProbeKey = {
    bytes = b; from = start; len = end - start
    text = null; foldState = 0
    hash = ProbeKey.hash(b, start, len)
    this
  }

  /** Key = the encoding of `s`. */
  def set(s: String): ProbeKey = {
    val need = ProbeKey.maxEncodedLength(s)
    if (own.length < need) own = new Array[Byte](need)
    bytes = own; from = 0; len = ProbeKey.encode(s, own)
    text = s; foldState = 0
    hash = ProbeKey.hash(own, 0, len)
    this
  }

  /** The key as a String (the caller's, or decoded once). */
  def string: String = {
    if (text == null) text = new String(bytes, from, len, StandardCharsets.UTF_8)
    text
  }

  /** Fold A-Z to a-z into `lower[0, len)`; true iff every byte is ASCII. */
  private[intel] def foldAscii(): Boolean = {
    if (foldState == 0) {
      if (lower.length < len) lower = new Array[Byte](len)
      var ascii = true
      var i = 0
      while (i < len) {
        val c = bytes(from + i)
        if (c < 0) ascii = false
        lower(i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        i += 1
      }
      lowerHash = ProbeKey.hash(lower, 0, len)
      foldState = if (ascii) 1 else 2
    }
    foldState == 1
  }

  /** True when the key's bytes equal b[start, start + n). */
  private[intel] def sameBytes(b: Array[Byte], start: Int, n: Int): Boolean =
    n == len && ProbeKey.equal(bytes, from, b, start, n)
}

object ProbeKey {
  private[intel] val NoBytes = new Array[Byte](0)
  private final val Seed = 0L

  private final val M = -0x61c8864680b583ebL // 2^64 / golden ratio, odd
  private val bigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  @inline private def mix(x: Long): Long = { val y = x * M; y ^ (y >>> 32) }

  // little-endian loads, so a table built in one JVM probes the same on any
  // executor
  @inline private def word(b: Array[Byte], off: Long): Long = {
    val w = Platform.getLong(b, off)
    if (bigEndian) java.lang.Long.reverseBytes(w) else w
  }
  @inline private def half(b: Array[Byte], off: Long): Long = {
    val w = Platform.getInt(b, off)
    (if (bigEndian) Integer.reverseBytes(w) else w) & 0xffffffffL
  }

  /** 64-bit hash of b[from, from + len): a multiply-xorshift over 8-byte
    * words (the last word overlaps the one before, so there is no byte
    * tail), the length mixed in, then a 64-bit finalizer. One multiply per
    * 8 bytes — about a third of XXH64's multiplies on the 20-60 byte keys
    * a scan produces.
    */
  def hash(b: Array[Byte], from: Int, len: Int): Long = {
    val base = Platform.BYTE_ARRAY_OFFSET.toLong + from
    var h = Seed ^ (len * M)
    if (len >= 8) {
      var i = 0
      while (i < len - 8) { h = mix(h ^ word(b, base + i)); i += 8 }
      h = mix(h ^ word(b, base + len - 8))
    } else if (len >= 4) {
      h = mix(h ^ ((half(b, base) << 32) | half(b, base + len - 4)))
    } else if (len > 0) {
      h = mix(h ^ ((b(from) & 0xffL) << 16 | (b(from + len / 2) & 0xffL) << 8 |
        (b(from + len - 1) & 0xffL)))
    }
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^ (h >>> 33)
  }

  /** a[aFrom, aFrom + len) == b[bFrom, bFrom + len), 8 bytes a step. */
  def equal(a: Array[Byte], aFrom: Int, b: Array[Byte], bFrom: Int,
      len: Int): Boolean = {
    val ao = Platform.BYTE_ARRAY_OFFSET + aFrom
    val bo = Platform.BYTE_ARRAY_OFFSET + bFrom
    var i = 0
    while (i + 8 <= len) {
      if (Platform.getLong(a, ao + i) != Platform.getLong(b, bo + i)) return false
      i += 8
    }
    while (i < len) {
      if (a(aFrom + i) != b(bFrom + i)) return false
      i += 1
    }
    true
  }

  private def maxEncodedLength(s: String): Int = {
    val n = s.length.toLong * 3
    if (n > Int.MaxValue - 16) throw new IllegalArgumentException(
      s"lookup key of ${s.length} chars is too long")
    n.toInt
  }

  /** The key encoding of `s` (see [[ProbeKey]]). */
  def encode(s: String): Array[Byte] = {
    val out = new Array[Byte](maxEncodedLength(s))
    java.util.Arrays.copyOf(out, encode(s, out))
  }

  /** Encode `s` into `out` (at least 3 bytes per char); returns the length. */
  private def encode(s: String, out: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) {
        out(n) = c.toByte; n += 1
      } else if (c < 0x800) {
        out(n) = (0xc0 | (c >> 6)).toByte
        out(n + 1) = (0x80 | (c & 0x3f)).toByte
        n += 2
      } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        out(n) = (0xf0 | (cp >> 18)).toByte
        out(n + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        out(n + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
        out(n + 3) = (0x80 | (cp & 0x3f)).toByte
        n += 4
        i += 1
      } else { // BMP, or an unpaired surrogate
        out(n) = (0xe0 | (c >> 12)).toByte
        out(n + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
        out(n + 2) = (0x80 | (c & 0x3f)).toByte
        n += 3
      }
      i += 1
    }
    n
  }

  /** True when `s` holds a surrogate that is not half of a valid pair —
    * the one case where a char-level substring need not be a substring of
    * the encodings (a lone low surrogate matches inside a pair).
    */
  def hasUnpairedSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) i += 2
      else if (Character.isSurrogate(c)) return true
      else i += 1
    }
    false
  }
}
