package graft.extract

import java.security.MessageDigest

/** Cryptocurrency address checksum validators.
  *
  * Semantics mirror the reference validators
  * (crates/matchy-extractor/src/lib.rs:1799-1920):
  *  - Bitcoin legacy/P2SH: Base58Check — base58 decode, >=5 bytes, first 4
  *    bytes of double-SHA256(payload) equal the trailing checksum.
  *  - Bitcoin bech32: full bech32/bech32m decode with HRP == "bc".
  *  - Ethereum: 0x + 40 hex; all-lower/all-upper accepted; mixed case must
  *    pass EIP-55 (legacy Keccak-256 of the lowercase hex, case per nibble).
  *  - Monero: whole-string base58 decode (NOT Monero block-base58 — the
  *    reference decodes the full string with plain bs58), >=5 bytes, first 4
  *    bytes of legacy Keccak-256(payload) equal the trailing checksum.
  *
  * All implementations are from public specifications (BIP-173/350, EIP-55,
  * Keccak reference); nothing is ported from the reference's Rust.
  */
object Checksums {

  // ---------------------------------------------------------------- base58
  private[extract] val Base58Alphabet =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val base58Index: Array[Int] = {
    val idx = Array.fill(128)(-1)
    var i = 0
    while (i < Base58Alphabet.length) {
      idx(Base58Alphabet.charAt(i).toInt) = i; i += 1
    }
    idx
  }

  /** Decode a base58 string to bytes (big-endian, leading '1's => 0x00).
    * Returns null on any invalid character (avoids Option allocation in the
    * scan hot path).
    */
  def base58Decode(s: String): Array[Byte] = {
    if (s.isEmpty) return Array.emptyByteArray
    // count leading zeros ('1')
    var zeros = 0
    while (zeros < s.length && s.charAt(zeros) == '1') zeros += 1
    // big-int accumulation in base-256 digits
    val size = ((s.length - zeros) * 733 / 1000) + 1 // log(58)/log(256)
    val b256 = new Array[Int](size)
    var length = 0
    var i = zeros
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 128) return null
      var carry = base58Index(c.toInt)
      if (carry < 0) return null
      var j = 0
      var k = size - 1
      while ((carry != 0 || j < length) && k >= 0) {
        carry += 58 * b256(k)
        b256(k) = carry % 256
        carry /= 256
        j += 1
        k -= 1
      }
      length = j
      i += 1
    }
    var start = size - length
    while (start < size && b256(start) == 0) start += 1
    val out = new Array[Byte](zeros + (size - start))
    var w = zeros
    var r = start
    while (r < size) { out(w) = b256(r).toByte; w += 1; r += 1 }
    out
  }

  /** Encode bytes to base58 (used by fixture generation, not the scan path). */
  def base58Encode(input: Array[Byte]): String = {
    if (input.isEmpty) return ""
    var zeros = 0
    while (zeros < input.length && input(zeros) == 0) zeros += 1
    val size = (input.length - zeros) * 138 / 100 + 1 // log(256)/log(58)
    val b58 = new Array[Int](size)
    var length = 0
    var i = zeros
    while (i < input.length) {
      var carry = input(i) & 0xff
      var j = 0
      var k = size - 1
      while ((carry != 0 || j < length) && k >= 0) {
        carry += 256 * b58(k)
        b58(k) = carry % 58
        carry /= 58
        j += 1
        k -= 1
      }
      length = j
      i += 1
    }
    var start = size - length
    while (start < size && b58(start) == 0) start += 1
    val sb = new StringBuilder(zeros + (size - start))
    var z = 0
    while (z < zeros) { sb.append('1'); z += 1 }
    var r = start
    while (r < size) { sb.append(Base58Alphabet.charAt(b58(r))); r += 1 }
    sb.toString
  }

  // --------------------------------------------------------------- sha256d
  // one digest instance per thread: MessageDigest.getInstance walks the
  // synchronized provider registry on EVERY call — measurably hot when each
  // 26-62-char token in the scan triggers a Base58Check probe (JFR)
  private val tlSha256 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  def sha256d(payload: Array[Byte]): Array[Byte] = {
    val md = tlSha256.get()
    md.reset()
    md.digest(md.digest(payload))
  }

  /** Base58Check validation (Bitcoin legacy '1...' / P2SH '3...'). */
  def validBase58Check(addr: String): Boolean = {
    val decoded = base58Decode(addr)
    if (decoded == null || decoded.length < 5) return false
    val payload = java.util.Arrays.copyOfRange(decoded, 0, decoded.length - 4)
    val checksum =
      java.util.Arrays.copyOfRange(decoded, decoded.length - 4, decoded.length)
    val h = sha256d(payload)
    h(0) == checksum(0) && h(1) == checksum(1) &&
    h(2) == checksum(2) && h(3) == checksum(3)
  }

  // ---------------------------------------------------------------- bech32
  private val Bech32Charset = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"
  private val bech32Index: Array[Int] = {
    val idx = Array.fill(128)(-1)
    var i = 0
    while (i < Bech32Charset.length) {
      idx(Bech32Charset.charAt(i).toInt) = i; i += 1
    }
    idx
  }
  private val Bech32Gen =
    Array(0x3b6a57b2, 0x26508e6d, 0x1ea119fa, 0x3d4233dd, 0x2a1462b3)
  private val Bech32Const = 1
  private val Bech32mConst = 0x2bc830a3

  private def bech32Polymod(values: Array[Int]): Int = {
    var chk = 1
    var i = 0
    while (i < values.length) {
      val top = chk >>> 25
      chk = ((chk & 0x1ffffff) << 5) ^ values(i)
      var j = 0
      while (j < 5) {
        if (((top >>> j) & 1) != 0) chk ^= Bech32Gen(j)
        j += 1
      }
      i += 1
    }
    chk
  }

  /** Decode+verify a bech32/bech32m string; returns the lowercase HRP or
    * null if invalid. Accepts both checksum variants (like the public
    * bech32 0.11 crate's `decode`).
    */
  def bech32Hrp(addr: String): String = {
    val n = addr.length
    if (n < 8 || n > 90) return null
    var hasLower = false
    var hasUpper = false
    var i = 0
    while (i < n) {
      val c = addr.charAt(i)
      if (c < 33 || c > 126) return null
      if (c >= 'a' && c <= 'z') hasLower = true
      if (c >= 'A' && c <= 'Z') hasUpper = true
      i += 1
    }
    if (hasLower && hasUpper) return null
    val lower = addr.toLowerCase(java.util.Locale.ROOT)
    val sep = lower.lastIndexOf('1')
    if (sep < 1 || sep + 7 > n) return null
    val hrp = lower.substring(0, sep)
    val data = new Array[Int](n - sep - 1)
    i = sep + 1
    while (i < n) {
      val v = bech32Index(lower.charAt(i).toInt)
      if (v < 0) return null
      data(i - sep - 1) = v
      i += 1
    }
    // hrp expansion: high bits, 0, low bits
    val values = new Array[Int](hrp.length * 2 + 1 + data.length)
    i = 0
    while (i < hrp.length) {
      values(i) = hrp.charAt(i) >>> 5
      values(hrp.length + 1 + i) = hrp.charAt(i) & 31
      i += 1
    }
    values(hrp.length) = 0
    System.arraycopy(data, 0, values, hrp.length * 2 + 1, data.length)
    val pm = bech32Polymod(values)
    if (pm == Bech32Const || pm == Bech32mConst) hrp else null
  }

  def validBitcoinBech32(addr: String): Boolean = bech32Hrp(addr) == "bc"

  // ------------------------------------------------------- keccak-256 (legacy)
  // Legacy Keccak (padding byte 0x01), NOT NIST SHA3 (0x06). Used by
  // Ethereum EIP-55 and Monero checksums. Implemented from the public
  // Keccak specification (keccak.team); rate 1088 bits => 136-byte blocks.
  private val KeccakRound = Array[Long](
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L
  )
  private val KeccakRotc = Array(1, 3, 6, 10, 15, 21, 28, 36, 45, 55, 2, 14,
    27, 41, 56, 8, 25, 43, 62, 18, 39, 61, 20, 44)
  private val KeccakPiln = Array(10, 7, 11, 17, 18, 3, 5, 16, 8, 21, 24, 4,
    15, 23, 19, 13, 12, 2, 20, 14, 22, 9, 6, 1)

  private def keccakF(st: Array[Long]): Unit = {
    val bc = new Array[Long](5)
    var round = 0
    while (round < 24) {
      // theta
      var i = 0
      while (i < 5) {
        bc(i) = st(i) ^ st(i + 5) ^ st(i + 10) ^ st(i + 15) ^ st(i + 20)
        i += 1
      }
      i = 0
      while (i < 5) {
        val t = bc((i + 4) % 5) ^ java.lang.Long.rotateLeft(bc((i + 1) % 5), 1)
        var j = 0
        while (j < 25) { st(j + i) = st(j + i) ^ t; j += 5 }
        i += 1
      }
      // rho + pi
      var t = st(1)
      i = 0
      while (i < 24) {
        val j = KeccakPiln(i)
        val tmp = st(j)
        st(j) = java.lang.Long.rotateLeft(t, KeccakRotc(i))
        t = tmp
        i += 1
      }
      // chi
      var j = 0
      while (j < 25) {
        i = 0
        while (i < 5) { bc(i) = st(j + i); i += 1 }
        i = 0
        while (i < 5) {
          st(j + i) = st(j + i) ^ (~bc((i + 1) % 5) & bc((i + 2) % 5))
          i += 1
        }
        j += 5
      }
      // iota
      st(0) ^= KeccakRound(round)
      round += 1
    }
  }

  /** Legacy Keccak-256 digest (32 bytes). */
  def keccak256(input: Array[Byte]): Array[Byte] = {
    val rate = 136
    val st = new Array[Long](25)
    var offset = 0
    // absorb full blocks
    while (input.length - offset >= rate) {
      var i = 0
      while (i < rate / 8) {
        var lane = 0L
        var b = 0
        while (b < 8) {
          lane |= (input(offset + i * 8 + b) & 0xffL) << (8 * b)
          b += 1
        }
        st(i) ^= lane
        i += 1
      }
      keccakF(st)
      offset += rate
    }
    // last (padded) block: pad with 0x01 ... 0x80
    val block = new Array[Byte](rate)
    System.arraycopy(input, offset, block, 0, input.length - offset)
    block(input.length - offset) = 0x01
    block(rate - 1) = (block(rate - 1) | 0x80).toByte
    var i = 0
    while (i < rate / 8) {
      var lane = 0L
      var b = 0
      while (b < 8) {
        lane |= (block(i * 8 + b) & 0xffL) << (8 * b)
        b += 1
      }
      st(i) ^= lane
      i += 1
    }
    keccakF(st)
    val out = new Array[Byte](32)
    i = 0
    while (i < 4) {
      var b = 0
      while (b < 8) {
        out(i * 8 + b) = ((st(i) >>> (8 * b)) & 0xff).toByte
        b += 1
      }
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------- EIP-55
  /** Ethereum address validity: 0x + 40 hex; unicase accepted as-is; mixed
    * case must satisfy EIP-55.
    */
  def validEthereum(addr: String): Boolean = {
    if (addr.length != 42 || addr.charAt(0) != '0' || addr.charAt(1) != 'x')
      return false
    var allLower = true
    var allUpper = true
    var i = 2
    while (i < 42) {
      val c = addr.charAt(i)
      val isHex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')
      if (!isHex) return false
      if (c >= 'a' && c <= 'f') allUpper = false
      if (c >= 'A' && c <= 'F') allLower = false
      i += 1
    }
    if (allLower || allUpper) return true
    // mixed case => EIP-55 check over keccak256(lowercase-hex-ascii)
    val lower = addr.substring(2).toLowerCase(java.util.Locale.ROOT)
    val hash = keccak256(lower.getBytes("US-ASCII"))
    i = 0
    while (i < 40) {
      val c = addr.charAt(2 + i)
      if ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')) {
        val hb = hash(i / 2) & 0xff
        val nibble = if (i % 2 == 0) hb >>> 4 else hb & 0x0f
        val shouldUpper = nibble >= 8
        if ((c >= 'A' && c <= 'F') != shouldUpper) return false
      }
      i += 1
    }
    true
  }

  /** Per-thread scratch of [[validEthereumBytes]]: the Keccak state and
    * the single absorb block, so a mixed-case candidate costs ZERO
    * allocations (the String form pays substring + toLowerCase + getBytes
    * + three arrays per call — measured on the scan hot path, round 6).
    */
  private final class EthScratch {
    val st = new Array[Long](25)
    val block = new Array[Byte](136)
  }
  private val ethScratch = new ThreadLocal[EthScratch] {
    override def initialValue(): EthScratch = new EthScratch
  }

  /** [[validEthereum]] over the raw scan bytes: b(off) must be '0',
    * b(off+1) 'x', with 40 more bytes present. Same decision on every
    * input (asserted against the String form in ChecksumsSpec); used by
    * the scanner so no String is built for invalid candidates and no
    * per-call allocation happens for valid ones.
    */
  def validEthereumBytes(b: Array[Byte], off: Int): Boolean = {
    var allLower = true
    var allUpper = true
    var i = off + 2
    val end = off + 42
    while (i < end) {
      val c = b(i)
      val isHex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')
      if (!isHex) return false
      if (c >= 'a' && c <= 'f') allUpper = false
      if (c >= 'A' && c <= 'F') allLower = false
      i += 1
    }
    if (allLower || allUpper) return true
    // mixed case => EIP-55 over keccak256 of the lowercased 40 hex chars:
    // one 136-byte rate block (40 < 136), absorbed from thread-local
    // scratch; the hash is read nibble-wise straight from the state lanes
    // (byte j of the digest = (st(j/8) >>> 8*(j%8)) & 0xff).
    val scr = ethScratch.get()
    val st = scr.st
    val block = scr.block
    java.util.Arrays.fill(st, 0L)
    java.util.Arrays.fill(block, 0, 136, 0.toByte)
    i = 0
    while (i < 40) {
      var c = b(off + 2 + i)
      if (c >= 'A' && c <= 'F') c = (c + 32).toByte
      block(i) = c
      i += 1
    }
    block(40) = 0x01
    block(135) = 0x80.toByte
    var w = 0
    while (w < 17) {
      var lane = 0L
      var k = 0
      while (k < 8) { lane |= (block(w * 8 + k) & 0xffL) << (8 * k); k += 1 }
      st(w) ^= lane
      w += 1
    }
    keccakF(st)
    i = 0
    while (i < 40) {
      val c = b(off + 2 + i)
      if ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')) {
        val hb = ((st(i / 16) >>> (8 * ((i / 2) % 8))) & 0xff).toInt
        val nibble = if (i % 2 == 0) hb >>> 4 else hb & 0x0f
        val shouldUpper = nibble >= 8
        if ((c >= 'A' && c <= 'F') != shouldUpper) return false
      }
      i += 1
    }
    true
  }

  // ---------------------------------------------------------------- monero
  def validMonero(addr: String): Boolean = {
    val decoded = base58Decode(addr)
    if (decoded == null || decoded.length < 5) return false
    val payload = java.util.Arrays.copyOfRange(decoded, 0, decoded.length - 4)
    val h = keccak256(payload)
    h(0) == decoded(decoded.length - 4) && h(1) == decoded(decoded.length - 3) &&
    h(2) == decoded(decoded.length - 2) && h(3) == decoded(decoded.length - 1)
  }
}
