package graft.intel

import graft.extract.Ipv6Format
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow

import java.lang.ref.WeakReference
import scala.collection.mutable

/** IP/CIDR parsed into the unified 128-bit space: IPv4 a.b.c.d/p maps to
  * ::ffff:a.b.c.d/(96+p) — the reference stores IPv4 under the v4-mapped
  * node of one binary trie (crates/matchy-format/src/mmdb/tree.rs:46-90) and
  * reports v4 prefix lengths; we do the same arithmetic on (hi, lo) longs.
  */
final case class Cidr(hi: Long, lo: Long, prefixLen: Int, isV4: Boolean)

object Cidr {

  /** Strict dotted-quad parse (no leading zeros, 4 octets, 0-255) — the
    * grammar of Rust's `Ipv4Addr::from_str`, which gates entry
    * classification (mmdb_builder.rs:338-365).
    */
  def parseV4(s: String): Long = {
    var value = 0L
    var octet = 0
    var digits = 0
    var octets = 0
    var leadingZero = false
    var acc = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '.') {
        if (digits == 0 || octets >= 3 || (leadingZero && digits > 1)) return -1L
        value = (value << 8) | acc
        octets += 1; acc = 0; digits = 0; leadingZero = false
      } else if (c >= '0' && c <= '9') {
        if (digits == 0 && c == '0') leadingZero = true
        acc = acc * 10 + (c - '0')
        digits += 1
        if (digits > 3 || acc > 255) return -1L
      } else return -1L
      i += 1
    }
    if (digits == 0 || octets != 3 || (leadingZero && digits > 1)) return -1L
    (value << 8) | acc
  }

  /** Parse an IP or CIDR entry. Returns null if not one
    * (mmdb_builder.rs:338-365: plain IP gets /32 or /128; CIDR prefix must
    * be within range).
    */
  def parse(key: String): Cidr = {
    val slash = key.indexOf('/')
    if (slash < 0) {
      val v4 = parseV4(key)
      if (v4 >= 0)
        return Cidr(0L, V4Mapped | v4, 96 + 32, isV4 = true)
      val g = Ipv6Format.parse(key)
      if (g != null) return fromGroups(g, 128, isV4 = false)
      null
    } else {
      val addrStr = key.substring(0, slash)
      val prefixStr = key.substring(slash + 1)
      if (prefixStr.isEmpty || prefixStr.length > 3 ||
        !prefixStr.forall(c => c >= '0' && c <= '9')) return null
      val p = prefixStr.toInt
      val v4 = parseV4(addrStr)
      if (v4 >= 0) {
        if (p > 32) return null
        return Cidr(0L, V4Mapped | v4, 96 + p, isV4 = true)
      }
      val g = Ipv6Format.parse(addrStr)
      if (g != null && p <= 128) return fromGroups(g, p, isV4 = false)
      null
    }
  }

  def fromGroups(g: Array[Int], prefixLen: Int, isV4: Boolean): Cidr = {
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 4) { hi = (hi << 16) | (g(i) & 0xffffL); i += 1 }
    while (i < 8) { lo = (lo << 16) | (g(i) & 0xffffL); i += 1 }
    Cidr(hi, lo, prefixLen, isV4)
  }

  /** The v4-mapped bits of an IPv4 address's unified `lo` (::ffff:0:0/96). */
  val V4Mapped = 0x0000ffff00000000L

  def v4ToUnified(v4: Long): (Long, Long) = (0L, V4Mapped | v4)

  /** True when this CIDR's range intersects the v4-mapped block
    * ::ffff:0:0/96 — i.e. some IPv4 candidate (which LpmIndex looks up at
    * ::ffff:a.b.c.d) could match it. Every v4-NOTATION entry lives inside
    * the block by construction; a v6-notation entry intersects iff it
    * contains the block (prefixLen <= 96 and the block's base is inside
    * it) or sits inside it (prefixLen > 96 with the v4-mapped upper bits).
    * Matching is family-blind in the unified 128-bit space, so IP-anchor
    * derivation (CleanPreScreen) must use THIS, not the notation family —
    * a db holding only `::/0` still matches every IPv4.
    */
  def intersectsV4Mapped(c: Cidr): Boolean =
    // mask BOTH sides to prefixLen: Cidr.parse does not normalize host
    // bits, so comparing against the raw (hi, lo) would mis-report e.g.
    // ::ffff:0:1/96 (which contains the whole v4-mapped block) as
    // non-intersecting and drop every IPv4 match under the prescreen
    if (c.prefixLen <= 96)
      mask(0L, V4Mapped, c.prefixLen) ==
        mask(c.hi, c.lo, c.prefixLen)
    else c.hi == 0L && (c.lo >>> 32) == 0x0000ffffL

  /** Mask (hi, lo) to the first `prefixLen` bits. */
  def mask(hi: Long, lo: Long, prefixLen: Int): (Long, Long) = {
    if (prefixLen >= 128) (hi, lo)
    else if (prefixLen > 64) (hi, lo & (-1L << (128 - prefixLen)))
    else if (prefixLen == 64) (hi, 0L)
    else if (prefixLen > 0) (hi & (-1L << (64 - prefixLen)), 0L)
    else (0L, 0L)
  }
}

/** Open-addressing (hi, lo) -> entryIdx map with primitive-array storage:
  * the LPM probe runs once per distinct prefix length per IP candidate, and
  * the previous java.util.HashMap[(Long, Long), Integer] cost a Tuple2 +
  * two boxed longs PER PROBE plus tree-bin equals churn (JFR: Tuple2.equals
  * + getTreeNode ~5% of scan CPU). Linear probing, power-of-two capacity,
  * load factor <= 0.5, build-time inserts only.
  */
final class LongPairIntMap private (capacity: Int) extends Serializable {
  private val mask = capacity - 1
  private val shift = 64 - Integer.numberOfTrailingZeros(capacity)
  private val his = new Array[Long](capacity)
  private val los = new Array[Long](capacity)
  private val vals = new Array[Int](capacity)
  private val used = new Array[Boolean](capacity)

  // the HIGH bits of a multiplicative mix: they depend on every key bit.
  // A CIDR key is all zeros below its prefix, and the low bits of a
  // product see only the low bits of its input (they would put a feed's
  // 1,667 /24s on 16 of 4,096 home slots)
  @inline private def slot(hi: Long, lo: Long): Int =
    (((hi * -0x61c8864680b583ebL) ^ lo) * -0x61c8864680b583ebL >>> shift).toInt

  def put(hi: Long, lo: Long, v: Int): Unit = {
    var i = slot(hi, lo)
    while (used(i) && !(his(i) == hi && los(i) == lo)) i = (i + 1) & mask
    his(i) = hi; los(i) = lo; vals(i) = v; used(i) = true
  }

  /** Value for (hi, lo), or -1 when absent. Allocation-free. */
  def get(hi: Long, lo: Long): Int = {
    var i = slot(hi, lo)
    while (used(i)) {
      if (his(i) == hi && los(i) == lo) return vals(i)
      i = (i + 1) & mask
    }
    -1
  }

  /** Longest run of occupied slots (wrapping): what a miss can walk. */
  private[intel] def longestRun: Int = {
    var best = 0
    var run = 0
    var i = 0
    while (i < 2 * capacity) { // twice round, for a run across the end
      if (used(i & mask)) { run += 1; best = math.max(best, run) } else run = 0
      i += 1
    }
    math.min(best, capacity)
  }
}

object LongPairIntMap {
  def ofSize(n: Int): LongPairIntMap = {
    var cap = 8
    while (cap < n * 2) cap <<= 1
    new LongPairIntMap(cap)
  }
}

/** Longest-prefix-match index over a small intel CIDR set, broadcast to
  * executors. Most-specific prefix wins regardless of insert order
  * (reference matchy-ip-trie builder semantics, lib.rs:88-100, 233-252).
  * Probe = one hash lookup per distinct prefix length, longest first —
  * O(distinct lengths) per candidate, allocation-free. A hit is one packed
  * long, (entryIdx << 32) | prefixLen ([[LpmIndex.pack]]); -1 is a miss.
  */
final class LpmIndex private (
    lengths: Array[Int], // distinct prefix lengths, descending
    maps: Array[LongPairIntMap]
) extends Serializable {

  /** Packed hit for a unified 128-bit address, unified prefix length. */
  def lookup(hi: Long, lo: Long): Long = {
    var i = 0
    while (i < lengths.length) {
      val len = lengths(i)
      // Cidr.mask without the per-probe Tuple2 (see its cases)
      val mh =
        if (len >= 64) hi
        else if (len > 0) hi & (-1L << (64 - len))
        else 0L
      val ml =
        if (len > 64) lo & (-1L << (128 - len))
        else 0L
      val hit = maps(i).get(mh, ml)
      if (hit >= 0) return LpmIndex.pack(hit, len)
      i += 1
    }
    -1L
  }

  /** Packed hit for a 32-bit IPv4 address (as from [[Cidr.parseV4]]),
    * reporting the v4 prefix length.
    */
  def lookupV4(addr: Long): Long = {
    val p = lookup(0L, Cidr.V4Mapped | addr)
    if (p < 0) p
    else LpmIndex.pack(LpmIndex.entryOf(p), math.max(0, LpmIndex.prefixOf(p) - 96))
  }

  /** Packed hit for an IPv6 address given as its 8 groups. */
  def lookupV6(groups: Array[Int]): Long = {
    val c = Cidr.fromGroups(groups, 128, isV4 = false)
    lookup(c.hi, c.lo)
  }

  /** LPM for a canonical dotted-quad string; reports v4 prefix length. */
  def lookupV4(value: String): (Int, Int) = {
    val v4 = Cidr.parseV4(value)
    if (v4 < 0) null else LpmIndex.unpack(lookupV4(v4))
  }

  /** LPM for a canonical IPv6 string; reports v6 prefix length. */
  def lookupV6(value: String): (Int, Int) = {
    val g = Ipv6Format.parse(value)
    if (g == null) null else LpmIndex.unpack(lookupV6(g))
  }

  def isEmpty: Boolean = lengths.isEmpty

  private[intel] def longestRun: Int =
    if (maps.isEmpty) 0 else maps.map(_.longestRun).max
}

object LpmIndex {
  def pack(entryIdx: Int, prefixLen: Int): Long =
    (entryIdx.toLong << 32) | prefixLen
  def entryOf(packed: Long): Int = (packed >>> 32).toInt
  def prefixOf(packed: Long): Int = packed.toInt
  /** (entryIdx, prefixLen), or null for a miss. */
  def unpack(packed: Long): (Int, Int) =
    if (packed < 0) null else (entryOf(packed), prefixOf(packed))

  def build(cidrs: Seq[(Cidr, Int)]): LpmIndex = {
    val byLen = cidrs.groupBy(_._1.prefixLen).toSeq.sortBy(-_._1)
    val lengths = byLen.map(_._1).toArray
    val maps = byLen.map { case (len, group) =>
      val m = LongPairIntMap.ofSize(group.size)
      group.foreach { case (c, idx) =>
        val (mh, ml) = Cidr.mask(c.hi, c.lo, len)
        m.put(mh, ml, idx)
      }
      m
    }.toArray
    new LpmIndex(lengths, maps)
  }
}

/** Exact-literal index (reference matchy-literal-hash semantics: key
  * normalized to lowercase iff case-insensitive, verified by full equality;
  * lib.rs:162-166, 469-473), as one flat open-addressing table over the
  * keys' UTF-8 bytes — the reference's layout (a 64-bit hash of the bytes,
  * XXH64 there and [[ProbeKey.hash]] here, and linear probing; PAPER.md
  * §0).
  *
  * Each slot is one long: a 32-bit fingerprint (the hash's low half) and
  * the key number + 1 (0 = empty); the home slot comes from the hash's
  * high bits. The distinct keys' bytes lie back to back in one arena, and
  * a fingerprint match is confirmed by an exact byte compare. Load factor
  * <= 0.5, build-time inserts only.
  *
  * Case-insensitive keys are stored as `toLowerCase(Locale.ROOT)`. An
  * all-ASCII probe is folded A-Z -> a-z, which is that lowercase; a probe
  * with any non-ASCII byte is lowercased through its String, so results
  * equal a lookup of `value.toLowerCase(Locale.ROOT)` in a String map.
  */
final class LiteralIndex private (
    slots: Array[Long],
    shift: Int,
    arena: Array[Byte],
    offsets: Array[Int], // key k = arena[offsets(k), offsets(k + 1))
    ids: Array[Array[Int]], // entry indices of key k, in feed order
    hashMask: Long, // -1 except where a spec forces hash collisions
    val caseInsensitive: Boolean
) extends Serializable {

  def lookup(value: String): Array[Int] = lookup(new ProbeKey().set(value))

  def lookup(key: ProbeKey): Array[Int] =
    if (ids.length == 0) LiteralIndex.empty
    else if (!caseInsensitive) probe(key.bytes, key.from, key.len, key.hash)
    else if (key.foldAscii()) probe(key.lower, 0, key.len, key.lowerHash)
    else {
      val b = ProbeKey.encode(key.string.toLowerCase(java.util.Locale.ROOT))
      probe(b, 0, b.length, ProbeKey.hash(b, 0, b.length))
    }

  private def probe(b: Array[Byte], from: Int, len: Int,
      hash: Long): Array[Int] = {
    val h = hash & hashMask
    val fp = h.toInt
    val mask = slots.length - 1
    var i = (h >>> shift).toInt
    while (true) {
      val e = slots(i)
      if (e == 0L) return LiteralIndex.empty
      if ((e >>> 32).toInt == fp) {
        val k = e.toInt - 1
        val off = offsets(k)
        if (offsets(k + 1) - off == len && ProbeKey.equal(arena, off, b, from, len))
          return ids(k)
      }
      i = (i + 1) & mask
    }
    LiteralIndex.empty
  }

  def isEmpty: Boolean = ids.length == 0
  def size: Int = ids.length
}

object LiteralIndex {
  private val empty = Array.emptyIntArray

  def build(literals: Seq[(String, Int)], caseInsensitive: Boolean)
      : LiteralIndex = build(literals, caseInsensitive, -1L)

  /** `hashMask` narrows every key's hash (specs pass a small mask to force
    * fingerprint and home-slot collisions).
    */
  private[intel] def build(literals: Seq[(String, Int)],
      caseInsensitive: Boolean, hashMask: Long): LiteralIndex = {
    val keyOf = new java.util.HashMap[String, Integer]()
    val keys = new mutable.ArrayBuffer[Array[Byte]]()
    val ids = new mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]()
    literals.foreach { case (lit, idx) =>
      val key = if (caseInsensitive)
        lit.toLowerCase(java.util.Locale.ROOT) else lit
      val k = keyOf.get(key)
      if (k != null) ids(k.intValue()) += idx
      else {
        keyOf.put(key, Integer.valueOf(keys.length))
        keys += ProbeKey.encode(key)
        ids += mutable.ArrayBuffer(idx)
      }
    }
    val offsets = new Array[Int](keys.length + 1)
    var k = 0
    while (k < keys.length) { offsets(k + 1) = offsets(k) + keys(k).length; k += 1 }
    val arena = new Array[Byte](offsets(keys.length))
    k = 0
    while (k < keys.length) {
      System.arraycopy(keys(k), 0, arena, offsets(k), keys(k).length); k += 1
    }
    var cap = 8
    while (cap < keys.length * 2) cap <<= 1
    val shift = 64 - Integer.numberOfTrailingZeros(cap)
    val slots = new Array[Long](cap)
    k = 0
    while (k < keys.length) {
      val h = ProbeKey.hash(keys(k), 0, keys(k).length) & hashMask
      var i = (h >>> shift).toInt
      while (slots(i) != 0L) i = (i + 1) & (cap - 1)
      slots(i) = (h << 32) | (k + 1)
      k += 1
    }
    new LiteralIndex(slots, shift, arena, offsets, ids.map(_.toArray).toArray,
      hashMask, caseInsensitive)
  }
}

/** Glob pattern set with paraglob semantics: per query, returns the sorted,
  * deduplicated entry indices of all matching patterns
  * (paraglob_offset.rs:1028-1182). Pure-literal patterns match as
  * substring; globs are anchored.
  */
final class GlobIndex private (
    patterns: Array[Glob.GlobPattern],
    entryIdx: Array[Int],
    ci: Boolean,
    // paraglob structure: AC automaton over the distinct literal meta-words
    // of all patterns (UTF-8, ASCII-folded in CI mode); a pattern is a
    // CANDIDATE only when every one of its meta-words occurs in the probe
    // text (necessary condition — literal segments must appear for the
    // glob to match), then verified. Patterns with no literal segment are
    // always candidates, and so are patterns with an unpaired surrogate in
    // a literal (ProbeKey.hasUnpairedSurrogate: its bytes can miss a
    // char-level occurrence).
    ac: AhoCorasick,
    wordsOfPattern: Array[Array[Int]],
    patternsOfWord: Array[Array[Int]],
    alwaysCandidates: Array[Int]
) extends Serializable {

  // per-thread probe scratch (the index is broadcast and shared). `hits`
  // is a primitive accumulation buffer — the previous ArrayBuffer[Int]
  // boxed every matched id and its toArray unboxed them back (~7% of scan
  // CPU in the JFR profile)
  private[intel] final class Scratch {
    val seenW = new Array[Int](ac.nWords) // gen stamps
    val foundW = new Array[Int](ac.nWords)
    val seenP = new Array[Int](patterns.length) // gen stamps
    var gen = 0
    val hits = new Array[Int](math.max(4, patterns.length))
  }
  /** Probe scratch for one thread (IntelDb keeps one in its thread state). */
  private[intel] def newScratch: Scratch = new Scratch
  @transient private lazy val scratch = ThreadLocal.withInitial(() => new Scratch)

  def findAll(value: String): Array[Int] = findAll(new ProbeKey().set(value))

  def findAll(key: ProbeKey): Array[Int] = findAll(key, scratch.get())

  private[intel] def findAll(key: ProbeKey, s: Scratch): Array[Int] = {
    if (patterns.length == 0) return Array.emptyIntArray
    val hits = s.hits
    var nOut = 0
    if (s.gen == Int.MaxValue) { // wrap: clear stamps, restart
      java.util.Arrays.fill(s.seenW, 0)
      java.util.Arrays.fill(s.seenP, 0)
      s.gen = 0
    }
    s.gen += 1
    val gen = s.gen
    val seenW = s.seenW
    if (ci) key.foldAscii()
    val hay = if (ci) key.lower else key.bytes
    val off = if (ci) 0 else key.from
    val nFound = ac.findWords(hay, off, key.len, seenW, gen, s.foundW)
    var f = 0
    while (f < nFound) {
      val pats = patternsOfWord(s.foundW(f))
      var k = 0
      while (k < pats.length) {
        val p = pats(k)
        if (s.seenP(p) != gen) {
          s.seenP(p) = gen
          // candidate iff ALL of p's words were found
          val ws = wordsOfPattern(p)
          var all = true
          var j = 0
          while (all && j < ws.length) {
            if (seenW(ws(j)) != gen) all = false
            j += 1
          }
          // every literal segment is a proven substring: the simple
          // shapes decide on the bytes, the rest on the decoded text
          if (all) {
            val v = patterns(p).provenShape(hay, off, key.len)
            if (v > 0 || (v < 0 && patterns(p).matchesAnchored(key.string))) {
              hits(nOut) = entryIdx(p)
              nOut += 1
            }
          }
        }
        k += 1
      }
      f += 1
    }
    var a = 0
    while (a < alwaysCandidates.length) {
      nOut = tryPattern(alwaysCandidates(a), key, hits, nOut)
      a += 1
    }
    if (nOut == 0) Array.emptyIntArray
    else {
      // sorted ids (reference emits sorted-deduped pattern ids,
      // paraglob_offset.rs:1174-1182). Dedup is structural here: the seenP
      // generation stamp verifies each pattern at most once, and entry
      // indexes are unique per pattern — `.distinct` was a pure per-call
      // allocation tax (7% of scan CPU in the JFR profile).
      val arr = new Array[Int](nOut)
      System.arraycopy(hits, 0, arr, 0, nOut)
      java.util.Arrays.sort(arr)
      arr
    }
  }

  // verify p in full; hits grow to at most patterns.length
  private def tryPattern(p: Int, key: ProbeKey, hits: Array[Int],
      nOut: Int): Int =
    if (patterns(p).matches(key.string)) { hits(nOut) = entryIdx(p); nOut + 1 }
    else nOut

  def isEmpty: Boolean = patterns.isEmpty
}

object GlobIndex {
  def build(globs: Seq[(String, Int)], caseInsensitive: Boolean): GlobIndex = {
    val ps = new mutable.ArrayBuffer[Glob.GlobPattern](globs.size)
    val ix = new mutable.ArrayBuffer[Int](globs.size)
    globs.foreach { case (pat, idx) =>
      Glob.parse(pat, caseInsensitive) match {
        case Right(p) => ps += p; ix += idx
        case Left(_)  => // invalid globs are rejected at build time
      }
    }
    val patterns = ps.toArray
    // meta-words: the literal segments of each pattern (lowercased in CI
    // mode to match the folded probe bytes)
    val wordId = new java.util.HashMap[String, Integer]()
    val wordsB = new mutable.ArrayBuffer[String]()
    val wordsOfPattern = new Array[Array[Int]](patterns.length)
    val always = new mutable.ArrayBuffer[Int]()
    var p = 0
    while (p < patterns.length) {
      val lits = patterns(p).segments.collect { case Glob.Lit(s) => s }
        .map(s => if (caseInsensitive) Glob.asciiLower(s) else s)
        .distinct
      if (lits.isEmpty || lits.exists(ProbeKey.hasUnpairedSurrogate)) {
        always += p; wordsOfPattern(p) = Array.emptyIntArray
      } else wordsOfPattern(p) = lits.map { w =>
        val existing = wordId.get(w)
        if (existing != null) existing.intValue()
        else {
          val id = wordsB.length
          wordId.put(w, Integer.valueOf(id))
          wordsB += w
          id
        }
      }.toArray
      p += 1
    }
    // with no words (every pattern always a candidate) the automaton is
    // empty and finds nothing
    val ac = AhoCorasick.build(wordsB.map(ProbeKey.encode).toArray)
    val patternsOfWord = Array.fill(wordsB.length)(
      new mutable.ArrayBuffer[Int](2))
    var q = 0
    while (q < patterns.length) {
      wordsOfPattern(q).foreach(w => patternsOfWord(w) += q)
      q += 1
    }
    new GlobIndex(patterns, ix.toArray, caseInsensitive, ac,
      wordsOfPattern, patternsOfWord.map(_.distinct.toArray),
      always.toArray)
  }
}

/** Entry metadata carried through lookups (ThreatDB v1 required fields +
  * confidence; schemas/threatdb-v1.schema.json).
  */
final case class IntelMeta(
    entry: String,
    entryType: String,
    threatLevel: String,
    category: String,
    source: String,
    confidence: Int,
    // MISP attribute metadata (reference misp_importer.rs:884-925);
    // defaults = absent for non-MISP feeds
    toIds: Option[Boolean] = None,
    comment: String = "",
    attrType: String = "",
    attrTimestamp: Long = -1L,
    tags: String = "",
    // dynamic feed metadata (key-sorted at build time so map iteration —
    // and therefore NDJSON serialization — is deterministic)
    extra: Map[String, String] = Map.empty,
    // DataValue type tag per extra key (DataValues.inferTag / native JSON
    // types captured at ingest) — drives the typed NDJSON rendering
    extraTypes: Map[String, String] = Map.empty
)

/** One compiled intel database: the Spark-side analog of a loaded .mxy —
  * a broadcastable bundle of (LPM trie, literal hash, glob set, metadata).
  * Entry classification follows mmdb_builder.rs:392-429.
  */
final class IntelDb(
    val databaseId: String,
    val entries: Array[IntelMeta],
    val lpm: LpmIndex,
    val literals: LiteralIndex,
    val globs: GlobIndex,
    val caseInsensitive: Boolean
) extends Serializable {

  // L7: per-thread bounded lookup memo (the reference's per-worker LRU
  // cache, database.rs query cache). Transcript indicator values repeat
  // heavily (feed-bounded distinct set, see ExtractIoCs.internSpan), so a
  // content-keyed memo short-circuits the glob probe — the one lookup with
  // real per-call cost. Direct-mapped overwrite-on-collision instead of
  // true LRU: no per-hit bookkeeping, same bound. Per (db instance,
  // thread): with broadcast
  // handles there is one db instance per executor, and hot reload swaps
  // instances so a stale memo cannot survive a feed update. Results are
  // immutable by contract (callers never mutate the id arrays).
  //
  // A8: the same per-thread state carries plain-long lookup/memo-hit/match
  // counters (the reference's DatabaseStats atomics, database.rs:54-125,
  // hits/misses/match rates). Plain fields, not atomics: each state object
  // is single-writer (its owning thread); `stats` folds racy-read
  // snapshots, which is the same eventually-consistent contract the
  // reference's Relaxed atomics give. Process-local by design, exactly
  // like the reference's — cluster-wide A1-A6 rates ride `observe()`
  // metrics in ScanJob, not this API.
  // Direct-mapped (not chained-HashMap) memo, overwrite on collision. A
  // cache may evict, so collisions cost a recompute, never correctness —
  // and the structure has no resizes, no treeified bins (JFR showed
  // patterned feed values treeifying java.util.HashMap bins at ~4% of
  // pipeline samples), no flush bookkeeping, and O(1) worst-case probes.
  // The string memo is keyed by the key's bytes and their 64-bit hash:
  // each slot keeps (hash, length + 1) side by side, compared before the
  // key bytes, and a stored miss copies its key bytes — up to KeyStride
  // of them inline at a fixed offset of one shared array (few cache lines
  // a probe, no allocation), longer ones into the slot's own buffer. The
  // IP memo is keyed by the numeric address: (address, result) side by
  // side for IPv4, (hi, lo, result) for IPv6, allocated on the first IPv6
  // probe. Only the counters outlive their thread (`stats` reads them);
  // a finished thread's memo goes with its ThreadLocal entry.
  private final class Counters {
    var ipLookups = 0L
    var ipMemoHits = 0L
    var ipMatches = 0L
    var strLookups = 0L
    var strMemoHits = 0L
    var strMatches = 0L
  }
  private final class ThreadState(val owner: AnyRef)
      extends IntelDb.ProbeState {
    val n = new Counters
    val key = new ProbeKey // for the String entry points
    val glob = globs.newScratch
    val strMeta = new Array[Long](2 * IntelDb.MemoSlots) // 0 length = empty
    val strBytes = new Array[Byte](IntelDb.MemoSlots * IntelDb.KeyStride)
    val strLong = new Array[Array[Byte]](IntelDb.MemoSlots)
    val strVals = new Array[Array[Int]](IntelDb.MemoSlots)
    // one cache per IP family: the caller-supplied itype is not guaranteed
    // to agree with the value's grammar (the public lookup expressions
    // accept arbitrary (value, indicator_type) pairs), and a wrong-family
    // probe memoized under a family-less key would poison later
    // correct-family lookups into order-dependent wrong results. Results
    // are packed LpmIndex hits; -1 = cached miss, IpEmpty = empty slot
    val v4Memo: Array[Long] = IntelDb.ipMemo(2)
    var v6Memo: Array[Long] = _
  }
  @transient private lazy val allCounters =
    new java.util.concurrent.ConcurrentLinkedQueue[Counters]()
  // identifies this instance's states (a state must not refer to the db:
  // its ThreadLocal entry would then keep the db reachable from the thread)
  @transient private lazy val stateOwner = new AnyRef
  @transient private lazy val threadState: ThreadLocal[ThreadState] =
    ThreadLocal.withInitial { () =>
      val s = new ThreadState(stateOwner); allCounters.add(s.n); s
    }

  /** This thread's probe state for this database (its L7 memo, probe
    * scratch and A8 counters). A caller that probes many times in one call
    * resolves it once and passes it to the `lookup*(state, ...)` overloads,
    * which saves a ThreadLocal probe per lookup. It must not be kept past
    * that call: a dropped database has to stay collectable.
    */
  def probeState: IntelDb.ProbeState = threadState.get()

  private def own(ps: IntelDb.ProbeState): ThreadState = {
    val st = ps.asInstanceOf[ThreadState]
    if (st.owner ne stateOwner)
      throw new IllegalArgumentException(
        s"probe state of another database passed to $databaseId")
    st
  }

  /** A8 snapshot: fold all threads' counters (this JVM, this db instance).
    * Misses = lookups - memoHits; rates derived. Racy long reads — counts
    * can lag in-flight threads by a few, never corrupt (single-writer
    * fields).
    */
  def stats: IntelDb.LookupStats = {
    var ipL = 0L; var ipH = 0L; var ipM = 0L
    var stL = 0L; var stH = 0L; var stM = 0L
    val it = allCounters.iterator()
    while (it.hasNext) {
      val s = it.next()
      ipL += s.ipLookups; ipH += s.ipMemoHits; ipM += s.ipMatches
      stL += s.strLookups; stH += s.strMemoHits; stM += s.strMatches
    }
    IntelDb.LookupStats(ipL, ipH, ipM, stL, stH, stM)
  }

  /** IP-path lookup (L2) of a canonical string + family. Returns
    * (entryIdx, familyPrefixLen) or null.
    */
  def lookupIp(value: String, isV6: Boolean): (Int, Int) =
    LpmIndex.unpack(
      if (isV6) lookupIpv6(Ipv6Format.parse(value))
      else lookupIpv4(Cidr.parseV4(value)))

  /** IP-path lookup of a 32-bit IPv4 address (negative = not an address:
    * counted, never a hit). Returns the packed hit ([[LpmIndex.pack]],
    * v4 prefix length) or -1. Memoized (L7).
    */
  def lookupIpv4(addr: Long): Long = lookupIpv4(threadState.get(), addr)

  /** [[lookupIpv4]] with the caller's [[probeState]]. */
  def lookupIpv4(ps: IntelDb.ProbeState, addr: Long): Long = {
    val st = own(ps)
    st.n.ipLookups += 1
    if (addr < 0) return -1L
    val m = st.v4Memo
    val at = 2 * IntelDb.ipSlot(0L, addr)
    val cached = m(at + 1)
    if (cached != IntelDb.IpEmpty && m(at) == addr) {
      st.n.ipMemoHits += 1
      if (cached >= 0) st.n.ipMatches += 1
      return cached
    }
    val r = lpm.lookupV4(addr)
    m(at) = addr
    m(at + 1) = r
    if (r >= 0) st.n.ipMatches += 1
    r
  }

  /** IP-path lookup of an IPv6 address as its 8 groups (null = not an
    * address). Returns the packed hit or -1. Memoized (L7).
    */
  def lookupIpv6(groups: Array[Int]): Long = lookupIpv6(threadState.get(), groups)

  /** [[lookupIpv6]] with the caller's [[probeState]]. */
  def lookupIpv6(ps: IntelDb.ProbeState, groups: Array[Int]): Long = {
    val st = own(ps)
    st.n.ipLookups += 1
    if (groups == null) return -1L
    val c = Cidr.fromGroups(groups, 128, isV4 = false)
    if (st.v6Memo == null) st.v6Memo = IntelDb.ipMemo(3)
    val m = st.v6Memo
    val at = 3 * IntelDb.ipSlot(c.hi, c.lo)
    val cached = m(at + 2)
    if (cached != IntelDb.IpEmpty && m(at + 1) == c.lo && m(at) == c.hi) {
      st.n.ipMemoHits += 1
      if (cached >= 0) st.n.ipMatches += 1
      return cached
    }
    val r = lpm.lookup(c.hi, c.lo)
    m(at) = c.hi
    m(at + 1) = c.lo
    m(at + 2) = r
    if (r >= 0) st.n.ipMatches += 1
    r
  }

  /** String-path lookup (L3+L4 combined, L5 union semantics: literal ids
    * first, then sorted glob ids; database.rs:911-981). Memoized (L7).
    */
  def lookupString(value: String): Array[Int] = {
    val st = threadState.get()
    lookupString(st, st.key.set(value))
  }

  /** String-path lookup of a key already in bytes (the scan's path). */
  def lookupString(key: ProbeKey): Array[Int] =
    lookupString(threadState.get(), key)

  /** [[lookupString]] of a key in bytes with the caller's [[probeState]]. */
  def lookupString(ps: IntelDb.ProbeState, key: ProbeKey): Array[Int] = {
    val st = own(ps)
    st.n.strLookups += 1
    val h = key.hash
    val slot = IntelDb.strSlot(h)
    val meta = st.strMeta
    val inline = key.len <= IntelDb.KeyStride
    if (meta(2 * slot) == h && meta(2 * slot + 1) == key.len + 1 &&
      (if (inline) key.sameBytes(st.strBytes, slot * IntelDb.KeyStride, key.len)
      else key.sameBytes(st.strLong(slot), 0, key.len))) {
      st.n.strMemoHits += 1
      val hit = st.strVals(slot)
      if (hit.length > 0) st.n.strMatches += 1
      return hit
    }
    val lit = literals.lookup(key)
    val glob = globs.findAll(key, st.glob)
    val r =
      if (glob.isEmpty) lit
      else if (lit.isEmpty) glob
      else lit ++ glob
    if (inline)
      System.arraycopy(key.bytes, key.from, st.strBytes,
        slot * IntelDb.KeyStride, key.len)
    else {
      var kb = st.strLong(slot)
      if (kb == null || kb.length < key.len) {
        kb = new Array[Byte](key.len)
        st.strLong(slot) = kb
      }
      System.arraycopy(key.bytes, key.from, kb, 0, key.len)
    }
    meta(2 * slot) = h
    meta(2 * slot + 1) = key.len + 1
    st.strVals(slot) = r
    if (r.length > 0) st.n.strMatches += 1
    r
  }

  def hasIpSection: Boolean = !lpm.isEmpty
  def hasStringSection: Boolean = !literals.isEmpty || !globs.isEmpty

  /** Per-entry metadata as Catalyst rows ([[IntelMetaRows.schema]]),
    * indexed by entry_idx. Rendered on first use, once per instance in
    * each JVM that reads it — on executors, not in `build`.
    */
  @transient lazy val metaRows: Array[InternalRow] = IntelMetaRows.render(this)

  // this instance's broadcast and the context that owns it (BcHandle.dbs):
  // one broadcast per instance per SparkContext, reused by every scan call
  @transient private var shared:
    (WeakReference[SparkContext], Broadcast[BcHandle.SharedDb]) = _

  private[intel] def broadcastIn(sc: SparkContext)
      : Broadcast[BcHandle.SharedDb] = synchronized {
    if (shared == null || (shared._1.get ne sc))
      shared = (new WeakReference(sc), sc.broadcast(new BcHandle.SharedDb(this)))
    shared._2
  }
}

object IntelDb {

  /** A thread's probe state for one database ([[IntelDb.probeState]]). */
  sealed trait ProbeState

  /** Empty-slot marker of the L7 IP memo (a packed hit is >= 0, a cached
    * miss -1). */
  private val IpEmpty = Long.MinValue

  /** L7 memo geometry: 16k direct-mapped slots per thread per path, and
    * the key bytes a string slot holds inline (domains, emails and md5s
    * mostly fit).
    */
  private val MemoSlots = 16384
  private val KeyStride = 32

  /** An empty IP memo of `stride` longs per slot, result last. */
  private def ipMemo(stride: Int): Array[Long] = {
    val m = new Array[Long](stride * MemoSlots)
    var s = 0
    while (s < MemoSlots) { m(stride * s + stride - 1) = IpEmpty; s += 1 }
    m
  }
  private val MemoShift = 64 - 14

  private def strSlot(hash: Long): Int = hash.toInt & (MemoSlots - 1)

  // the high bits of a multiplicative mix (see LongPairIntMap.slot)
  private def ipSlot(hi: Long, lo: Long): Int =
    (((hi * -0x61c8864680b583ebL) ^ lo) * -0x61c8864680b583ebL >>> MemoShift).toInt

  /** The L7 slot a lookup of `value` takes: the IPv4 memo's for a dotted
    * quad, the string memo's otherwise. Package-visible so the memo spec
    * can construct REAL slot collisions (a blind key flood provably never
    * evicted the hot keys it meant to).
    */
  private[intel] def memoSlot(value: String): Int = {
    val v4 = Cidr.parseV4(value)
    if (v4 >= 0) ipSlot(0L, v4)
    else {
      val b = ProbeKey.encode(value)
      strSlot(ProbeKey.hash(b, 0, b.length))
    }
  }

  /** A8: per-process lookup statistics (the reference's DatabaseStats,
    * database.rs:54-125 — cache hits/misses, match rates). Memo misses =
    * `xLookups - xMemoHits`.
    */
  final case class LookupStats(
      ipLookups: Long, ipMemoHits: Long, ipMatches: Long,
      stringLookups: Long, stringMemoHits: Long, stringMatches: Long) {
    def ipMemoHitRate: Double =
      if (ipLookups == 0) 0.0 else ipMemoHits.toDouble / ipLookups
    def stringMemoHitRate: Double =
      if (stringLookups == 0) 0.0 else stringMemoHits.toDouble / stringLookups
    def ipMatchRate: Double =
      if (ipLookups == 0) 0.0 else ipMatches.toDouble / ipLookups
    def stringMatchRate: Double =
      if (stringLookups == 0) 0.0 else stringMatches.toDouble / stringLookups
  }

  sealed trait EntryType
  final case class IpEntry(cidr: Cidr) extends EntryType
  final case class LiteralEntry(key: String) extends EntryType
  final case class GlobEntry(pattern: String) extends EntryType

  /** Classify an entry key (mmdb_builder.rs:392-429):
    * 1. `literal:` / `glob:` / `ip:` prefixes force a class (invalid forced
    *    glob/ip => entry dropped, mirroring the builder's hard error);
    * 2. else IP/CIDR if it parses;
    * 3. else glob if it contains * ? [ AND validates;
    * 4. else literal.
    */
  def classify(key: String): Option[EntryType] = {
    if (key.startsWith("literal:"))
      return Some(LiteralEntry(key.substring(8)))
    if (key.startsWith("glob:")) {
      val p = key.substring(5)
      return if (Glob.isValid(p)) Some(GlobEntry(p)) else None
    }
    if (key.startsWith("ip:"))
      return Option(Cidr.parse(key.substring(3))).map(IpEntry.apply)
    val cidr = Cidr.parse(key)
    if (cidr != null) return Some(IpEntry(cidr))
    if ((key.indexOf('*') >= 0 || key.indexOf('?') >= 0 ||
      key.indexOf('[') >= 0) && Glob.isValid(key))
      return Some(GlobEntry(key))
    Some(LiteralEntry(key))
  }

  def entryTypeName(t: EntryType): String = t match {
    case _: IpEntry      => "ip"
    case _: LiteralEntry => "literal"
    case _: GlobEntry    => "glob"
  }

  /** Build a database from raw feed rows. */
  def build(databaseId: String, rows: Seq[graft.model.IntelEntry],
      caseInsensitive: Boolean = false): IntelDb = {
    val metas = new mutable.ArrayBuffer[IntelMeta](rows.size)
    val cidrs = new mutable.ArrayBuffer[(Cidr, Int)]
    val lits = new mutable.ArrayBuffer[(String, Int)]
    val globs = new mutable.ArrayBuffer[(String, Int)]
    rows.foreach { r =>
      classify(r.entry).foreach { et =>
        val idx = metas.size
        metas += IntelMeta(r.entry, entryTypeName(et), r.threat_level,
          r.category, r.source, r.confidence, r.to_ids, r.comment,
          r.attr_type, r.attr_timestamp, r.tags,
          // ListMap sorted by key: deterministic iteration order for the
          // NDJSON sink regardless of the feed's column order
          scala.collection.immutable.ListMap(
            r.extra.toSeq.sortBy(_._1): _*),
          r.extra_types)
        et match {
          case IpEntry(c)       => cidrs += ((c, idx))
          case LiteralEntry(k)  => lits += ((k, idx))
          case GlobEntry(p)     => globs += ((p, idx))
        }
      }
    }
    new IntelDb(databaseId, metas.toArray, LpmIndex.build(cidrs.toSeq),
      LiteralIndex.build(lits.toSeq, caseInsensitive),
      GlobIndex.build(globs.toSeq, caseInsensitive), caseInsensitive)
  }
}
