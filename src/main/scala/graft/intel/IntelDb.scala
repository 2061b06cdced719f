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
        return Cidr(0L, 0x0000ffff00000000L | v4, 96 + 32, isV4 = true)
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
        return Cidr(0L, 0x0000ffff00000000L | v4, 96 + p, isV4 = true)
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

  def v4ToUnified(v4: Long): (Long, Long) = (0L, 0x0000ffff00000000L | v4)

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
      mask(0L, 0x0000ffff00000000L, c.prefixLen) ==
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
  private val his = new Array[Long](capacity)
  private val los = new Array[Long](capacity)
  private val vals = new Array[Int](capacity)
  private val used = new Array[Boolean](capacity)

  @inline private def slot(hi: Long, lo: Long): Int = {
    var h = hi * -0x61c8864680b583ebL ^ lo // golden-ratio mix
    h ^= (h >>> 32)
    (h.toInt * -1640531527) & mask // Fibonacci scramble
  }

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
  * O(distinct lengths) per candidate, allocation-free on miss.
  */
final class LpmIndex private (
    lengths: Array[Int], // distinct prefix lengths, descending
    maps: Array[LongPairIntMap]
) extends Serializable {

  /** Returns (entryIdx, unifiedPrefixLen) or null. */
  def lookup(hi: Long, lo: Long): (Int, Int) = {
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
      if (hit >= 0) return (hit, len)
      i += 1
    }
    null
  }

  /** LPM for a canonical dotted-quad string; reports v4 prefix length. */
  def lookupV4(value: String): (Int, Int) = {
    val v4 = Cidr.parseV4(value)
    if (v4 < 0) return null
    val (hi, lo) = Cidr.v4ToUnified(v4)
    val r = lookup(hi, lo)
    if (r == null) null else (r._1, math.max(0, r._2 - 96))
  }

  /** LPM for a canonical IPv6 string; reports v6 prefix length. */
  def lookupV6(value: String): (Int, Int) = {
    val g = Ipv6Format.parse(value)
    if (g == null) return null
    val c = Cidr.fromGroups(g, 128, isV4 = false)
    lookup(c.hi, c.lo)
  }

  def isEmpty: Boolean = lengths.isEmpty
}

object LpmIndex {
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
  * lib.rs:162-166, 469-473).
  */
final class LiteralIndex private (
    map: java.util.HashMap[String, Array[Int]],
    val caseInsensitive: Boolean
) extends Serializable {
  def lookup(value: String): Array[Int] = {
    val key = if (caseInsensitive)
      value.toLowerCase(java.util.Locale.ROOT) else value
    val r = map.get(key)
    if (r == null) LiteralIndex.empty else r
  }
  def isEmpty: Boolean = map.isEmpty
  def size: Int = map.size
}

object LiteralIndex {
  private val empty = Array.emptyIntArray
  def build(literals: Seq[(String, Int)], caseInsensitive: Boolean)
      : LiteralIndex = {
    val m = new java.util.HashMap[String, Array[Int]](literals.size * 2)
    literals.foreach { case (lit, idx) =>
      val key = if (caseInsensitive)
        lit.toLowerCase(java.util.Locale.ROOT) else lit
      val prev = m.get(key)
      m.put(key, if (prev == null) Array(idx) else prev :+ idx)
    }
    new LiteralIndex(m, caseInsensitive)
  }
}

/** Glob pattern set with paraglob semantics: per query, returns the sorted,
  * deduplicated entry indices of all matching patterns
  * (paraglob_offset.rs:1028-1182). Pure-literal patterns match as
  * substring; globs are anchored; each pattern carries a longest-literal
  * contains() prefilter.
  */
final class GlobIndex private (
    patterns: Array[Glob.GlobPattern],
    entryIdx: Array[Int],
    ci: Boolean,
    // paraglob structure: AC automaton over the distinct literal meta-words
    // of all patterns; a pattern is a CANDIDATE only when every one of its
    // meta-words occurs in the probe text (necessary condition — literal
    // segments must appear for the glob to match), then glob-verified.
    // Patterns with no literal segment are always candidates.
    ac: AhoCorasick,
    wordsOfPattern: Array[Array[Int]],
    patternsOfWord: Array[Array[Int]],
    alwaysCandidates: Array[Int]
) extends Serializable {

  // per-thread probe scratch (the index is broadcast and shared). `hits`
  // is a primitive accumulation buffer — the previous ArrayBuffer[Int]
  // boxed every matched id and its toArray unboxed them back (~7% of scan
  // CPU in the JFR profile)
  @transient private lazy val scratch =
    new ThreadLocal[(Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])] {
      override def initialValue() = (
        new Array[Int](if (ac == null) 0 else ac.nWords), // seen words (gen)
        new Array[Int](if (ac == null) 0 else ac.nWords), // found word ids
        new Array[Int](patterns.length), // pattern seen (gen)
        new Array[Int](1), // generation counter
        new Array[Int](math.max(4, patterns.length))) // hit ids
    }

  def findAll(value: String): Array[Int] = {
    if (patterns.length == 0) return Array.emptyIntArray
    val (seenW, foundW, seenP, genBox, hits) = scratch.get()
    var nOut = 0
    @inline def tryPattern(p: Int): Unit =
      if (patterns(p).matches(value)) {
        hits(nOut) = entryIdx(p) // bounded by patterns.length
        nOut += 1
      }
    // AC-path verifier: all of p's literal segments are proven substrings,
    // so the per-pattern contains() prefilter (and its CI re-fold) is skipped
    @inline def tryPatternProven(p: Int, hay: String): Unit =
      if (patterns(p).matchesLitsProven(value, hay)) {
        hits(nOut) = entryIdx(p)
        nOut += 1
      }
    if (ac == null) {
      // no meta-words anywhere: verify all (degenerate tiny sets)
      var i = 0
      while (i < patterns.length) { tryPattern(i); i += 1 }
    } else {
      if (genBox(0) == Int.MaxValue) { // wrap: clear stamps, restart
        java.util.Arrays.fill(seenW, 0)
        java.util.Arrays.fill(seenP, 0)
        genBox(0) = 0
      }
      genBox(0) += 1
      val gen = genBox(0)
      val hay = if (ci) Glob.asciiLower(value) else value
      val nFound = ac.findWords(hay, seenW, gen, foundW)
      var f = 0
      while (f < nFound) {
        val pats = patternsOfWord(foundW(f))
        var k = 0
        while (k < pats.length) {
          val p = pats(k)
          if (seenP(p) != gen) {
            seenP(p) = gen
            // candidate iff ALL of p's words were found
            val ws = wordsOfPattern(p)
            var all = true
            var j = 0
            while (all && j < ws.length) {
              if (seenW(ws(j)) != gen) all = false
              j += 1
            }
            if (all) tryPatternProven(p, hay)
          }
          k += 1
        }
        f += 1
      }
      var a = 0
      while (a < alwaysCandidates.length) {
        tryPattern(alwaysCandidates(a))
        a += 1
      }
    }
    if (nOut == 0) Array.emptyIntArray
    else {
      // sorted ids (reference emits sorted-deduped pattern ids,
      // paraglob_offset.rs:1174-1182). Dedup is structural here: the seenP
      // generation stamp (AC path) / single iteration (degenerate path)
      // verifies each pattern at most once, and entry indexes are unique
      // per pattern — `.distinct` was a pure per-call allocation tax
      // (7% of scan CPU in the JFR profile).
      val arr = new Array[Int](nOut)
      System.arraycopy(hits, 0, arr, 0, nOut)
      java.util.Arrays.sort(arr)
      arr
    }
  }
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
    // mode to match the lowercased probe text)
    val wordId = new java.util.HashMap[String, Integer]()
    val wordsB = new mutable.ArrayBuffer[String]()
    val wordsOfPattern = new Array[Array[Int]](patterns.length)
    val always = new mutable.ArrayBuffer[Int]()
    var p = 0
    while (p < patterns.length) {
      val lits = patterns(p).segments.collect { case Glob.Lit(s) => s }
        .map(s => if (caseInsensitive) Glob.asciiLower(s) else s)
        .distinct
      if (lits.isEmpty) { always += p; wordsOfPattern(p) = Array.emptyIntArray }
      else wordsOfPattern(p) = lits.map { w =>
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
    val ac = if (wordsB.isEmpty) null else AhoCorasick.build(wordsB.toArray)
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
  // Direct-mapped (not chained-HashMap) memo: slot = spread(hashCode) &
  // mask, overwrite on collision. A cache may evict, so collisions cost a
  // recompute, never correctness — and the structure has no resizes, no
  // treeified bins (JFR showed patterned feed values treeifying
  // java.util.HashMap bins at ~4% of pipeline samples), no flush
  // bookkeeping, and O(1) worst-case probes.
  private final class ThreadState {
    val strKeys = new Array[String](IntelDb.MemoSlots)
    val strVals = new Array[Array[Int]](IntelDb.MemoSlots)
    // one cache per IP family: the caller-supplied itype is not guaranteed
    // to agree with the value's grammar (the public lookup expressions
    // accept arbitrary (value, indicator_type) pairs), and a wrong-family
    // probe memoized under a family-less key would poison later
    // correct-family lookups into order-dependent wrong results
    val ipKeys: Array[Array[String]] =
      Array.fill(2)(new Array[String](IntelDb.MemoSlots))
    val ipVals: Array[Array[(Int, Int)]] =
      Array.fill(2)(new Array[(Int, Int)](IntelDb.MemoSlots))
    var ipLookups = 0L
    var ipMemoHits = 0L
    var ipMatches = 0L
    var strLookups = 0L
    var strMemoHits = 0L
    var strMatches = 0L
  }
  @transient private lazy val allStates =
    new java.util.concurrent.ConcurrentLinkedQueue[ThreadState]()
  @transient private lazy val threadState: ThreadLocal[ThreadState] =
    ThreadLocal.withInitial { () =>
      val s = new ThreadState; allStates.add(s); s
    }

  /** A8 snapshot: fold all threads' counters (this JVM, this db instance).
    * Misses = lookups - memoHits; rates derived. Racy long reads — counts
    * can lag in-flight threads by a few, never corrupt (single-writer
    * fields).
    */
  def stats: IntelDb.LookupStats = {
    var ipL = 0L; var ipH = 0L; var ipM = 0L
    var stL = 0L; var stH = 0L; var stM = 0L
    val it = allStates.iterator()
    while (it.hasNext) {
      val s = it.next()
      ipL += s.ipLookups; ipH += s.ipMemoHits; ipM += s.ipMatches
      stL += s.strLookups; stH += s.strMemoHits; stM += s.strMatches
    }
    IntelDb.LookupStats(ipL, ipH, ipM, stL, stH, stM)
  }

  /** IP-path lookup (L2): canonical string + family. Returns
    * (entryIdx, familyPrefixLen) or null.
    */
  def lookupIp(value: String, isV6: Boolean): (Int, Int) = {
    val st = threadState.get()
    st.ipLookups += 1
    val fam = if (isV6) 1 else 0
    val slot = IntelDb.memoSlot(value)
    val keys = st.ipKeys(fam)
    if (value == keys(slot)) {
      st.ipMemoHits += 1
      val hit = st.ipVals(fam)(slot)
      if (hit eq IntelDb.IpNotFound) return null
      st.ipMatches += 1
      return hit
    }
    val r = if (isV6) lpm.lookupV6(value) else lpm.lookupV4(value)
    keys(slot) = value
    st.ipVals(fam)(slot) = if (r == null) IntelDb.IpNotFound else r
    if (r != null) st.ipMatches += 1
    r
  }

  /** String-path lookup (L3+L4 combined, L5 union semantics: literal ids
    * first, then sorted glob ids; database.rs:911-981). Memoized (L7).
    */
  def lookupString(value: String): Array[Int] = {
    val st = threadState.get()
    st.strLookups += 1
    val slot = IntelDb.memoSlot(value)
    if (value == st.strKeys(slot)) {
      st.strMemoHits += 1
      val hit = st.strVals(slot)
      if (hit.length > 0) st.strMatches += 1
      return hit
    }
    val lit = literals.lookup(value)
    val glob = globs.findAll(value)
    val r =
      if (glob.isEmpty) lit
      else if (lit.isEmpty) glob
      else lit ++ glob
    st.strKeys(slot) = value
    st.strVals(slot) = r
    if (r.length > 0) st.strMatches += 1
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

  /** lookupIp miss sentinel for the L7 memo (a slot can't distinguish
    * "cached null" from "absent" without a second flag). */
  private val IpNotFound: (Int, Int) = (-1, -1)

  /** L7 memo geometry: 16k direct-mapped slots per thread per path. */
  private val MemoSlots = 16384
  // package-visible so the memo spec can construct REAL slot collisions
  // (a blind key flood provably never evicted the hot keys it meant to)
  private[intel] def memoSlot(value: String): Int = {
    // String.hashCode is cached in the String; spread the high bits like
    // java.util.HashMap does so patterned feed values don't cluster slots
    val h = value.hashCode
    (h ^ (h >>> 16)) & (MemoSlots - 1)
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
