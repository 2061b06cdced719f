package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input is a pure function of (generator
  * version, seed, size); the program under test only ever sees the files
  * written here. Generated inputs are cached under the work dir, keyed by
  * that triple, and generation is never timed.
  */
object Gen {

  /** Bump when any generator below changes what it writes. */
  val Version = 1

  val TurnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** Sizes of one generated input, recorded with every result. */
  final case class Inputs(dir: File, turns: Long, textBytes: Long,
      files: Int, feedEntries: Int) {
    def turnsPath: String = new File(dir, "turns").getAbsolutePath
    def feed(name: String): String = new File(dir, s"$name.csv").getAbsolutePath
  }

  // ------------------------------------------------------------- PRNG
  /** splitmix64 finalizer: a pure function of its argument. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rnd(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed ^ mix(a)) + b)
  private def pick[T](arr: Array[T], r: Long): T =
    arr(((r >>> 33) % arr.length).toInt)
  private def below(r: Long, n: Int): Int = ((r >>> 17) % n).toInt

  // ------------------------------------------------- fixture-shaped pools
  // The value pools and planting rates of the library's deterministic
  // fixture (FIXTURES.md): `matching*` values hit the threats feed below,
  // `clean*` values hit nothing in it.
  private val matchingIpv4 = Array("192.0.2.1", "192.0.2.77", "203.0.113.7",
    "10.10.99.5", "198.51.100.23")
  private val cleanIpv4 = Array("8.8.8.8", "1.1.1.1", "172.16.31.9",
    "100.64.7.3", "9.9.9.9")
  private val matchingIpv6 = Array("2001:db8:bad:1::77", "2001:db8:bad::2")
  private val cleanIpv6 = Array("2607:f8b0::1a2b", "2a00:1450:4001::8a")
  private val matchingDomains = Array("evil-domain.com", "malware.badsite.org",
    "host7.evil-glob.net", "mal3.example.com", "my-c2-server.io",
    "xx-paraglob-sub.com")
  private val cleanDomains = Array("github.com", "docs.example.com",
    "api.service.co.uk", "cdn.content.net", "mail.google.com",
    "maly.example.com")
  private val matchingEmails = Array("alice@evil-domain.com")
  private val cleanEmails = Array("bob@github.com", "ops@service.co.uk")
  private val matchingHashes = Array(
    "5d41402abc4b2a76b9719d911017c592",
    "2c26b46b68ffc68ff99b453c1d30413413422d706483bfa0f98a5e886266e7ae")
  private val cleanHashes = Array(
    "9e107d9d372bb6826bd81d3542a419d6",
    "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "da39a3ee5e6b4b0d3255bfef95601890afd80709",
    "1f40fc92da241694750979ee6cf582f2d5d7d28e18335de05abc54d0560e0f5302860c652bf08d560252aa5e74210546f369fbbbce8c12cfc7957b2652fe9a75")
  private val matchingBtc = Array("1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa")
  private val cleanBtc = Array("3J98t1WpEZ73CNmQviecrnyiWrnqRhWNLy",
    "bc1qw508d6qejxtdg4y5r3zarvary0c5xw7kv8f3t4")
  private val matchingEth = Array("0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed")
  private val cleanEth = Array("0xde709f2102306220921060314715629080e2fb77",
    "0x52908400098527886E0F7030069857D2E4169EE7")
  private val negatives = Array("999.1.2.3", "192.168.01.5", "1.2.3.4.5",
    "256.256.256.256", "fe80::dead:beef", "::1", "2001:db8::",
    "bare.tld-not-real", "x..y@example.com", "12345@example.com",
    "user@nodots",
    "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b85",
    "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNb",
    "0x5Aaeb6053F3E94C9b9A09f33669435E7Ef1BeAed")
  private val filler = Array(
    "the agent ran a tool call and inspected the output",
    "user asked about deployment logs for the service",
    "assistant summarized the scan results in detail",
    "connection established and handshake completed quickly",
    "retrying with exponential backoff after transient failure",
    "wrote checkpoint and advanced the offset marker",
    "parsed the response payload into structured fields",
    "no anomalies detected in the previous batch window")
  private val roles = Array("user", "assistant", "system", "tool")
  private val tools = Array("", "bash", "browser", "search")

  /** The fixture's two feeds (24 entries): entry, threat_level, category,
    * source, confidence.
    */
  val threatsFeed: Seq[String] = Seq(
    "192.0.2.0/24,high,c2,feed-a,90", "192.0.2.1,critical,c2,feed-a,99",
    "203.0.113.7,medium,scanner,feed-a,70",
    "10.10.0.0/16,low,internal-test,feed-b,50",
    "198.51.100.0/24,high,malware,feed-b,85",
    "2001:db8:bad::/48,high,c2,feed-a,88",
    "2001:db8:bad::2,critical,c2,feed-a,97",
    "evil-domain.com,critical,phishing,feed-a,95",
    "malware.badsite.org,high,malware,feed-b,90",
    "alice@evil-domain.com,high,phishing,feed-a,92",
    "5d41402abc4b2a76b9719d911017c592,medium,malware,feed-b,75",
    "2c26b46b68ffc68ff99b453c1d30413413422d706483bfa0f98a5e886266e7ae,high,malware,feed-b,80",
    "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa,medium,ransomware,feed-a,77",
    "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed,medium,ransomware,feed-a,76",
    "*.evil-glob.net,high,c2,feed-a,85",
    "mal[0-9].example.com,medium,malware,feed-b,72",
    "*c2*,low,heuristic,feed-b,40",
    "glob:paraglob-sub,low,heuristic,feed-b,45",
    "literal:*.not-a-glob.com,low,test,feed-b,30",
    "error-*,low,heuristic,feed-b,35")
  val allowlistFeed: Seq[String] = Seq(
    "8.8.8.8,unknown,allowlist,corp,100",
    "github.com,unknown,allowlist,corp,100",
    "*.google.com,unknown,allowlist,corp,100",
    "10.10.0.0/16,unknown,allowlist,corp,60")
  val FeedHeader = "entry,threat_level,category,source,confidence"

  private def convId(conv: Long): String = {
    val d = conv.toString
    val sb = new java.lang.StringBuilder(13).append("conv-")
    var pad = 6 - d.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(d).toString
  }

  /** Turn i of the fixture-shaped transcript under `seed`: filler text plus
    * up to three planted tokens per turn at the fixture's rates (per mille:
    * ipv4 80, domains 120, emails 40, ipv6 20, hashes 50, btc 12, eth 12,
    * negatives 60), and the fixture's skew: conv-000000 holds 1/16 of all
    * turns, the rest sit in conversations of 24 turns.
    */
  def routeTurn(seed: Long, i: Long, n: Long): Row = {
    val sb = new java.lang.StringBuilder(160)
    sb.append(pick(filler, rnd(seed, i, 1)))
    var slot = 0
    while (slot < 3) {
      val r = rnd(seed, i, 10 + slot)
      val roll = ((r >>> 8) % 1000).toInt
      val token =
        if (roll < 40) pick(matchingIpv4, r)
        else if (roll < 80) pick(cleanIpv4, r)
        else if (roll < 140) pick(matchingDomains, r)
        else if (roll < 200) pick(cleanDomains, r)
        else if (roll < 220) pick(matchingEmails, r)
        else if (roll < 240) pick(cleanEmails, r)
        else if (roll < 250) pick(matchingIpv6, r)
        else if (roll < 260) pick(cleanIpv6, r)
        else if (roll < 285) pick(matchingHashes, r)
        else if (roll < 310) pick(cleanHashes, r)
        else if (roll < 316) pick(matchingBtc, r)
        else if (roll < 322) pick(cleanBtc, r)
        else if (roll < 328) pick(matchingEth, r)
        else if (roll < 334) pick(cleanEth, r)
        else if (roll < 394) pick(negatives, r)
        else null
      if (token != null) sb.append(' ').append(token)
      sb.append(' ').append(pick(filler, rnd(seed, i, 20 + slot)))
      slot += 1
    }
    val hot = math.max(1L, n / 16)
    val (conv, idx) = if (i < hot) (0L, i) else (1 + (i - hot) / 24, (i - hot) % 24)
    Row(convId(conv), idx.toInt, pick(roles, rnd(seed, i, 2)), sb.toString,
      pick(tools, rnd(seed, i, 3)), new Timestamp(1700000000000L + i * 1000L))
  }

  // --------------------------------------------------- wide feed + turns
  // The wide feed: mostly literal domains, emails and hashes, nested IPv4
  // CIDRs, and ~1% globs (suffix globs and multi-wildcard patterns that
  // need verification). Candidates in the wide transcripts are mostly
  // fresh random values, so the per-thread lookup memo rarely answers.
  private val tlds = Array("com", "net", "org", "io", "info")
  private val words = Array("log", "agent", "tool", "call", "trace", "node",
    "fetch", "deploy", "retry", "span", "queue", "token", "batch", "shard",
    "lease", "probe")
  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val hexDigits = "0123456789abcdef"

  private def label(r: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var x = r
    var k = 0
    while (k < len) {
      // a label starts with a letter, so no label looks like a number
      sb.append(if (k == 0) alnum.charAt(((x >>> 3) % 26).toInt)
        else alnum.charAt(((x >>> 3) % 36).toInt))
      x = mix(x); k += 1
    }
    sb.toString
  }
  private def hex(r: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var x = r
    while (sb.length < len) {
      var k = 0
      while (k < 16 && sb.length < len) {
        sb.append(hexDigits.charAt(((x >>> (k * 4)) & 15).toInt)); k += 1
      }
      x = mix(x)
    }
    sb.toString
  }
  private def domain(r: Long): String =
    label(r, 8 + below(r, 5)) + "." + label(mix(r), 5 + below(mix(r), 4)) +
      "." + pick(tlds, mix(r + 1))
  private val hashLens = Array(32, 40, 64)

  /** Wide feed sizes: entry j is a pure function of (seed, j). */
  final case class WideFeed(seed: Long, entries: Int) {
    val nGlob: Int = math.max(1, entries / 100)
    val nV4: Int = entries / 5
    val nEmail: Int = entries / 8
    val nHash: Int = entries / 4
    val nDomain: Int = entries - nGlob - nV4 - nEmail - nHash
    // v4 entries: per /24 block 10.a.b.0/24, a nested /28 and a /32
    def v4Block(k: Int): (Int, Int) = ((k / 250) % 250 + 1, k % 250)
    def domainAt(k: Int): String = domain(rnd(seed, k, 101))
    def emailAt(k: Int): String =
      label(rnd(seed, k, 102), 6) + "@" + domain(rnd(seed, k, 103))
    def hashAt(k: Int): String =
      hex(rnd(seed, k, 104), hashLens(k % 3))
    def globAt(k: Int): String =
      if (k % 4 == 3) s"mw${k}-*-x*.q${k}.net" // several wildcards
      else s"*.zg$k.${tlds(k % tlds.length)}"
    def globHit(k: Int, r: Long): String =
      if (k % 4 == 3) s"mw${k}-${label(r, 4)}-x${label(mix(r), 3)}.q${k}.net"
      else s"${label(r, 6)}.zg$k.${tlds(k % tlds.length)}"
    def lines: Iterator[String] = {
      val lv = Array("low", "medium", "high", "critical")
      def line(e: String, j: Int) =
        s"$e,${lv(j % 4)},${if (j % 3 == 0) "c2" else "malware"},feed-w,${50 + j % 50}"
      val v4 = (0 until nV4).iterator.map { k =>
        val (a, b) = v4Block(k / 3)
        k % 3 match {
          case 0 => s"10.$a.$b.0/24"
          case 1 => s"10.$a.$b.${16 * (k % 16)}/28"
          case _ => s"10.$a.$b.${1 + (mix(k) >>> 40) % 250}"
        }
      }
      (v4 ++ (0 until nDomain).iterator.map(domainAt) ++
        (0 until nEmail).iterator.map(emailAt) ++
        (0 until nHash).iterator.map(hashAt) ++
        (0 until nGlob).iterator.map(globAt)).zipWithIndex
        .map { case (e, j) => line(e, j) }
    }
  }

  /** Turn i of the wide transcripts: 2..6 candidates among filler words,
    * each a feed hit with probability 1/10, otherwise a fresh random value.
    */
  def wideTurn(feed: WideFeed, seed: Long, i: Long): Row = {
    val sb = new java.lang.StringBuilder(320)
    val k = 2 + below(rnd(seed, i, 1), 5)
    var c = 0
    while (c < k) {
      sb.append(pick(words, rnd(seed, i, 30 + c))).append(' ')
        .append(pick(words, rnd(seed, i, 40 + c))).append(' ')
      val r = rnd(seed, i, 50 + c)
      val hit = below(r, 10) == 0
      val kind = below(mix(r), 100)
      val r2 = mix(r + 7)
      val tok =
        if (kind < 35) { // ipv4
          if (hit) {
            val (a, b) = feed.v4Block(below(r2, math.max(1, feed.nV4 / 3)))
            s"10.$a.$b.${below(mix(r2), 255)}"
          } else s"${11 + below(r2, 200)}.${below(mix(r2), 256)}." +
            s"${below(mix(r2 + 1), 256)}.${below(mix(r2 + 2), 256)}"
        } else if (kind < 70) { // domain
          if (!hit) domain(r2)
          else if (below(r2, 10) == 0) feed.globHit(below(mix(r2), feed.nGlob), mix(r2 + 3))
          else feed.domainAt(below(mix(r2), feed.nDomain))
        } else if (kind < 80) { // email (also yields its domain)
          if (hit) feed.emailAt(below(r2, feed.nEmail))
          else label(r2, 7) + "@" + domain(mix(r2))
        } else { // md5 / sha1 / sha256
          if (hit) feed.hashAt(below(r2, feed.nHash))
          else hex(r2, hashLens(below(mix(r2), 3)))
        }
      sb.append(tok).append(' ')
      c += 1
    }
    sb.append(pick(words, rnd(seed, i, 60)))
    Row(convId(1 + i / 24), (i % 24).toInt, pick(roles, rnd(seed, i, 2)),
      sb.toString, pick(tools, rnd(seed, i, 3)),
      new Timestamp(1700000000000L + i * 1000L))
  }

  // ------------------------------------------------------------- cache
  private def writeLines(f: File, header: String, lines: Iterator[String]): Int = {
    val w = new PrintWriter(f, StandardCharsets.UTF_8)
    var n = 0
    try {
      w.println(header)
      lines.foreach { l => w.println(l); n += 1 }
    } finally w.close()
    n
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Keep the `keep` most recently used inputs, delete the rest. */
  def evict(cacheDir: File, keep: Int): Unit =
    Option(cacheDir.listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.isDirectory).sortBy(-_.lastModified).drop(keep)
      .foreach(deleteTree)

  /** Generate (or reuse) one input. `turnAt` builds turn i; `feeds` are
    * written next to the turns. The turns go to `cpus` parquet files.
    */
  private def cached(spark: SparkSession, cacheDir: File, key: String,
      turns: Long, cpus: Int, feeds: Map[String, () => Iterator[String]],
      turnAt: (Long, Long) => Row): Inputs = {
    val dir = new File(cacheDir, key)
    val meta = new File(dir, "_meta")
    if (!meta.exists) {
      deleteTree(dir)
      dir.mkdirs()
      val feedSizes = feeds.map { case (name, lines) =>
        writeLines(new File(dir, s"$name.csv"), FeedHeader, lines())
      }
      val rows = spark.sparkContext.range(0L, turns, 1L, cpus)
        .map(i => turnAt(i, turns))
      spark.createDataFrame(rows, TurnSchema).write.parquet(
        new File(dir, "turns").getAbsolutePath)
      val written = spark.read.parquet(new File(dir, "turns").getAbsolutePath)
      val Seq(n, bytes) = written.agg(count(lit(1)),
        sum(octet_length(col("text")))).head().toSeq.map(_.asInstanceOf[Long])
      require(n == turns, s"generated $n turns, wanted $turns")
      val files = new File(dir, "turns").listFiles
        .count(_.getName.endsWith(".parquet"))
      val w = new PrintWriter(meta, StandardCharsets.UTF_8)
      try w.print(s"$n $bytes $files ${feedSizes.sum}") finally w.close()
    }
    dir.setLastModified(System.currentTimeMillis)
    val Array(n, bytes, files, feedEntries) =
      new String(java.nio.file.Files.readAllBytes(meta.toPath),
        StandardCharsets.UTF_8).trim.split(' ')
    Inputs(dir, n.toLong, bytes.toLong, files.toInt, feedEntries.toInt)
  }

  def route(spark: SparkSession, cacheDir: File, seed: Long, turns: Long,
      cpus: Int): Inputs =
    cached(spark, cacheDir, s"route-g$Version-s$seed-n$turns-c$cpus", turns, cpus,
      Map("threats" -> (() => threatsFeed.iterator),
        "allowlist" -> (() => allowlistFeed.iterator)),
      (i, n) => routeTurn(seed, i, n))

  def wide(spark: SparkSession, cacheDir: File, seed: Long, turns: Long,
      feedEntries: Int, cpus: Int): Inputs = {
    val feed = WideFeed(seed, feedEntries)
    cached(spark, cacheDir, s"wide-g$Version-s$seed-n$turns-f$feedEntries-c$cpus",
      turns, cpus, Map("wide" -> (() => feed.lines)),
      (i, _) => wideTurn(feed, seed, i))
  }
}
