package graft.queries

import graft.functions.{EntryMeta, GraftFunctions, IntelLookupMulti, ScanTurn}
import graft.intel.IntelDb
import graft.model.IntelEntry
import graft.ops.{Dedup, Similarity, TextStats}
import graft.pipeline.ScanJob
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-contract query inventory: one entry per operator family from
  * SURVEY.md §2 plus the training-data ops, each with a DuckDB oracle in
  * OracleDefs. Extraction queries synthesize their input text
  * deterministically FROM the testdata tables so the oracle knows the
  * expected output in closed form (planted positives AND planted negatives
  * that must not extract).
  */
object QueryDefs {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Align a result column with a DuckDB-HUGEINT oracle column (round-6
    * correctness fix, VERDICT r05 "What's wrong" #1). DuckDB types
    * `sum(BIGINT)` as HUGEINT, which every consumer-side conversion
    * (pandas, arrow) renders as a FLOAT class, while Spark's BIGINT stays
    * integral — numerically identical rows, different value rendering
    * under the driver's hash (the 11 r05 hash_match failures; q65 passed
    * the same pattern only because a NULL made its column read back as
    * float64 too). The oracle SQL is frozen this round, so the Spark side
    * adopts the float rendering, and tools/crosscheck.py (now
    * rendering-strict) goes 136/136. The double is exact only for
    * |v| < 2^53; a larger value fails the query with an error naming the
    * column instead of silently rounding (two different results would
    * otherwise compare equal).
    */
  private[queries] def oracleHugeint(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c,
      when(col(c) >= ExactDoubleLimit || col(c) <= -ExactDoubleLimit,
        raise_error(lit(s"column $c holds a value with |v| >= 2^53, " +
          "which the oracle's double rendering cannot hold exactly")))
        .otherwise(col(c).cast("double"))))

  private val ExactDoubleLimit = 1L << 53

  /** Write a small feed fixture through the session's DEFAULT Hadoop
    * filesystem and return its qualified path. A driver-local
    * java.io.tmpdir file (the previous form) is invisible to executors
    * when driver and executors do not share a filesystem (HDFS/S3
    * deployments); on local[*] the default FS is file:, so this is still
    * /tmp. `name` carries the extension (the readers sniff it); the
    * per-process pid keeps two drivers on one host from racing a shared
    * path, and deleteOnExit reclaims the file.
    */
  private def writeFeed(s: SparkSession, name: String,
      content: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(s.sparkContext.hadoopConfiguration)
    val p = fs.makeQualified(new org.apache.hadoop.fs.Path(
      s"/tmp/graft-${ProcessHandle.current().pid()}-$name"))
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.deleteOnExit(p)
    p.toString
  }

  // shared synthesized-text columns (must mirror OracleDefs SQL exactly)
  private def e = col("event_id")
  private def u = col("user_id")

  /** Spread a small scan across the session's cores before a per-row-
    * expensive stage (round 6, guide §2: scale-adaptive partitioning).
    * The sf tables are single small parquet files, so every scan is ONE
    * input split and a map-side-heavy query runs single-threaded; at
    * real scale the table has thousands of splits and the repartition
    * would only add a pointless shuffle — hence the partition-count
    * gate, which makes the shape adaptive instead of tuned to either
    * environment. Row order feeding the downstream op changes, so this
    * is only for queries whose result is order-insensitive past the
    * next aggregate (each call site states why).
    */
  private def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  private def extract(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(GraftFunctions.extract_iocs(textCol)).as("ioc"))
      .select(col("ioc.*"))

  /** [[extract]] over a [[spread]] input, for the queries whose per-row
    * scan work (checksum validation) dominates: measured 2.6x on q08
    * (1.2 s -> 0.45 s warm), while the cheap-scan queries LOSE to the
    * added exchange (q01 0.65 -> 0.93 s) and stay on plain [[extract]].
    * The text is projected before the exchange so the shuffle (and its
    * sort-before-repartition pass) moves one short string per row
    * (guide §2.3).
    */
  private def extractSpread(df: DataFrame, textCol: Column): DataFrame =
    spread(df.select(textCol.as("__text")))
      .select(explode(GraftFunctions.extract_iocs(col("__text"))).as("ioc"))
      .select(col("ioc.*"))

  // ------------------------------------------------------ E1-E8 extraction
  def qExtractIpv4(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("from 10."), u % 200, lit("."),
      e % 250, lit("."), e % 100, lit(" to 999.1.2.3 and 192.168.01.7 port 80")))
      .where(col("indicator_type") === "ipv4")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  def qExtractIpv6(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("peer 2001:db8:"), e % 9998 + 1,
      lit("::"), u % 8999 + 1000, lit(" and fe80::1 done")))
      .where(col("indicator_type") === "ipv6")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  def qExtractDomain(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("visit host"), e % 50,
      lit(".example.com and bare .com plus fake"), e % 9, lit(".notatld end")))
      .where(col("indicator_type") === "domain")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  def qExtractEmail(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("mail user"), e % 20, lit("@mail"),
      u % 5, lit(".org now")))
      .groupBy("indicator_type", "value").agg(count(lit(1)).as("n"))
      .orderBy("indicator_type", "value")

  def qExtractHashes(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"),
      concat(lit("md5 "), md5(e.cast("string")), lit(" sha "),
        sha2(concat(e.cast("string"), lit("s")), 256), lit(" bad "),
        substring(md5(concat(e.cast("string"), lit("x"))), 1, 31)))
      .groupBy("indicator_type")
      .agg(count(lit(1)).as("n"), min("value").as("min_value"),
        max("value").as("max_value"))
      .orderBy("indicator_type")

  val btcGenesis = "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa"
  val btcP2sh = "3J98t1WpEZ73CNmQviecrnyiWrnqRhWNLy"
  val btcBech32 = "bc1qw508d6qejxtdg4y5r3zarvary0c5xw7kv8f3t4"
  val btcBad = "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNb"

  def qExtractBitcoin(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("pay "),
      when(e % 4 === 0, btcGenesis).when(e % 4 === 1, btcP2sh)
        .when(e % 4 === 2, btcBech32).otherwise(btcBad),
      lit(" now")))
      .where(col("indicator_type") === "bitcoin")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  val ethLower = "0xde709f2102306220921060314715629080e2fb77"
  val ethMixed = "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed"
  val ethUpper = "0x52908400098527886E0F7030069857D2E4169EE7"
  val ethBad = "0x5Aaeb6053F3E94C9b9A09f33669435E7Ef1BeAed"

  def qExtractEthereum(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("to "),
      when(e % 4 === 0, ethLower).when(e % 4 === 1, ethMixed)
        .when(e % 4 === 2, ethUpper).otherwise(ethBad),
      lit(" sent")))
      .where(col("indicator_type") === "ethereum")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  // synthetic monero-shaped addresses valid under the reference's
  // plain-base58 + legacy-keccak checksum rule (see ChecksumsSpec)
  val xmrA = "4VGdn4xWLbXz5e1NrLbN3bPa891s7vbeUWpReyY6Bxv3NMJgVW1vex9NionnmeYUNpPpsQQzsJi9rtUWdaZ4tmzsdhjHBn"
  val xmrB = "4W4Thttq5KSdiv6HAw4qsuAY8r87xg2xHbcNKVTDiPpqGVhw1CmbJhmtsMT6XWLFHcLjjWxd2FifdSjbZCHhUJBhBMynp4"
  val xmrBad = xmrA.dropRight(1) + "2"

  def qExtractMonero(s: SparkSession, dir: String): DataFrame =
    extractSpread(t(s, dir, "events"), concat(lit("xmr "),
      when(e % 3 === 0, xmrA).when(e % 3 === 1, xmrB).otherwise(xmrBad),
      lit(" end")))
      .where(col("indicator_type") === "monero")
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")

  // ----------------------------------------------------- intel classify
  def qIntelClassify(s: SparkSession, dir: String): DataFrame = {
    val classifyUdf = udf { (entry: String) =>
      IntelDb.classify(entry).map(IntelDb.entryTypeName).orNull
    }
    t(s, dir, "events")
      .withColumn("entry",
        when(e % 6 === 0, concat(lit("10."), e % 250, lit(".0.0/16")))
          .when(e % 6 === 1, concat(lit("1.2.3."), e % 250))
          .when(e % 6 === 2, concat(lit("host"), e % 50, lit(".com")))
          .when(e % 6 === 3, concat(lit("*.glob"), e % 9, lit(".net")))
          .when(e % 6 === 4, concat(lit("literal:*.raw"), e % 9))
          .otherwise(concat(lit("glob:bad["), e % 9)))
      .withColumn("entry_type", classifyUdf(col("entry")))
      .where(col("entry_type").isNotNull)
      .groupBy("entry_type").agg(count(lit(1)).as("n"))
      .orderBy("entry_type")
  }

  // ----------------------------------------------------- lookups L2/L3/L4
  private def domainCands(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), concat(lit("visit host"), e % 50,
      lit(".example.com and bare .com plus fake"), e % 9, lit(".notatld end")))
      .where(col("indicator_type") === "domain")

  /** The metadata of the exploded `hit` column (an IntelLookupMulti
    * element), read in place from the broadcast databases: no metadata
    * relation and no join.
    */
  private def hitMeta(dbs: Seq[IntelDb]): Column =
    EntryMeta.column(col("hit.db_idx"), col("hit.entry_idx"), dbs)

  def qLookupLiteral(s: SparkSession, dir: String): DataFrame = {
    val intel = t(s, dir, "nation").where(col("n_nationkey") < 5)
      .select(concat(lit("host"), col("n_nationkey"), lit(".example.com"))
        .as("entry"))
    domainCands(s, dir)
      .join(broadcast(intel), col("value") === col("entry"))
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value")
  }

  def qLookupLpm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ks = t(s, dir, "nation").select(col("n_nationkey").cast("int"))
      .as[Int].collect().toSeq.sorted
    val entries = ks.map(k => IntelEntry(s"10.$k.0.0/16", "high", "c2",
      "feed", 80)) ++
      ks.map(k => IntelEntry(s"10.$k.${k * 3}.0/24", "critical", "c2",
        "feed", 95))
    val db = IntelDb.build("lpm", entries)
    val cands = extract(t(s, dir, "events"), concat(lit("src 10."), u % 200,
      lit("."), e % 250, lit("."), e % 100, lit(" seen")))
      .where(col("indicator_type") === "ipv4")
    cands
      .withColumn("hit",
        explode(IntelLookupMulti.column(col("value"), col("indicator_type"),
          Seq(db))))
      .select(col("value"), col("hit.prefix_len").as("prefix_len"),
        hitMeta(Seq(db)).getField("entry").as("entry"))
      .groupBy("value", "prefix_len", "entry").agg(count(lit(1)).as("n"))
      .orderBy("value", "prefix_len")
  }

  def qLookupGlob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ks = t(s, dir, "region").where(col("r_regionkey") < 4)
      .select(col("r_regionkey").cast("int")).as[Int].collect().toSeq.sorted
    val entries = ks.map(k => IntelEntry(s"*.glob$k.net", "high", "c2",
      "feed", 80)) :+ IntelEntry("glob:glob5", "low", "heuristic", "feed", 40)
    val db = IntelDb.build("glob", entries)
    val cands = extract(t(s, dir, "events"), concat(lit("see host"), e % 50,
      lit(".glob"), e % 7, lit(".net ok")))
      .where(col("indicator_type") === "domain")
    cands
      .withColumn("hit",
        explode(IntelLookupMulti.column(col("value"), col("indicator_type"),
          Seq(db))))
      .select(col("value"), hitMeta(Seq(db)).getField("entry").as("entry"))
      .groupBy("entry").agg(count(lit(1)).as("n"))
      .orderBy("entry")
  }

  def qLookupMultiDb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ks = t(s, dir, "nation").select(col("n_nationkey").cast("int"))
      .as[Int].collect().toSeq.sorted
    val db1 = IntelDb.build("threats", ks.filter(_ < 5).map(k =>
      IntelEntry(s"host$k.example.com", "high", "c2", "a", 90)))
    val db2 = IntelDb.build("allowlist", ks.filter(k => k >= 5 && k < 10)
      .map(k => IntelEntry(s"host$k.example.com", "unknown", "allow", "b", 99)))
    val dbs = Seq(db1, db2)
    domainCands(s, dir)
      .select(col("value"), explode(IntelLookupMulti.column(
        col("value"), col("indicator_type"), dbs)).as("hit"))
      .select(col("value"),
        hitMeta(dbs).getField("database_id").as("database_id"))
      .groupBy("database_id", "value").agg(count(lit(1)).as("n"))
      .orderBy("database_id", "value")
  }

  // --------------------------------------------- flagship e2e gold (A10)
  def goldIntel: Seq[IntelEntry] = Seq(
    IntelEntry("10.0.0.0/8", "high", "c2", "feed", 80),
    IntelEntry("10.5.0.0/16", "critical", "c2", "feed", 95),
    IntelEntry("evil0.example.com", "high", "phishing", "feed", 90),
    IntelEntry("*.example.com", "low", "heuristic", "feed", 40),
    // md5("1") — planted by goldTurns when event_id%5==2 && event_id%4==1
    IntelEntry("c4ca4238a0b923820dcc509a6f75849b", "medium", "malware",
      "feed", 70))

  def goldTurns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      concat(lit("conv-"), u % 50).as("conv_id"),
      e.cast("int").as("turn_idx"),
      col("event_type").as("role"),
      when(e % 5 === 0, concat(lit("saw 10."), e % 20, lit(".2.3 in log")))
        .when(e % 5 === 1, concat(lit("ping evil"), e % 3,
          lit(".example.com now")))
        .when(e % 5 === 2, concat(lit("hash "), md5((e % 4).cast("string")),
          lit(" seen")))
        .when(e % 5 === 3, concat(lit("visit clean"), e % 5,
          lit(".org today")))
        .otherwise(lit("all quiet here")).as("text"),
      lit("").as("tool"), col("ts"))

  def qMatchGold(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    ScanJob.goldCounts(ScanJob.matched(goldTurns(s, dir), Seq(db), s))
      .orderBy("indicator_type", "role")
  }

  /** q36: identical gold counts THROUGH the clean-turn pre-screen (the
    * north-rule bloom/trie reject path) — proves the superset filter drops
    * nothing, against the same closed-form oracle as q14.
    */
  def qMatchGoldPrescreen(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    ScanJob.goldCounts(
      ScanJob.matched(goldTurns(s, dir), Seq(db), s, prescreen = true))
      .orderBy("indicator_type", "role")
  }

  /** Route counts in ONE pass: `explode_outer` over the ScanTurn generator
    * gives one row per (candidate x hit) and one null row per clean turn,
    * so both the matched-sink counts and the clean count are row-local
    * (round 1 rebuilt the whole extract+lookup subtree twice plus an
    * anti-join).
    */
  def qRouteCounts(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    goldTurns(s, dir)
      .select(explode_outer(ScanTurn.column(col("text"), Seq(db))).as("r"))
      .select(when(col("r").isNull, lit("clean"))
        .otherwise(col("r.indicator_type")).as("sink"))
      .groupBy("sink").agg(count(lit(1)).as("n"))
      .orderBy("sink")
  }

  /** A1-A6 stats in ONE job (round 1 ran five separate actions), one row
    * per turn: a turn's ScanTurn array holds its (candidate x hit) rows,
    * so it matched iff the array is non-empty, and `extract_iocs` (the
    * same default extractor set) gives its candidates.
    */
  def qScanStats(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    goldTurns(s, dir)
      .select(octet_length(col("text")).cast("long").as("bytes"),
        size(GraftFunctions.extract_iocs(col("text"))).cast("long")
          .as("cands"),
        size(ScanTurn.column(col("text"), Seq(db))).cast("long").as("hits"))
      .agg(
        sum("cands").as("candidates_tested"),
        count(lit(1)).as("lines_processed"),
        count(when(col("hits") > 0, 1)).as("lines_with_matches"),
        sum("bytes").as("total_bytes"),
        coalesce(sum("hits"), lit(0L)).as("total_matches"))
      .select(expr(
        """stack(5,
          |  'candidates_tested', candidates_tested,
          |  'lines_processed', lines_processed,
          |  'lines_with_matches', lines_with_matches,
          |  'total_bytes', total_bytes,
          |  'total_matches', total_matches) as (stat, value)""".stripMargin))
      .orderBy("stat")
  }

  // --------------------------------------------------- dedup family
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents")).orderBy("text_hash")

  // maxBandDf = 0: the UNCAPPED audit form, so the oracle is the plain
  // band self-join (the capped default is oracle-checked by q38/q41/q52)
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents").where(col("doc_id") < 500),
      maxBandDf = 0)
      .orderBy("doc_a", "doc_b")

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashGroups(t(s, dir, "documents"))
      .orderBy("fingerprint")

  // maxShingleDf = 0: uncapped oracle form (the capped default is q31's)
  def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents")
      .where(col("doc_id") < 60), k = 5, minJaccard = 0.2, maxShingleDf = 0)
      .orderBy("doc_a", "doc_b")

  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairsExact(t(s, dir, "embeddings")
      .where(col("vec_id") < 100), minCosine = 0.2)
      .orderBy("vec_a", "vec_b")

  // ---------------------------------------- skew-hardened variants (q31+)
  /** q31: n-gram Jaccard under an adversarial hot shingle — every doc gets
    * the same 20-char prefix, whose 5-grams have df=60; maxShingleDf=30
    * excludes them from pair generation (the 100 TB quadratic-blowup guard)
    * while set sizes still count them.
    */
  def qDedupNgramCapped(s: SparkSession, dir: String): DataFrame = {
    val skewed = t(s, dir, "documents").where(col("doc_id") < 60)
      .select(col("doc_id"),
        concat(lit("hotprefix hotprefix "), col("text")).as("text"))
    Dedup.ngramJaccardPairs(skewed, k = 5, minJaccard = 0.05,
      maxShingleDf = 30)
      .orderBy("doc_a", "doc_b")
  }

  /** q32: multi-table LSH ANN with a per-bucket corpus cap (skew guard). */
  def qSimLshMulti(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings").where(col("vec_id") < 200),
      k = 3, planes = 4, tables = 3, maxBucketSize = 50)
      .orderBy("query_id", "rank")

  /** q33: embedding near-dup through the default LSH-bucketed path (the
    * all-pairs form is quarantined as embeddingCosinePairsExact).
    */
  def qDedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(s, dir, "embeddings")
      .where(col("vec_id") < 300), minCosine = 0.2, planes = 4,
      maxBucketSize = 0) // uncapped oracle form
      .orderBy("vec_a", "vec_b")

  /** q35: simhash near-dup pairs via multi-band blocking + true Hamming
    * filter (recall exact for hamming <= bands-1 by pigeonhole).
    */
  // maxBandDf = 0: uncapped oracle form (the capped default is q39's)
  def qDedupSimhashNear(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(s, dir, "documents")
      .where(col("doc_id") < 200), bits = 32, bands = 4, maxHamming = 3,
      maxBandDf = 0)
      .orderBy("doc_a", "doc_b")

  /** Identical-document flood fixture for the band-bucket cap queries
    * (q38/q39): 1200 docs from the events table, 1000 of them byte-identical
    * — the exact-duplicate flood that makes uncapped band joins quadratic
    * (10^3 identical docs -> 499,500 intra-flood pairs without the cap).
    */
  private def floodDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").where(e < 1200)
      .select(e.cast("long").as("doc_id"),
        when(e % 6 =!= 0,
          lit("identical flood document body repeated verbatim many times"))
          .otherwise(concat(lit("unique doc "), e)).as("text"))

  /** q38: minhash LSH pairs on the flood fixture with maxBandDf=10 — the
    * flood emits ~1000 x 10 pairs (every doc still linked to the bucket's
    * first 10 members) instead of ~500k.
    */
  def qDedupMinhashCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(floodDocs(s, dir), k = 5, numHashes = 8,
      bands = 4, maxBandDf = 10)
      .orderBy("doc_a", "doc_b")

  /** q39: simhash near-dup pairs on the flood fixture with maxBandDf=10
    * (identical docs -> identical fingerprints -> one band bucket).
    */
  def qDedupSimhashCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(floodDocs(s, dir), bits = 32, bands = 4,
      maxHamming = 3, maxBandDf = 10)
      .orderBy("doc_a", "doc_b")

  /** q41: the full dedup JOB step — near-dup pairs (capped minhash bands on
    * the flood fixture) -> connected components -> canonical selection.
    * The 1000 identical docs collapse into one cluster whose canonical is
    * the smallest doc_id; is_canonical marks the keep set.
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = floodDocs(s, dir)
    val pairs = Dedup.minhashLshPairs(docs, k = 5, numHashes = 8,
      bands = 4, maxBandDf = 10)
    Dedup.nearDupClusters(docs, pairs).orderBy("doc_id")
  }

  /** q34: case-insensitive match mode end-to-end (MatchMode::CaseInsensitive,
    * matchy-literal-hash/src/lib.rs:162-166): mixed-case literal + glob
    * entries built with caseInsensitive=true against mixed-case extracted
    * domains. The TLD stays lowercase in the text — PSL validation is
    * byte-exact regardless of match mode, same as the reference.
    */
  def qLookupCase(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("ci", Seq(
      IntelEntry("HOST3.ExAmple.COM", "high", "phishing", "feed", 90),
      IntelEntry("*.EXAMPLE.com", "low", "heuristic", "feed", 40)),
      caseInsensitive = true)
    extract(t(s, dir, "events"), concat(lit("visit HoSt"), e % 10,
      lit(".ExAmple.com end")))
      .where(col("indicator_type") === "domain")
      .withColumn("hit", explode(
        IntelLookupMulti.column(col("value"), col("indicator_type"), Seq(db))))
      .select(col("value"), hitMeta(Seq(db)).getField("entry").as("entry"))
      .groupBy("value", "entry").agg(count(lit(1)).as("n"))
      .orderBy("value", "entry")
  }

  /** q43: dynamic per-entry metadata passthrough (reference: arbitrary
    * HashMap<String, DataValue> per entry, matchy-data-format/src/lib.rs:
    * 49-77) — a CSV feed with custom columns (campaign/actor/ttl/score/
    * verified) outside the fixed ThreatDB shape is ingested through the
    * REAL CSV reader (IntelIngest.readCsv -> `extra` + `extra_types`
    * per-cell inference, match_cmd.rs:83-93), compiled into
    * an IntelDb, and the TYPED values round-trip through the broadcast
    * metadata join: the projection below reads them back out of the
    * rendered `extra_json` variant (ttl bigint, score double, verified
    * boolean), so the oracle proves inference + typed rendering, not just
    * string passthrough. host4's ttl 6442450944 exercises the reference's
    * TRUNCATING i64->Int32 cast (match_cmd.rs:85): it must come back as
    * -2147483648. Empty CSV cells become absent map keys (coalesced to
    * ''/-1/-1.0/false so the oracle compare is null-free).
    */
  def qLookupExtras(s: SparkSession, dir: String): DataFrame = {
    val csv =
      """entry,category,campaign,actor,ttl,score,verified
        |host0.example.com,c2,alpha,APT-0,3600,0.5,true
        |host1.example.com,c2,beta,APT-1,7200,1.25,false
        |host2.example.com,phish,gamma,APT-2,,,true
        |host3.example.com,c2,delta,,900,2.5,
        |host4.example.com,c2,epsilon,APT-4,6442450944,0.125,true
        |""".stripMargin
    val feed = graft.sources.IntelIngest.readCsv(s,
      writeFeed(s, "q43-feed.csv", csv))
    val db = IntelDb.build("feed",
      graft.sources.IntelIngest.toEntries(feed))
    val extraV = parse_json(col("meta.extra_json"))
    domainCands(s, dir)
      .withColumn("hit", explode(
        IntelLookupMulti.column(col("value"), col("indicator_type"), Seq(db))))
      .select(col("value"), hitMeta(Seq(db)).as("meta"))
      .select(col("value"), col("meta.category").as("category"),
        coalesce(try_variant_get(extraV, "$.campaign", "string"), lit(""))
          .as("campaign"),
        coalesce(try_variant_get(extraV, "$.actor", "string"), lit(""))
          .as("actor"),
        coalesce(try_variant_get(extraV, "$.ttl", "bigint"), lit(-1L))
          .as("ttl"),
        coalesce(try_variant_get(extraV, "$.score", "double"), lit(-1.0))
          .as("score"),
        coalesce(try_variant_get(extraV, "$.verified", "boolean"),
          lit(false)).as("verified"))
      .groupBy("value", "category", "campaign", "actor", "ttl", "score",
        "verified")
      .agg(count(lit(1)).as("n"))
      .orderBy("value")
  }

  // --------------------------------------------------- similarity family
  def qSimTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
      .orderBy("query_id", "rank")
  }

  // maxBucketSize = 0: uncapped oracle form (the capped default is q32's)
  def qSimLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings").where(col("vec_id") < 200),
      k = 3, planes = 6, maxBucketSize = 0)
      .orderBy("query_id", "rank")

  /** q40: IVF ANN — coarse-quantizer assignment, nprobe-list probing, and
    * a per-centroid corpus cap (the inverted-file scale path next to the
    * hyperplane-LSH one).
    */
  def qSimIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings").where(col("vec_id") < 300),
      k = 3, nlist = 8, nprobe = 2, maxBucketSize = 80)
      .orderBy("query_id", "rank")

  /** q44: IVF with SEEDED LLOYD REFINEMENT — same probe machinery as q40
    * but the coarse quantizer runs 2 deterministic k-means rounds
    * (integer-exact assignment + floor-division centroid update), the
    * recall-relevant upgrade over first-K init. The oracle reproduces both
    * Lloyd rounds bit-exactly in SQL.
    */
  def qSimIvfLloyd(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings").where(col("vec_id") < 300),
      k = 3, nlist = 8, nprobe = 2, maxBucketSize = 80, lloydRounds = 2)
      .orderBy("query_id", "rank")

  // --------------------------------------------------- text family
  def qTextLang(s: SparkSession, dir: String): DataFrame =
    TextStats.withLangId(t(s, dir, "documents"))
      .groupBy("lang_detected").agg(count(lit(1)).as("n"))
      .orderBy("lang_detected")

  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityFeatures(t(s, dir, "documents"))
      .select("doc_id", "n_chars_m", "n_tokens", "n_subwords", "alnum_ratio",
        "space_ratio", "punct_ratio", "stopword_hits", "mean_token_len")
      .orderBy("doc_id")

  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("canonical_doc_id"))
      .orderBy("fp")

  /** q42: the Gopher-style keep/drop quality filter — thresholds chosen so
    * the fixture exercises every rule (token band, mean-token-length band,
    * alnum ratio, stopword floor) and both verdicts.
    */
  def qTextQualityFilter(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityFilter(t(s, dir, "documents"),
      minTokens = 25, maxTokens = 90,
      minMeanTokenLen = 4.8, maxMeanTokenLen = 6.0,
      minAlnumRatio = 0.81, minStopwordHits = 1)
      .select("doc_id", "keep", "fail_reason")
      .orderBy("doc_id")

  /** q37: BPE-ish regex tokenization counts (letters/digits/symbol runs —
    * the byte-level-BPE pre-tokenization split) next to whitespace tokens.
    */
  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        TextStats.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
      .orderBy("doc_id")

  // --------------------------------------------------- relational family
  def qTpchAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100, 0).cast("bigint")).as("cents"))
      .orderBy("c_mktsegment")

  def qWindowFirstOrder(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"))
      .orderBy("o_custkey")
  }

  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("bigint")).as("cents"))
      .orderBy("hour", "event_type")

  /** q45: `redact_iocs` — planted positives of four families (varying
    * lengths, so the splice arithmetic differs per row) plus planted
    * NEGATIVES (strict-grammar rejects) that must survive verbatim, plus
    * the email/email-domain overlap that must collapse to ONE placeholder.
    * The oracle predicts the redacted string in closed form.
    */
  def qRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(GraftFunctions.redact_iocs(concat(
        lit("sess"), e % 7,
        lit(" from 10."), u % 200, lit("."), e % 250, lit("."), e % 100,
        lit(" to 999.1.2.3 mail user"), e % 20, lit("@mail"), u % 5,
        lit(".org hash "), md5((e % 13).cast("string")),
        lit(" visit host"), e % 50,
        lit(".example.com end 192.168.01.7 port "), e % 100)).as("red"))
      .groupBy("red").agg(count(lit(1)).as("n"))
      .orderBy("red")

  /** q46: `refang_text` ∘ `extract_iocs` — defanged indicators (the
    * threat-intel `[.]`/`(at)`/`[dot]`/`hxxp` forms) normalize back to
    * live form in one byte pass and then extract exactly like their
    * never-defanged equivalents (incl. the email/email-domain double
    * extraction and URL-context domains).
    */
  def qExtractDefanged(s: SparkSession, dir: String): DataFrame =
    extract(t(s, dir, "events"), GraftFunctions.refang_text(concat(
      lit("alert hxxp://mal"), e % 50, lit("[.]example[.]com from 10[.]"),
      u % 200, lit("[.]"), e % 250, lit("[.]"), e % 9,
      lit(" mailto bob"), e % 20, lit("(at)mail"), u % 5, lit("[dot]org end"))))
      .where(col("indicator_type").isin("domain", "ipv4", "email"))
      .groupBy("indicator_type", "value").agg(count(lit(1)).as("n"))
      .orderBy("indicator_type", "value")

  /** q47: benchmark decontamination — documents split into a deterministic
    * "eval set" (doc_id % 11 == 0) and a train set; per-train-doc count of
    * distinct shared word 4-grams (the corpus's planted near-dup groups
    * guarantee real cross-split overlap).
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Decontaminate.contaminationScores(
      // spread: the train-side gram explode is the map-heavy stage and
      // the single-file scan otherwise runs it in one task (result is
      // keyed downstream — partitioning invisible)
      spread(docs.where(col("doc_id") % 11 =!= 0)),
      docs.where(col("doc_id") % 11 === 0), n = 4)
      .orderBy("doc_id")
  }

  /** q48: Gopher repetition rules (the other half of the published quality
    * family next to q42's content rules) over a derived MULTI-LINE corpus:
    * documents grouped 40-ways on doc_id, ordered-concatenated with \n,
    * with docs 0..59 appended once more so groups 0..19 carry two
    * duplicated lines and 20..39 one — dup_line_frac then splits the
    * groups across the keep threshold, exercising both verdicts. The top
    * word-2-gram rule runs on the same corpus (multiplicity-counted,
    * deterministic tie-break).
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val corpus = derivedLineCorpus(s, dir, idName = "g", textName = "txt")
    val rep = TextStats.repetitionSignals(corpus, "txt")
      .select(col("g"), col("n_lines").cast("long").as("n_lines"),
        col("dup_line_frac"), col("dup_line_char_frac"))
    val top = TextStats.topNgramCharFrac(corpus, n = 2,
      textCol = "txt", idCol = "g")
    rep.join(top, Seq("g"))
      .withColumn("fail_reason",
        when(col("dup_line_frac") > 0.1, "dup_lines")
          .when(col("top_gram_char_frac") > 0.016, "top_2gram"))
      .withColumn("keep", col("fail_reason").isNull)
      .orderBy("g")
  }

  /** q49: per-conversation rollup over the gold transcript table — turn
    * count, distinct roles, text chars, wall-clock span (exact micros),
    * and the whole-conversation fingerprint under stable turn order.
    */
  def qConvStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Conversations.stats(goldTurns(s, dir))
      .orderBy("conv_id")

  /** q50: whole-conversation exact dedup — conversations 0..9 re-ingested
    * under a "dup-" prefix must collapse onto their originals (n_convs=2,
    * canonical = the original id); the other 40 stay singletons.
    */
  def qConvDedup(s: SparkSession, dir: String): DataFrame = {
    val turns = goldTurns(s, dir)
    val dups = turns
      .where(col("conv_id").isin((0 until 10).map("conv-" + _): _*))
      .withColumn("conv_id", concat(lit("dup-"), col("conv_id")))
    graft.ops.Conversations.dedupExact(turns.unionByName(dups))
      .orderBy("fp")
  }

  /** q51: SemDeDup — semantic near-dup pruning inside k-means clusters.
    * Thresholds chosen so the sf0.01 fixture drops 28 of 300 vectors and
    * the cluster cap actually bites (largest cluster 44 > cap 40), so the
    * cap's coverage guarantee (capped-out vectors keep, never vanish) is
    * oracle-checked too.
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings").where(col("vec_id") < 300),
      threshold = 0.35, nlist = 8, maxClusterSize = 40)
      .orderBy("vec_id")

  /** q52: the COMPOSED curation audit — quality rules (q42 thresholds) +
    * near-dup clustering (capped minhash bands -> CC, as q41) + benchmark
    * decontamination (4-grams vs the doc_id%11==0 eval split, as q47) over
    * the train split, one verdict row per document with the first failing
    * stage named. `minShared=1` (the aggressive GPT-3-style "any shared
    * gram drops" form) — with stage precedence the earlier stages absorb
    * most overlapping docs, and at threshold 1 the sf0.01 fixture still
    * exercises every quality rule, near_dup, contaminated AND keep.
    */
  def qCurate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Curation.curate(
      // spread the train side (guide §2: the single-file scan otherwise
      // runs curate's whole map side — tokenize, minhash sweep, contam
      // explode — in ONE task); every downstream stage is keyed, so the
      // partitioning is invisible in the result. Eval side stays as-is
      // (it only builds the broadcast gram set).
      spread(docs.where(col("doc_id") % 11 =!= 0)),
      docs.where(col("doc_id") % 11 === 0),
      minTokens = 25, maxTokens = 90,
      minMeanTokenLen = 4.8, maxMeanTokenLen = 6.0,
      minAlnumRatio = 0.81, minStopwordHits = 1,
      k = 5, numHashes = 8, bands = 4, maxBandDf = 10,
      contamN = 4, minShared = 1)
      .orderBy("doc_id")
  }

  /** q56: JSON-feed DataValue fidelity through the lookup flow — the S6
    * counterpart of q43's CSV path. The feed is written as real JSON and
    * ingested through `IntelIngest.readJson`, which types each value from
    * its own parsed variant (cli_utils.rs:213-243): `ttl` is Int32(3600) on host0
    * but Double(7200.5) on host1 — a per-COLUMN inference would widen
    * host0 to 7200.5's double and render "3600.0"; the string projection
    * of the rendered `extra_json` variant distinguishes the two ("3600"
    * vs "3600.0"). Also exercised: u64::MAX staying u64, 2^64 taking the
    * as_f64 fallback, and a numeric-looking STRING staying quoted (read
    * back here unquoted by the string get — the quoting is asserted
    * byte-exact in SinksSpec).
    */
  def qLookupExtrasJson(s: SparkSession, dir: String): DataFrame = {
    val json =
      """[{"key": "host0.example.com", "data": {"category": "c2",
        |   "ttl": 3600, "verified": true}},
        | {"key": "host1.example.com", "data": {"category": "c2",
        |   "ttl": 7200.5, "port": "0443"}},
        | {"key": "host2.example.com", "data": {"category": "phish",
        |   "big": 18446744073709551615}},
        | {"key": "host3.example.com", "data": {"category": "c2",
        |   "big": 18446744073709551616}}]
        |""".stripMargin
    // per-process FIXED path (writeFeed): re-invocations (bench timing
    // loops) overwrite one file instead of accumulating temp dirs
    val feed = graft.sources.IntelIngest.readJson(s,
      writeFeed(s, "q56-feed.json", json))
    val db = IntelDb.build("feed",
      graft.sources.IntelIngest.toEntries(feed))
    val extraV = parse_json(col("meta.extra_json"))
    domainCands(s, dir)
      .withColumn("hit", explode(
        IntelLookupMulti.column(col("value"), col("indicator_type"), Seq(db))))
      .select(col("value"), hitMeta(Seq(db)).as("meta"))
      .select(col("value"), col("meta.category").as("category"),
        coalesce(try_variant_get(extraV, "$.ttl", "string"), lit(""))
          .as("ttl"),
        coalesce(try_variant_get(extraV, "$.verified", "string"), lit(""))
          .as("verified"),
        coalesce(try_variant_get(extraV, "$.port", "string"), lit(""))
          .as("port"),
        coalesce(try_variant_get(extraV, "$.big", "string"), lit(""))
          .as("big"))
      .groupBy("value", "category", "ttl", "verified", "port", "big")
      .agg(count(lit(1)).as("n"))
      .orderBy("value")
  }

  /** q55: the conversation→curation BRIDGE — the full
    * transcript-table-to-keep-set path a training-data user actually runs:
    * `Conversations.transcriptText` reconstructs one document per
    * conversation from the gold turn table (stable turn order), then
    * `Curation.curate` grades the reconstructed corpus end-to-end —
    * quality rules, capped-minhash near-dup CC, 13-gram decontamination —
    * with conv ids ending in 0 held out as the eval split. Thresholds are
    * tuned to the sf0.01 transcript distribution (732..946 tokens, mean
    * token len 7.57..8.40, alnum 0.796..0.822) so every verdict class
    * appears: 18 keep / 9 contaminated / 8 near_dup / 10 quality across
    * four distinct rules. `minStopwordHits = 0` because the synthesized
    * turn texts never contain the stopword set — the no_stopwords rule is
    * exercised by q42/q52. Cluster labels are conv-id STRINGS here
    * (min-label CC is ordered, not arithmetic — lexicographic min in both
    * engines), proving curate needs no numeric doc ids.
    */
  def qConvCurate(s: SparkSession, dir: String): DataFrame = {
    // stage the reconstructed transcripts ONCE: both curate inputs
    // derive from this frame, and leaving it lazy re-runs the conv_id
    // shuffle + collect_list aggregation for the train AND eval sides
    // (~2x the reconstruction cost; at cluster scale, 2x the turn-table
    // scan). curate's returned verdict table is itself staged, so nothing
    // downstream re-reads the transcripts and the stage is released
    // before this function returns.
    val isEval =
      split(col("doc_id"), "-").getItem(1).cast("int") % 10 === 0
    graft.ops.Staging.using(
      graft.ops.Conversations.transcriptText(goldTurns(s, dir))
        .select(col("conv_id").as("doc_id"), col("transcript")),
      "conv-transcripts") { docs =>
      graft.ops.Curation.curate(
        docs.where(!isEval), docs.where(isEval),
        minTokens = 740, maxTokens = 920,
        minMeanTokenLen = 7.6, maxMeanTokenLen = 8.3,
        minAlnumRatio = 0.80, minStopwordHits = 0,
        k = 7, numHashes = 8, bands = 4, maxBandDf = 10,
        contamN = 13, minShared = 4,
        textCol = "transcript")
    }.orderBy("doc_id")
  }

  /** q57: ExactSubstr-style duplicate-span statistics (Lee et al. 2022,
    * the verbatim-run half of the dedup family next to the minhash/simhash
    * approximations) — per document, tokens covered by cross-document
    * verbatim runs of >= 8 tokens, as an interval UNION (a 20-token shared
    * run counts 20 tokens, not 13 windows). The fixture's planted near-dup
    * groups give ~47 of 500 sf0.01 docs a non-zero span with partial
    * fractions (0.91..1.0), so both the coverage union and the zero path
    * are oracle-checked.
    */
  def qDedupSubstr(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrStats(t(s, dir, "documents"), n = 8)
      .orderBy("doc_id")

  /** q59: corpus-level line dedup (boilerplate removal) over q48's derived
    * multi-line corpus (docs grouped 40-ways, docs 0..59 appended once
    * more, so their lines occur >= 2 times corpus-wide). minCount=2
    * removes exactly those duplicated lines — plus any pre-existing
    * exact-duplicate document texts (the fixture's planted dup groups) —
    * and the oracle checks the REASSEMBLED text byte-exactly, so line
    * order preservation is gated, not just the counts.
    */
  def qTextLineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLines(
      derivedLineCorpus(s, dir, idName = "doc_id", textName = "text"),
      minCount = 2).orderBy("doc_id")

  /** q60: gap-based batch sessionization of the events table — 2-hour
    * inactivity gap, per-session rollup (count, start/end, integer-cents
    * value sum; a float sum is order-dependent and would not reproduce in
    * the oracle). 150 users x ~67 events over weeks of synthetic ts give
    * thousands of sessions with both single-event and long sessions.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sessionize.stats(t(s, dir, "events"), gapSeconds = 7200,
      extraAggs = Seq(
        sum(round(col("value") * 100, 0).cast("bigint")).as("cents")))
      .orderBy("user_id", "session_idx")

  /** q61: nearest-rank percentiles of event value per event_type (the
    * SLA-rollup shape). The selected values are ACTUAL parquet doubles
    * (both engines pick, never interpolate), so the compare is bit-exact
    * by construction; ranks are pure integer permille arithmetic.
    */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Percentiles.nearestRank(t(s, dir, "events"),
      Seq("event_type"), "value",
      Seq("50" -> 500, "90" -> 900, "99" -> 990))
      .orderBy("event_type")

  /** The q48/q59 shared derived MULTI-LINE corpus (the fixture tables are
    * single-line): documents grouped 40-ways on doc_id, docs 0..59
    * appended once more (so groups carry duplicated lines and those lines
    * occur >= 2 times corpus-wide), ordered-concatenated with \n.
    * Single-sourced so the two fixtures cannot drift; the SQL mirror is
    * OracleDefs.duckDerivedCorpus (review find: this shape previously
    * lived in four places).
    */
  private def derivedLineCorpus(s: SparkSession, dir: String,
      idName: String, textName: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // the group id lives under a RESERVED name until after the aggregate:
    // an idName of "doc_id" would otherwise overwrite the original id
    // BEFORE the struct sort and silently reorder every group's lines
    // (caught by the q59 crosscheck when this helper was extracted)
    docs.unionAll(docs.where(col("doc_id") < 60))
      .withColumn("__graft_gid", pmod(col("doc_id"), lit(40)))
      .groupBy("__graft_gid")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text"))))
        .as("arr"))
      .select(col("__graft_gid").as(idName),
        concat_ws("\n", transform(col("arr"), x => x.getField("text")))
          .as(textName))
  }

  /** q53: deterministic hash-based train/val/test split assignment —
    * 80/10/10 under salt "v1"; reproducible (md5 + integer thresholds,
    * every engine agrees bit-exactly) and growth-stable (a document's
    * split never depends on the rest of the corpus).
    */
  def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplits(t(s, dir, "documents"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
      .select("doc_id", "split")
      .orderBy("doc_id")

  /** q54: deterministic Bernoulli downsample at rate 0.25, salt "s1" —
    * the stable keep set (same survivors on any corpus superset).
    */
  def qSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.sample(t(s, dir, "documents"), rate = 0.25,
      salt = "s1")
      .select("doc_id")
      .orderBy("doc_id")

  /** q58: deterministic per-key quota cap (domain balancing) under SKEW —
    * the first half of the corpus is funneled onto one "hot" key (250 of
    * 500 sf0.01 docs; NOT doc_id parity, which correlates with `source` =
    * src(doc_id%20) and would push every group over quota), the rest keep
    * their `source` (12-13 docs each). Quota 15: the hot key is cut
    * 250 -> 15 by hash-point rank while every below-quota source survives
    * whole, so the oracle checks both the bite and the no-bite path plus
    * the exact hash-ranked membership.
    */
  def qSampleCapKey(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .withColumn("k",
        when(col("doc_id") < 250, lit("hot")).otherwise(col("source")))
    graft.ops.Sampling.capPerKey(keyed, "k", maxPerKey = 15, salt = "d1")
      .select("doc_id", "k")
      .orderBy("doc_id")
  }

  /** q62: sliding-window event rates — 1-hour windows every 15 minutes
    * per event_type (each event covers exactly 4 windows, epoch-aligned).
    * Counts and integer-cents sums only (a float sum is order-dependent);
    * window bounds stay TIMESTAMP_NTZ so both engines compare them naive.
    */
  def qSlidingRates(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.Windows.slidingAgg(t(s, dir, "events"),
      widthSeconds = 3600, slideSeconds = 900, tsCol = "ts",
      keyCols = Seq("event_type"),
      aggs = Seq(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("bigint")).as("cents")))
      .select("window_start", "window_end", "event_type", "n", "cents"),
      "cents")
      .orderBy("window_start", "event_type")

  /** q63: MAD-based robust anomaly flags per event_type (3×MAD rule).
    * Both medians are nearest-rank DATA values and the only float ops are
    * one IEEE subtract/multiply/compare, so the flag set is engine-exact;
    * the fixture's uniform value distribution still flags a tail (MAD of
    * a uniform is ~range/4, values near the edges exceed 3×).
    */
  def qAnomalyMad(s: SparkSession, dir: String): DataFrame =
    graft.ops.Anomaly.madOutliers(t(s, dir, "events"),
      Seq("event_type"), "value", kPermille = 3000)
      .select("event_id", "event_type", "value", "group_median",
        "group_mad", "abs_dev")
      .orderBy("event_id")

  /** q64: TF-IDF distinctive terms — top 5 per document by the integer
    * rank (tf DESC, df ASC, term ASC); tf/df ride along so the oracle
    * gates the counts, not just the term picks. Shares the corpus-wide
    * tokenizer with decontamination/minhash (one definition of "word").
    */
  def qTfidfTerms(s: SparkSession, dir: String): DataFrame =
    graft.ops.Tfidf.topTerms(t(s, dir, "documents"), k = 5)
      .orderBy("doc_id", "rank")

  /** q65: grok-parse of a synthesized structured-log stream — log lines
    * are BUILT deterministically from the events table (ISO timestamp,
    * level derived from event_type, user/type/cents/quoted-msg fields),
    * plus planted garbage lines (every 250th event id) that must land in
    * the dead-letter group (NULL fields, counted as unparsed), never
    * throw. The rollup re-aggregates the PARSED fields, so a mis-parse of
    * any field breaks the closed-form oracle.
    */
  def qGrokParse(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100, 0).cast("bigint")
    val lines = t(s, dir, "events").select(concat(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(" "),
      when(col("event_type") === "error", "ERROR").otherwise("INFO"),
      lit(" user="), col("user_id"),
      lit(" type="), col("event_type"),
      lit(" cents="), cents,
      lit(" msg=\"evt-"), col("event_id"), lit("\"")).as("line"))
      .unionAll(t(s, dir, "events").where(col("event_id") % 250 === 0)
        .select(concat(lit("garbage line "), col("event_id")).as("line")))
    val pat = "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} " +
      "user=%{INT:user} type=%{WORD:type} cents=%{INT:cents} " +
      "msg=%{QUOTEDSTRING:msg}"
    graft.ops.LogParse.parse(lines, "line", pat)
      .groupBy("level", "type")
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast("long")).as("sum_cents"),
        count(when(!col("_grok_matched"), 1)).as("unparsed"))
      .orderBy("level", "type")
  }

  /** q66: stratified downsample of documents by language — the training-
    * mix rebalance (keep all German, half the English, a quarter of the
    * French; es/zh fall to the 10% default). Membership is the same
    * 60-bit hash point as q54 with per-stratum integer bounds, so the
    * oracle embeds [[graft.ops.Sampling.rateBound]]'s exact literals.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"), "lang",
      Seq("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1,
      salt = "mix1")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** q67: the full north-rule chain over STRUCTURED logs — grok-parse a
    * synthesized firewall-ish stream, LPM-enrich the parsed src address
    * against the q11 feed (most-specific-wins), route matched vs clean,
    * and aggregate per (sink, level, action, entry). Every stage's output
    * feeds the next, so a mis-parse, a wrong LPM pick, or a routing error
    * each breaks a different oracle row. Map-side until the single final
    * aggregate: parse is shuffle-free, the lookup is a broadcast compiled
    * db, routing is a column verdict — the flagship pipeline's shape in
    * one query.
    */
  def qGrokEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ks = t(s, dir, "nation").select(col("n_nationkey").cast("int"))
      .as[Int].collect().toSeq.sorted
    val entries = ks.map(k => IntelEntry(s"10.$k.0.0/16", "high", "c2",
      "feed", 80)) ++
      ks.map(k => IntelEntry(s"10.$k.${k * 3}.0/24", "critical", "c2",
        "feed", 95))
    val db = IntelDb.build("lpm", entries)
    val lines = t(s, dir, "events").select(concat(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(" "),
      when(col("event_type") === "error", "ERROR").otherwise("INFO"),
      lit(" src=10."), col("user_id") % 200,
      lit("."), col("event_id") % 250, lit("."), col("event_id") % 100,
      lit(" action="),
      when(col("event_type") === "click", "allow").otherwise("deny"))
      .as("line"))
    val pat = "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} " +
      "src=%{IPV4:src} action=%{WORD:action}"
    graft.ops.LogParse.parse(lines, "line", pat)
      .where(col("_grok_matched"))
      .withColumn("hits",
        IntelLookupMulti.column(col("src"), lit("ipv4"), Seq(db)))
      .withColumn("sink",
        when(size(col("hits")) > 0, "matched").otherwise("clean"))
      .withColumn("hit", explode_outer(col("hits")))
      // a clean row's null hit reads null metadata
      .withColumn("entry", hitMeta(Seq(db)).getField("entry"))
      .groupBy("sink", "level", "action", "entry")
      .agg(count(lit(1)).as("n"))
      .orderBy("sink", "level", "action", "entry")
  }

  /** q68: greedy ordered-funnel conversion counts (view → click →
    * purchase) over the events table — per-user event streams fold by
    * (ts, event_id), so the counts are a pure function of the data even
    * under equal timestamps. 150 users × ~67 events at sf0.01 means
    * essentially every user reaches every step EVENTUALLY — except the
    * handful whose stream starts too late or ends too early, which is
    * exactly what makes the greedy positions worth gating.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.reachedCounts(t(s, dir, "events"),
      Seq("view", "click", "purchase"))
      .orderBy("step_idx")

  /** q69: cohort retention matrix over a DERIVED user key — the md5
    * hash point mod 2203 (NOT `event_id % 937`: the fixture's ts is
    * monotone in event_id, so a modulus key gives every user evenly
    * spaced events and a single-cohort matrix that a broken — e.g.
    * unpartitioned — cohort window would pass; review-pass-11 find,
    * verified byte-identical in DuckDB). The hash scatter puts ~4.5
    * events per synthetic user at random positions, spreading first
    * events across all 5 weeks (cohort sizes 825/878/347/98/34 at
    * sf0.01), so the oracle gates cohort assignment, offset arithmetic,
    * AND the week-dedup.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retention.matrix(
      t(s, dir, "events").withColumn("u",
        graft.ops.Sampling.hashPoint(col("event_id"), "r") % 2203),
      userCol = "u")
      .orderBy("cohort_week", "week_offset")

  /** q70: importance-weighted downsample — keep probability
    * min(1, (n_chars/100)·0.5), so long documents saturate the clamp
    * (always kept) while short ones thin proportionally: both the clamp
    * and the partial path are oracle-gated. The float weight math is the
    * identical IEEE expression on both engines; membership is the shared
    * 60-bit hash point under salt "w1".
    */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      t(s, dir, "documents")
        .withColumn("w", col("n_chars") / lit(100.0)),
      "w", rate = 0.5, salt = "w1")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** q71: as-of join — every click event enriched with the user's most
    * recent error "state" at or before the click (tier = error event_id
    * % 5). The build side is a deterministic slice of the same events
    * table, so the oracle can re-derive the winner independently with a
    * LATERAL probe (ORDER BY ts DESC, event_id DESC LIMIT 1) — gating
    * the at-or-before boundary, the equal-ts tie (build visible at the
    * probe's exact ts), the largest-tie-wins rule, and the left-join
    * NULLs for clicks before a user's first error.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val build = events.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("state_event"),
        (col("event_id") % 5).as("tier"))
    graft.ops.AsofJoin.asofJoin(
      events.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      build, keys = Seq("user_id"), carry = Seq("state_event", "tier"))
      .select("event_id", "user_id", "state_event", "tier")
      .orderBy("event_id")
  }

  /** q72: event-type transition bigrams per user — n plus
    * P(next | prev) as one IEEE division of two exact longs. The order
    * key (ts, event_id) is a total order, so the bigram multiset is
    * closed-form for the oracle's lag window.
    */
  def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Transitions.bigramCounts(t(s, dir, "events"))
      .orderBy("prev_type", "next_type")

  /** q73: distinct rollup with per-user distribution stats — distinct
    * users, event count, integer-cents sum AND the busiest single
    * user's spend per (event_type, epoch-day), all in one pass/two
    * exchanges (RollupsSpec pins the plan). The oracle re-derives the
    * flat aggregates with COUNT(DISTINCT) and the distribution stat
    * with an independent subquery.
    */
  def qDistinctRollup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rollups.distinctRollup(
      t(s, dir, "events"),
      keys = Seq(col("event_type"),
        // integer `div`, not `/` (Column `/` is DOUBLE division)
        expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("epoch_day")),
      entityCol = col("user_id"),
      distinctName = "n_users",
      innerAggs = Seq(
        sum(round(col("value") * 100, 0).cast("bigint")).as("cents")),
      outerAggs = Seq(sum("cents").as("cents"),
        max("cents").as("max_user_cents")))
      .orderBy("event_type", "epoch_day")

  /** q74: top-3 users by integer-cents spend per event_type — the
    * aggregate-then-rank shape (the rank window runs over one row per
    * (type, user), never the raw corpus). Exact metric + ascending-id
    * tie-break make the selected set deterministic.
    */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rollups.topKPerGroup(
      t(s, dir, "events"), groupCols = Seq("event_type"),
      entityCol = "user_id",
      metric = sum(round(col("value") * 100, 0).cast("bigint")), k = 3)
      .withColumnRenamed("metric", "cents")
      .orderBy("event_type", "rank")

  /** q75: point-in-interval join — clicks inside each purchase's 2-hour
    * follow-up window, per user, counted per window. The 1-hour bucket
    * means every interval spans 2–3 buckets, so the oracle's plain theta
    * join gates the explode arithmetic, the half-open end, and the
    * no-duplicate-pairs property (a double-counted click changes
    * n_clicks).
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val intervals = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("interval_id"), col("user_id"),
        col("ts").as("start"),
        (col("ts") + expr("interval 2 hours")).as("end"))
    val points = events.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.ops.IntervalJoin.pointInInterval(points, intervals,
      keys = Seq("user_id"), bucketMicros = 3600000000L)
      .groupBy("interval_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("interval_id")
  }

  /** q76: growth accounting — per epoch-day: active users, new users
    * (first-ever day), returning, and the cumulative user base. The
    * oracle re-derives new/returning through an independent min-join
    * instead of the op's shared-exchange window.
    */
  def qGrowth(s: SparkSession, dir: String): DataFrame =
    graft.ops.Growth.newVsReturning(t(s, dir, "events"))
      .orderBy("period")

  /** q77: the temporal-join bridge — incident impact analysis composing
    * the session-6 family end-to-end: every 7th error opens a 1-hour
    * incident window (IntervalJoin, time-only); each purchase inside a
    * window is enriched with that user's signup tier in effect at
    * purchase time (AsofJoin); the rollup counts purchases and
    * integer-cents per (incident, tier), tier NULL = purchased inside
    * an incident before ever signing up. Three oracle mechanisms gate
    * three different stages (theta join / LATERAL probe / plain GROUP
    * BY), so a bucket-explode bug, a carry-forward bug, and an
    * aggregation bug each break different rows.
    */
  def qIncidentImpact(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val incidents = events
      .where(col("event_type") === "error" && col("event_id") % 7 === 0)
      .select(col("event_id").as("incident_id"), col("ts").as("start"),
        (col("ts") + expr("interval 1 hour")).as("end"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100, 0).cast("bigint").as("cents"))
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("event_id") % 3).as("tier"))
    val enriched = graft.ops.AsofJoin.asofJoin(
      purchases, signups, keys = Seq("user_id"), carry = Seq("tier"))
    graft.ops.IntervalJoin.pointInInterval(enriched, incidents,
      bucketMicros = 3600000000L)
      .groupBy("incident_id", "tier")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
      .orderBy("incident_id", "tier")
  }

  /** q78: edit-distance-1 fuzzy watchlist join (typosquat detection) —
    * observed domains synthesized per event (exact brand hits,
    * substitution/deletion/insertion typos, distance-2+ misses, planted
    * NULLs) against a 10-brand watchlist. The Spark side goes through
    * deletion-neighborhood candidates + residual; the oracle is the
    * PLAIN levenshtein cross product (fine at sf0.01), so a missed
    * neighborhood class or a double-reported multi-variant pair breaks
    * rows. Note the exact brand probes legitimately match EVERY brand at
    * distance 1 (brandX.com ↔ brandY.com is one substitution) — the
    * multi-match case is deliberate coverage.
    */
  def qFuzzyDomains(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    def brand(prefix: String, tld: String): Column =
      concat(lit(prefix), (col("user_id") % 10).cast("string"), lit(tld))
    val probes = events.select(
      when(col("event_id") % 997 === 0, lit(null).cast("string"))
        .when(col("event_id") % 7 === 0, brand("brand", ".com"))
        .when(col("event_id") % 7 === 1, brand("brend", ".com"))
        .when(col("event_id") % 7 === 2, brand("brnd", ".com"))
        .when(col("event_id") % 7 === 3, brand("brannd", ".com"))
        .when(col("event_id") % 7 === 4, brand("brend", ".net"))
        .otherwise(concat(lit("svc-"), col("user_id").cast("string"),
          lit(".internal")))
        .as("domain"))
    val watch = s.range(10).select(
      concat(lit("brand"), col("id").cast("string"), lit(".com"))
        .as("domain"))
    graft.ops.FuzzyJoin.editDistance1Join(probes, "domain",
      watch, "domain")
      .orderBy("probe", "watch")
  }

  /** q79: item co-occurrence lift over user-day entities — which event
    * types fire together within one user's day, vs what independence
    * predicts (~2.2 events per user-day in the fixture, so the sets are
    * sparse and lift is non-trivial). Planted NULL items (every 499th
    * event) exercise the phantom-drop rule. The oracle re-derives pairs
    * via a distinct self-join — a different mechanism than the map-side
    * array expansion.
    */
  def qCooccurrence(s: SparkSession, dir: String): DataFrame =
    graft.ops.Cooccurrence.pairCounts(
      t(s, dir, "events").where(col("user_id").isNotNull &&
        col("ts").isNotNull),
      entityCol = col("user_id") * 100000 +
        expr("unix_micros(cast(ts as timestamp)) div 86400000000"),
      itemCol = when(col("event_id") % 499 === 0,
        lit(null).cast("string")).otherwise(col("event_type")))
      .orderBy("item_a", "item_b")

  /** q80: log template mining — messages synthesized from events in two
    * shapes (request lines with varying user/type tokens and constant
    * status, and constant heartbeat lines) under three first-token
    * prefixes; six templates with exact counts. The oracle re-mines via
    * zipped UNNEST + min/max collapse + ordered string_agg — independent
    * mechanisms for every stage.
    */
  def qLogTemplates(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val prefix = when(col("event_id") % 3 === 0, lit("api"))
      .when(col("event_id") % 3 === 1, lit("svc"))
      .otherwise(lit("db"))
    val msg = when(col("event_id") % 2 === 0,
      concat(prefix, lit(" request user="),
        col("user_id").cast("string"), lit(" type="), col("event_type"),
        lit(" status=200")))
      .otherwise(concat(prefix, lit(" heartbeat ok")))
    graft.ops.LogTemplates.mine(events.select(msg.as("msg")), col("msg"))
      .orderBy("n_tokens", "first_token")
  }

  /** q82: beaconing detection — regular-interval keys flagged via exact
    * integer gap medians ([[graft.ops.Beaconing]]). The fixture plants
    * three populations over the events table: users ≡ 0 (mod 7) beacon
    * exactly (60 s grid), users ≡ 1 (mod 7) beacon with ±4 s
    * deterministic jitter (still within the 20% MAD bound), everyone
    * else keeps their organic irregular timestamps (~11 h mean gap over
    * a month — MAD far above the bound). The seq/row_number fixture
    * ordering is mirrored verbatim in the oracle.
    */
  def qBeaconing(s: SparkSession, dir: String): DataFrame = {
    val base = 1704067200000000L // 2024-01-01T00:00:00Z, epoch micros
    val ev = t(s, dir, "events")
      .where(u.isNotNull && col("ts").isNotNull)
      .withColumn("__sq",
        row_number().over(Window.partitionBy(u).orderBy(e)))
    val probe = ev.select(u.as("user_id"), e.as("event_id"),
      timestamp_micros(
        when(u % 7 === 0, lit(base) + col("__sq") * lit(60000000L))
          .when(u % 7 === 1, lit(base) + col("__sq") * lit(60000000L) +
            (e % 5 - 2) * lit(2000000L))
          .otherwise(unix_micros(col("ts").cast("timestamp"))))
        .as("ts"))
    graft.ops.Beaconing.detect(probe, Seq("user_id"), "ts", "event_id")
      .orderBy("user_id")
  }

  /** q83: indicator timeline + rarity triage over the gold match stream
    * ([[graft.ops.IndicatorTimeline]]): per observed (db, type, value) —
    * match count, distinct conversations, first/last seen, and the
    * per-type rarity rank a triage queue consumes. The oracle re-derives
    * every matched value closed-form from the goldTurns plant structure
    * (the q14 mechanism) and aggregates timestamps straight off events.
    */
  def qIndicatorTimeline(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    val turns = goldTurns(s, dir)
    graft.ops.IndicatorTimeline
      .timeline(ScanJob.matched(turns, Seq(db), s), turns)
      .orderBy("indicator_type", "value")
  }

  /** q84: allowlist suppression ([[graft.pipeline.Suppression]]): the
    * gold scan's counts after a benign-infrastructure db vetoes matches
    * by VALUE — a /16 suppresses one planted ipv4 stride (CIDR LPM
    * semantics), a literal suppresses one planted domain; the md5 family
    * and the remaining strides must be untouched. Zero-shuffle map-side
    * filter over the broadcast-compiled allow db.
    */
  def qSuppressedCounts(s: SparkSession, dir: String): DataFrame = {
    val threats = IntelDb.build("threats", goldIntel)
    val allow = IntelDb.build("allowlist", Seq(
      IntelEntry("10.15.0.0/16", "unknown", "corp", "allow", 100),
      IntelEntry("evil2.example.com", "unknown", "cdn", "allow", 100)))
    ScanJob.goldCounts(graft.pipeline.Suppression.applyAllowlist(
      ScanJob.matched(goldTurns(s, dir), Seq(threats), s), Seq(allow)))
      .orderBy("indicator_type", "role")
  }

  /** q85: routed-output reconciliation ([[graft.ops.Reconcile]]): two
    * derived sink tables with planted divergences — sink 0 loses rows
    * (count_mismatch), sink 1 has corrupted content at equal count
    * (content_mismatch), sinks 2–3 agree (equal), sink 8 exists only on
    * the left, sink 9 only on the right — so every verdict class is
    * exercised. Order-independent (count, digest-sum) folds; the oracle
    * mirrors the injective per-column md5 digest bit-exactly.
    */
  def qReconcile(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select((e % 4).as("sink"), e.as("event_id"),
      col("event_type"), col("user_id"))
    val left = base.union(
      ev.where(e % 1009 === 0).select(lit(8L).as("sink"),
        e.as("event_id"), col("event_type"), col("user_id")))
    val right = base
      .where(!(col("sink") === 0 && col("event_id") % 997 === 0))
      .withColumn("event_type",
        when(col("sink") === 1 && col("event_id") % 499 === 0,
          lit("corrupted")).otherwise(col("event_type")))
      .union(ev.where(e % 1003 === 0).select(lit(9L).as("sink"),
        e.as("event_id"), col("event_type"), col("user_id")))
    graft.ops.Reconcile
      .diff(left, right, Seq("sink"),
        Seq("event_id", "event_type", "user_id"))
      .orderBy("sink")
  }

  /** q86: DGA-suspect scoring ([[graft.ops.DgaScore]]) — integer-exact
    * lexical features over a deterministic domain mix: human word labels
    * (never flag), 14-hex-char md5 labels (the DGA shape), and short
    * cdn-prefixed hex labels (borderline). Pure map-side; the oracle
    * recomputes every feature with the same regex algebra.
    */
  def qDgaScore(s: SparkSession, dir: String): DataFrame = {
    val words = array(lit("checkout"), lit("login"), lit("mailserver"),
      lit("blogpost"), lit("dashboard"), lit("support"), lit("weather"))
    val dom = when(e % 3 === 0,
      concat(element_at(words, (e % 7 + 1).cast("int")),
        lit(".example.com")))
      .when(e % 3 === 1,
        concat(substring(md5(e.cast("string")), 1, 14), lit(".biz")))
      .otherwise(
        concat(lit("cdn-"), substring(md5(e.cast("string")), 1, 6),
          lit(".net")))
    val probe = t(s, dir, "events").select(e.as("event_id"),
      dom.as("domain"))
    graft.ops.DgaScore.score(probe, "domain").orderBy("event_id")
  }

  /** q87: new-vs-returning INDICATORS per day — [[graft.ops.Growth]]
    * growth accounting re-pointed at the match stream (entity = observed
    * indicator value, period = epoch day): the daily intel-ops ledger of
    * "how many never-before-seen indicators appeared today". The match
    * stream joins turn timestamps on the routed (conv_id, turn_idx) key
    * first (the q83 bridge).
    */
  def qIndicatorGrowth(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    val turns = goldTurns(s, dir)
    val m = ScanJob.matched(turns, Seq(db), s)
      .join(turns.select(col("conv_id"), col("turn_idx"), col("ts")),
        Seq("conv_id", "turn_idx"))
    graft.ops.Growth.newVsReturning(m, entityCol = "value")
      .orderBy("period")
  }

  /** q88: conversation risk scoring ([[graft.pipeline.RiskScore]]) —
    * the escalation rollup over the gold match stream. The fixture
    * thins each conversation's turns at a conv-dependent rate
    * (`event_id % (conv + 2) = 0`) so risk scores SPREAD across the
    * default tier thresholds (a handful escalate, a band review, the
    * long tail routine) instead of collapsing into one tier.
    */
  def qConversationRisk(s: SparkSession, dir: String): DataFrame = {
    val db = IntelDb.build("threats", goldIntel)
    // thin by turn identity: turn_idx IS event_id and the conv suffix IS
    // user_id % 50 (the goldTurns construction), so the oracle states
    // the same predicate as event_id % (user_id % 50 + 2) = 0
    val turns = goldTurns(s, dir).where(col("turn_idx") %
      (substring(col("conv_id"), 6, 10).cast("int") + 2) === 0)
    graft.pipeline.RiskScore
      .conversationRisk(ScanJob.matched(turns, Seq(db), s))
      .orderBy("conv_id")
  }

  /** q81: campaign clustering — the graph bridge: co-occurrence edges
    * (q79's pair table) thresholded at lift > 0.92 feed the SAME
    * connected-components engine the dedup family uses
    * ([[graft.ops.Dedup.nearDupClusters]] is id-type-agnostic: min-label
    * propagation works on strings). Nodes are every item appearing in
    * any pair; items whose strong edges connect them share a campaign
    * label, weakly-connected items stay singletons. At the fixture's
    * lifts this yields two components — the point is the composed path
    * (set expansion → lift → CC), each stage gated by a different oracle
    * mechanism (self-join / IEEE-exact threshold / recursive CTE).
    */
  def qCampaignClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Cooccurrence.pairCounts(
      t(s, dir, "events").where(col("user_id").isNotNull &&
        col("ts").isNotNull),
      entityCol = col("user_id") * 100000 +
        expr("unix_micros(cast(ts as timestamp)) div 86400000000"),
      itemCol = when(col("event_id") % 499 === 0,
        lit(null).cast("string")).otherwise(col("event_type")))
    val nodes = pairs.select(col("item_a").as("doc_id"))
      .union(pairs.select(col("item_b").as("doc_id"))).distinct()
    val edges = pairs.where(col("lift") > 0.92)
      .select(col("item_a").as("doc_a"), col("item_b").as("doc_b"))
    graft.ops.Dedup.nearDupClusters(nodes, edges)
      .select(col("doc_id").as("item"), col("cluster_id").as("campaign"),
        col("is_canonical"))
      .orderBy("item")
  }

  /** q89: conversation structural audit ([[graft.ops.ConvValidate]]) —
    * the gold transcripts with planted defects: every 13th turn's text
    * nulled (an empty turn) and every 11th turn's index shifted down 5
    * (a duplicate index iff the displaced index coexists with a real one
    * in the SAME conversation — conv membership is user-keyed, so
    * collisions are sparse and deterministic). Role repeats come free:
    * role is the raw event_type, which repeats within a user's stream.
    */
  def qConvAudit(s: SparkSession, dir: String): DataFrame = {
    val planted = goldTurns(s, dir)
      .withColumn("text",
        when(col("turn_idx") % 13 === 0, lit(null).cast("string"))
          .otherwise(col("text")))
      .withColumn("turn_idx",
        when(col("turn_idx") % 11 === 0, col("turn_idx") - 5)
          .otherwise(col("turn_idx")))
    graft.ops.ConvValidate.audit(planted).orderBy("conv_id")
  }

  /** q90: sequence packing ([[graft.ops.Packing.packSequences]]) — the
    * documents corpus token-counted and first-fit packed into
    * 200-token bins across 8 hash shards. The oracle replays the scan
    * with a per-shard recursive CTE over the same md5-derived shard and
    * the same id order.
    */
  def qPackDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      graft.ops.TextStats.tokenCount(col("text")).as("n_tokens"))
    graft.ops.Packing.packSequences(docs, budget = 200L, numShards = 8)
      .orderBy("shard", "bin", "pos")
  }

  /** q91: context-window truncation
    * ([[graft.ops.Packing.truncateTail]]) — each gold conversation
    * trimmed to the newest turns fitting 12 whitespace tokens (texts run
    * 3–5 tokens, so 3–4 turns survive per conversation).
    */
  def qConvTruncate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.truncateTail(goldTurns(s, dir), budget = 12L)
      .select("conv_id", "turn_idx", "role", "n_tokens", "cum_from_end")
      .orderBy("conv_id", "turn_idx")

  /** q92: confusable-skeleton typosquat hits
    * ([[graft.ops.Confusables]]) — planted leet disguises (digit
    * substitution, hyphen insertion, watch-side folding: the watch entry
    * `evil0.example.com` itself skeletonizes, so the probe
    * `evilo.example.com` hits it) against a 3-entry watchlist; exact
    * hits planted and excluded.
    */
  def qConfusables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val watch = Seq("paypal.com", "google.com", "evil0.example.com")
      .toDF("domain")
    val dom = when(e % 7 === 0, lit("paypa1.com"))
      .when(e % 7 === 1, lit("g00gle.com"))
      .when(e % 7 === 2, lit("pay-pal.c0m"))
      .when(e % 7 === 3, lit("paypal.com")) // exact -> excluded
      .when(e % 7 === 4, lit("evilo.example.com"))
      .otherwise(concat(lit("site"), e % 100, lit(".net")))
    val probes = t(s, dir, "events").select(e.as("event_id"),
      dom.as("domain"))
    graft.ops.Confusables.matchWatchlist(probes, "domain", watch)
      .orderBy("event_id", "watch_domain")
  }

  /** q93: CUSUM drift detection ([[graft.ops.ChangePoint]]) over the
    * per-(event_type, day) count series — drift 66 sits at the
    * fixture's daily-count median so the statistic breathes (counts run
    * 47-86) and threshold 40 fires on sustained busy runs only
    * (~20% of periods).
    */
  def qDriftCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type").as("key"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("period"))
      .groupBy("key", "period").agg(count(lit(1)).as("value"))
    graft.ops.ChangePoint.cusum(daily, drift = 66L, threshold = 40L)
      .orderBy("key", "period")
  }

  /** q94: inverted index ([[graft.ops.InvertedIndex]]) over the
    * documents corpus, postings capped at 390 — the fixture vocabulary is bimodal
    * (df 25..402), so roughly half the terms truncate and half stay full. Posting arrays render as ','-joined strings for
    * the scalar-column oracle compare.
    */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.ops.InvertedIndex.postings(t(s, dir, "documents"),
      maxPostings = 390)
      .withColumn("postings",
        array_join(transform(col("postings"), x => x.cast("string")),
          ","))
      .orderBy("term")

  /** q95: exact heavy hitters ([[graft.ops.HeavyHitters]]) — a zipf-ish
    * item mix: three hot items (~1/6 of rows each — above the 1/8
    * threshold), one mid item (1/40 — nominated by Misra–Gries in most
    * layouts but REJECTED by the exact verify pass), a long singleton
    * tail, and planted NULLs (every 997th — dropped). The oracle is the
    * plain GROUP BY ... HAVING count·k ≥ n the bounded-state path must
    * reproduce exactly.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "events").select(
      when(e % 997 === 0, lit(null).cast("string"))
        .when(e % 2 === 0, concat(lit("hot"), (e % 3).cast("string")))
        .when(e % 40 === 1, lit("mid"))
        .otherwise(concat(lit("tail-"), e.cast("string"))).as("item"))
    graft.ops.HeavyHitters.frequentItems(items, "item", k = 8)
      .orderBy("item")
  }

  /** q96: sliding token-window chunking ([[graft.ops.Chunking]]) — the
    * documents corpus into 24-token windows every 12 tokens (the fixture
    * averages ~54 tokens, so docs yield 3–6 overlapping chunks with a
    * short tail chunk). The oracle re-derives every window with
    * generate_series + list slicing — start grid, tail clamping, and the
    * rejoined text are each gated.
    */
  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.slidingChunks(t(s, dir, "documents"),
      chunkTokens = 24, stride = 12)
      .orderBy("doc_id", "chunk_idx")

  /** q97: per-source token-budget quota
    * ([[graft.ops.Sampling.budgetPerKey]]) — each source's docs in hash
    * order until 700 tokens (sources carry ~1350 tokens over 25 docs, so
    * roughly half of each source survives and every group hits the
    * budget boundary). The oracle replays the same md5 hash order and
    * inclusive running sum.
    */
  def qBudgetPerSource(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      graft.ops.TextStats.tokenCount(col("text")).as("n_tokens"))
    oracleHugeint(
      graft.ops.Sampling.budgetPerKey(docs, "source", budget = 700L)
        .select("doc_id", "source", "n_tokens", "cum_tokens"),
      "cum_tokens")
      .orderBy("doc_id")
  }

  /** q98: exact prefix-filter Jaccard join ([[graft.ops.SetJoin]]) —
    * token-set similarity ≥ 0.95 over the documents corpus (the fixture
    * shares a small vocabulary, so lower thresholds qualify most pairs;
    * 0.95 keeps the near-clone population, 1887 pairs at sf0.01, with
    * the integer boundary exercised). The oracle is the NAIVE all-pairs
    * join — the prefix candidate stage must be unobservable (lossless),
    * which is the op's whole claim.
    */
  def qSetJoin(s: SparkSession, dir: String): DataFrame =
    // spread: the single-file scan otherwise tokenizes the whole corpus
    // in one task (everything downstream of the staged explode is keyed)
    graft.ops.SetJoin.jaccardJoin(spread(t(s, dir, "documents")),
      minJaccardPermille = 950)
      .orderBy("doc_a", "doc_b")

  /** q99: BPE merge-pair counts ([[graft.ops.Vocab]]) — the top 25
    * frequency-weighted adjacent character pairs over the documents
    * corpus, fully tie-broken (total DESC, pair ASC). The oracle
    * replays word frequencies and the in-word substr(i, 2) sweep.
    */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.ops.Vocab.bpeMergeCounts(t(s, dir, "documents"), topK = 25)
      .orderBy("rank")

  /** q100: text normalization ([[graft.ops.TextClean]]) — the corpus
    * dirtied deterministically in BOTH engines (BEL + leading runs, a
    * ctrl-A after every 'a', DEL + trailing space), then cleaned; the
    * oracle replays the same dirtying concat and the same two explicit
    * character-class regexes, so clean bytes and all three diagnostics
    * must agree exactly.
    */
  def qTextClean(s: SparkSession, dir: String): DataFrame = {
    val dirty = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(expr("chr(7)"), lit("  "),
          regexp_replace(col("text"), "a", "a\u0001"),
          expr("chr(127)"), lit(" ")).as("text"))
    graft.ops.TextClean.normalize(dirty).orderBy("doc_id")
  }

  /** q101: bounded-state exact quantiles ([[graft.ops.Quantiles]]) —
    * p50/p90/p99 of n_chars per source via the two-pass bucket
    * refinement (width 200), which must be bit-identical to the direct
    * full-sort nearest-rank form; the oracle computes the DIRECT form
    * (row_number + integer-permille rank), so the histogram mechanism
    * is unobservable — the op's whole claim.
    */
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.bucketedNearestRank(
      t(s, dir, "documents"), Seq("source"), "n_chars",
      Seq(("50", 500), ("90", 900), ("99", 990)), bucketWidth = 200L)
      .orderBy("source")

  /** q102: exact triangle count ([[graft.ops.Triangles]]) — the graph
    * derived deterministically from events in BOTH engines
    * (x = event_id % 350, y = (event_id div 7) % 350), canonicalized
    * and counted via degree-ordered orientation; the oracle counts via
    * the naive three-way self-join with u < v < w, which the oriented
    * wedge join must equal exactly.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Triangles.triangleCount(
      t(s, dir, "events").where(col("event_id").isNotNull)
        .select(expr("event_id % 350").as("x"),
          expr("(event_id div 7) % 350").as("y")),
      "x", "y")

  /** q103: salted skew join ([[graft.ops.SkewJoin]]) — events (heavily
    * concentrated on a handful of hot event_types) joined to the
    * per-type totals dimension with 8 salts, then rolled up per user
    * bucket; the oracle is the PLAIN join + aggregate, so the salting
    * must be result-invariant — the op's whole claim.
    */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val dim = events.where(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("type_total"))
    graft.ops.SkewJoin.saltedJoin(
        events.select(col("event_type"), col("user_id")),
        dim, Seq("event_type"), salts = 8)
      .groupBy(expr("user_id % 20").as("user_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("type_total")).as("sum_weight"))
      .orderBy("user_bucket")
  }

  /** q104: URL canonicalization ([[graft.ops.UrlNormalize]]) — URLs
    * synthesized deterministically from events in BOTH engines
    * (mixed-case host, default and non-default ports, tracking params,
    * empty params, a fragment containing '?', a malformed row every
    * 97th id), then normalized; the oracle replays the same explicit
    * grammar regexes and the same canonical-form rules.
    */
  def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val synth = t(s, dir, "events").select(col("event_id"),
      when(expr("event_id % 97 = 0"), lit("not a url"))
        .otherwise(concat(
          lit("HTTP://Example"), expr("event_id % 5").cast("string"),
          lit(".COM"),
          when(expr("event_id % 3 = 0"), lit(":80"))
            .when(expr("event_id % 3 = 1"), lit(":8080"))
            .otherwise(lit("")),
          when(expr("event_id % 7 = 0"), lit(""))
            .otherwise(concat(lit("/Path/"), col("event_type"))),
          when(expr("event_id % 4 = 0"), lit("?utm_source=news&b=2&a=1"))
            .when(expr("event_id % 4 = 1"), lit("?gclid=xyz"))
            .when(expr("event_id % 4 = 2"),
              lit("?z=9&a=1&utm_campaign=c&&"))
            .otherwise(lit("")),
          when(expr("event_id % 2 = 0"), lit("#frag?notquery"))
            .otherwise(lit("")))).as("url"))
    graft.ops.UrlNormalize.normalize(synth, "url")
      .select("event_id", "url_norm", "host", "n_params_kept",
        "n_params_dropped", "malformed")
      .orderBy("event_id")
  }

  /** q105: Z-order keys ([[graft.ops.Zorder]]) — the Morton interleave
    * of (user_id % 256, event_id % 256) for every event; the oracle
    * replays the identical 4-step magic-shift spread with plain
    * `& | <<` bit operators, so every one of the 10k keys must agree
    * bit-for-bit.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Zorder.withZkey(
      t(s, dir, "events").select(col("event_id"),
        expr("user_id % 256").as("x"), expr("event_id % 256").as("y")),
      "x", "y")
      .orderBy("event_id")

  /** q106: hierarchical rollup ([[graft.ops.Rollups.hierarchicalRollup]])
    * — (event_type, user bucket) plus both prefix granularities and the
    * grand total in ONE pass; gid is the ANSI GROUPING bit vector, and
    * every aggregate is integer-exact (counts, distinct counts, long
    * sums — never float sums, which are order-dependent).
    */
  def qRollupHierarchy(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rollups.hierarchicalRollup(
      t(s, dir, "events").select(col("event_type"),
        expr("user_id % 7").as("ubucket"), col("user_id"),
        col("event_id")),
      Seq("event_type", "ubucket"),
      Seq(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("sum_ids")))
      .orderBy("gid", "event_type", "ubucket")

  /** q107: co-bucketed join ([[graft.io.Bucketing]]) — events and the
    * per-user dimension written as 8-bucket catalog tables on user_id,
    * then joined WITHOUT any exchange (plan pinned in BucketingSpec)
    * and rolled up; the oracle is the plain join + aggregate, so the
    * storage layout must be result-invariant — the op's whole claim.
    */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .select("user_id", "event_type", "event_id")
    val dim = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_user_events"))
    // the two bucketed writes are independent (different tables) — run
    // them as concurrent driver-side jobs so the dim write back-fills the
    // fact write's task tail (guide §2.6 overlap-independent-jobs). Two
    // concurrent DROP TABLE + saveAsTable on one session assume the
    // session's in-memory catalog, whose operations are synchronized; a
    // shared external metastore would want the writes in sequence.
    val factW = scala.concurrent.Future(
      graft.io.Bucketing.writeBucketed(events, "graft_q107_fact",
        "user_id", 8, sortCols = Seq("user_id")))(
      scala.concurrent.ExecutionContext.global)
    try graft.io.Bucketing.writeBucketed(dim, "graft_q107_dim",
      "user_id", 8, sortCols = Seq("user_id"))
    catch {
      case t: Throwable =>
        // never leave the fact write running unsupervised: let it settle
        // (its own outcome is secondary to this failure) before rethrowing
        scala.util.Try(scala.concurrent.Await.ready(factW,
          scala.concurrent.duration.Duration.Inf))
        throw t
    }
    scala.concurrent.Await.result(factW,
      scala.concurrent.duration.Duration.Inf)
    graft.io.Bucketing.bucketedJoin(s, "graft_q107_fact",
        "graft_q107_dim", Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_user_events")).as("sum_user_events"))
      .orderBy("event_type")
  }

  /** q108: incremental rollup maintenance
    * ([[graft.ops.Rollups.mergePartials]]) — three increment shards
    * each aggregated independently, then algebraically merged; the
    * oracle aggregates from scratch, so the merge must be lossless.
    */
  def qMergePartials(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val parts = (0 until 3).map { d =>
      events.where(expr(s"event_id % 3 = $d")).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
    }
    graft.ops.Rollups.mergePartials(parts, Seq("event_type"),
      Seq(("n", "count"), ("sum_ids", "sum"), ("min_id", "min"),
        ("max_id", "max")))
      .orderBy("event_type")
  }

  /** q109: table profile ([[graft.ops.Profile]]) — per-column
    * row/null/exact-distinct counts over events in ONE corpus pass;
    * the oracle is five independent aggregates unioned, so every count
    * must agree exactly.
    */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.columnStats(t(s, dir, "events"),
      Seq("event_id", "user_id", "event_type", "value", "props"))
      .orderBy("column")

  /** q110: interval merging ([[graft.ops.Intervals]]) — per-user-bucket
    * event spans of 1-5 hours collapsed to their union by the
    * running-max sweep; the oracle replays the same window logic
    * (max over the preceding frame, running-sum groups) in exact
    * integer microseconds.
    */
  def qMergeIntervals(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "events").select(
      expr("user_id % 50").as("k"),
      expr("unix_micros(cast(ts as timestamp))").as("s"),
      expr("unix_micros(cast(ts as timestamp)) + " +
        "(1 + event_id % 5) * 3600000000").as("e"))
    graft.ops.Intervals.mergeIntervals(iv, Seq("k"), "s", "e")
      .orderBy("k", "s")
  }

  /** q111: exact proportional allocation
    * ([[graft.ops.Sampling.allocateProportional]]) — exactly 97 docs
    * apportioned across deliberately UNEVEN strata (the q58 hot-key
    * derivation: doc_id < 250 conflates to one 250-doc stratum) by
    * largest remainder, prefix-selected in the shared (salt, id) hash
    * order; the oracle replays base/remainder/leftover seats and the
    * same md5 ranking.
    */
  def qAllocateProportional(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") < 250, lit("hot")).otherwise(col("source"))
        .as("stratum"))
    graft.ops.Sampling.allocateProportional(docs, "stratum", 97L)
      .orderBy("doc_id")
  }

  /** q112: keyed snapshot diff ([[graft.ops.SnapshotDiff]]) — two
    * snapshot versions derived from events in BOTH engines (every 10th
    * key absent from old, every 7th absent from new, event_type mutated
    * at %11, value at %5), diffed row-level with per-column
    * attribution; the oracle replays the full outer join and the same
    * null-safe per-column compares.
    */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select("event_id", "event_type", "value")
    val oldSnap = ev.where(expr("event_id % 10 <> 0"))
    val newSnap = ev.where(expr("event_id % 7 <> 0")).select(
      col("event_id"),
      when(expr("event_id % 11 = 0"),
        concat(col("event_type"), lit("x")))
        .otherwise(col("event_type")).as("event_type"),
      when(expr("event_id % 5 = 0"), col("value") + 1)
        .otherwise(col("value")).as("value"))
    graft.ops.SnapshotDiff.diff(oldSnap, newSnap, Seq("event_id"),
      Seq("event_type", "value"))
      .orderBy("event_id")
  }

  /** q113: deterministic pseudonymization ([[graft.ops.Anonymize]]) —
    * user ids replaced by 16-hex md5(salt:id) prefixes, then per-type
    * distinct-identity accounting proves the pseudonym is injective on
    * the fixture AND byte-identical to the oracle's replay of the same
    * construction (min(pseudo) gates the rendered bytes, the distinct
    * counts gate the merge-free property).
    */
  def qAnonymize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Anonymize.pseudonymize(
      t(s, dir, "events"), "user_id", salt = "s1")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("pseudo_id")).as("n_pseudos"),
        min(col("pseudo_id")).as("first_pseudo"))
      .orderBy("event_type")

  /** q114: equi-depth range boundaries
    * ([[graft.ops.Quantiles.rangeBoundaries]]) — the 7 values that
    * split documents into 8 near-equal n_chars ranges, via the
    * bounded-state mechanism; the oracle computes the same
    * nearest-rank values at the same ⌊i·1000/8⌋ permilles directly.
    */
  def qRangeBoundaries(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.rangeBoundaries(
      t(s, dir, "documents"), "n_chars", k = 8, bucketWidth = 200L)
      .orderBy("boundary_idx")

  /** q115: trailing 7-day exact distinct actors
    * ([[graft.ops.RollingDistinct.rollingActive]]) — WAU over the events
    * table via dedup-before-expand; the oracle replays the same
    * epoch-aligned expansion over the deduped (user, day) set.
    */
  def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.ops.RollingDistinct.rollingActive(
      t(s, dir, "events"), "ts", "user_id", windowDays = 7, stepDays = 1)
      .orderBy("window_start")

  /** q116: zone-map pruning audit ([[graft.ops.ZoneMaps.pruningAudit]])
    * — the same three n_chars predicates against two bucket layouts of
    * documents (insertion-order doc_id buckets vs value-clustered
    * n_chars buckets), quantifying exactly what a write-side sort buys
    * the scan planner.
    */
  def qZoneMapAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val preds = Seq((48L, 100L), (250L, 300L), (500L, 600L))
    oracleHugeint(graft.ops.ZoneMaps
      .pruningAudit(docs, expr("doc_id div 50"), "n_chars", preds)
      .withColumn("layout", lit("insertion"))
      .unionByName(graft.ops.ZoneMaps
        .pruningAudit(docs, expr("n_chars div 50"), "n_chars", preds)
        .withColumn("layout", lit("clustered"))),
      "n_pruned", "rows_scanned", "rows_total")
      .orderBy("layout", "pred_idx")
  }

  /** q117: range assignment ([[graft.ops.Quantiles.assignRanges]]) —
    * q114's boundaries APPLIED: per-range row counts and value extents
    * prove the equi-depth split; the boundary collect is the documented
    * small-dimension read, the assignment itself is shuffle-free.
    */
  def qRangeAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("n_chars").isNotNull)
    val bounds = graft.ops.Quantiles
      .rangeBoundaries(docs, "n_chars", k = 8, bucketWidth = 200L)
      .orderBy("boundary_idx").select("value")
      .collect().map(_.getLong(0)).toSeq
    graft.ops.Quantiles.assignRanges(docs, "n_chars", bounds)
      .groupBy("range_idx")
      .agg(count(lit(1)).as("n"), min(col("n_chars")).as("mn_chars"),
        max(col("n_chars")).as("mx_chars"))
      .orderBy("range_idx")
  }

  /** q118: referential-integrity audit
    * ([[graft.ops.Integrity.fkAudit]]) — a clean FK (orders → customer)
    * next to a planted-orphan scenario (events.user_id against a
    * dimension missing keys < 50, the "dim rows deleted under the
    * fact" incident shape).
    */
  def qFkAudit(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    graft.ops.Integrity
      .fkAudit(t(s, dir, "orders"), "o_custkey", customer, "c_custkey",
        "orders.o_custkey->customer")
      .unionByName(graft.ops.Integrity
        .fkAudit(t(s, dir, "events"), "user_id",
          customer.filter(col("c_custkey") >= 50), "c_custkey",
          "events.user_id->customer_ge50"))
      .orderBy("fk_name")
  }

  /** q119: join-skew diagnosis ([[graft.ops.SkewJoin.diagnose]]) — the
    * measurement that feeds saltedJoin's `salts`: documents.lang (en
    * carries ~44% → salt) next to events.event_type (uniform → don't).
    */
  def qSkewDiagnose(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(
      graft.ops.SkewJoin.diagnose(t(s, dir, "documents"), col("lang"), 3)
        .withColumn("diag", lit("documents.lang"))
        .unionByName(graft.ops.SkewJoin
          .diagnose(t(s, dir, "events"), col("event_type"), 3)
          .withColumn("diag", lit("events.event_type"))),
      "n_rows", "rec_salts", "share_permille")
      .orderBy("diag", "key_rank")

  /** q120: feed-freshness / max-gap audit
    * ([[graft.ops.Freshness.maxGapAudit]]) — per event_type with
    * 1-hour sort buckets; the oracle is the naive full-sort lag the
    * two-pass must be indistinguishable from.
    */
  def qFeedFreshness(s: SparkSession, dir: String): DataFrame =
    graft.ops.Freshness.maxGapAudit(t(s, dir, "events"), "ts",
      Seq("event_type"), bucketMicros = 3600000000L)
      .orderBy("event_type")

  /** q121: functional-dependency audit
    * ([[graft.ops.Integrity.fdAudit]]) — a holding FD (nation →
    * region) next to a broken one (customer nation → mktsegment, the
    * "schema doc claims it, the data laughs" shape).
    */
  def qFdAudit(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.Integrity.fdAudit(t(s, dir, "nation"),
      Seq("n_nationkey"), "n_regionkey",
      "nation.n_nationkey->n_regionkey")
      .unionByName(graft.ops.Integrity.fdAudit(t(s, dir, "customer"),
        Seq("c_nationkey"), "c_mktsegment",
        "customer.c_nationkey->c_mktsegment")),
      "n_rows", "n_rows_in_violations", "n_violating_lhs")
      .orderBy("fd_name")

  /** q122: quality-ranked canonical selection
    * ([[graft.ops.Dedup.keepBest]]) — truncation-duplicate clusters
    * (shared 40-char prefix) keep the LONGEST member, ties to the
    * lowest doc_id; the oracle replays with a row_number window the
    * aggregate must be indistinguishable from.
    */
  def qKeepBest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.keepBest(
      t(s, dir, "documents").select(
        md5(substring(col("text"), 1, 40)).as("cluster_fp"),
        col("doc_id"), col("n_chars")),
      "cluster_fp", "doc_id", "n_chars")
      .filter(col("n_members") >= 2)
      .orderBy("cluster_fp")

  /** q123: state-timeline / SCD-2 build
    * ([[graft.ops.Scd.stateIntervals]]) — each user's event_type
    * timeline as half-open validity intervals via the bucket-bounded
    * run build + stitch; the oracle is the naive single-window replay
    * the two-pass must be indistinguishable from.
    */
  def qStateIntervals(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scd.stateIntervals(t(s, dir, "events"), "ts",
      "event_type", Seq("user_id"), bucketMicros = 3600000000L)
      .orderBy("user_id", "valid_from", "event_type")

  /** q124: top session paths ([[graft.ops.Paths.topPaths]]) over
    * 30-minute [[graft.ops.Sessionize]] sessions — the top-10
    * 5-event journey prefixes; order made unique by (ts, event_id).
    */
  def qTopPaths(s: SparkSession, dir: String): DataFrame =
    graft.ops.Paths.topPaths(
      graft.ops.Sessionize.assign(t(s, dir, "events"), 1800),
      Seq("user_id", "session_idx"), Seq("ts", "event_id"),
      "event_type", maxLen = 5, topK = 10)
      .orderBy("path_rank")

  /** q125: TTL retention plan ([[graft.ops.TtlPlan.retentionPlan]]) —
    * the same cutoff against two layouts (insertion-order event_id
    * buckets vs day buckets): the time layout's plan is pure
    * drop/keep, the insertion layout pays rewrites.
    */
  def qTtlPlan(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    // SQL literal, not Timestamp.valueOf: session tz is pinned UTC,
    // the JVM default tz is not (review find)
    val cutoff = expr("TIMESTAMP '2024-01-15 00:00:00'")
    oracleHugeint(graft.ops.TtlPlan
      .retentionPlan(events, expr("event_id div 500"), "ts", cutoff)
      .withColumn("layout", lit("insertion"))
      .unionByName(graft.ops.TtlPlan
        .retentionPlan(events,
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000L"),
          "ts", cutoff)
        .withColumn("layout", lit("time"))),
      "n_null_ts", "rows_expired", "rows_live", "rows_total")
      .orderBy("layout", "verdict")
  }

  /** q126: join-size forecast
    * ([[graft.ops.SkewJoin.joinSizeForecast]]) — price events ⋈ orders
    * on the customer key from the two histograms before paying for it;
    * top-5 fan-out contributors named.
    */
  def qJoinForecast(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.SkewJoin.joinSizeForecast(
      t(s, dir, "events").select(col("user_id")),
      t(s, dir, "orders").select(col("o_custkey").as("user_id")),
      "user_id", topK = 5)
      // pair_rows lands BIGINT in the oracle (n_a*n_b of one key) while
      // the op's decimal product renders float — integral either way
      .withColumn("pair_rows", col("pair_rows").cast("long")),
      "total_pair_rows")
      .orderBy("key_rank")

  /** q127: throttle replay ([[graft.ops.Windows.throttleAudit]]) —
    * first 5 events per user per hour; who a quota change would hit,
    * from the log, deterministically (ties admitted by event_id).
    */
  def qThrottleAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.throttleAudit(t(s, dir, "events"), "ts",
      Seq("user_id"), Seq("event_id"), k = 5, windowSeconds = 3600L)
      .orderBy("user_id")

  /** q128: diversified top-k ([[graft.ops.TopK.diversifiedTopK]]) —
    * the 10 longest documents with at most 2 per source; capped slots
    * refill from other sources (quota-first, not post-filtered).
    */
  def qDiversifiedTopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.diversifiedTopK(t(s, dir, "documents"),
      "n_chars", "doc_id", "source", perGroup = 2, k = 10)
      .orderBy("rank")

  /** q129: weighted exact quantiles
    * ([[graft.ops.Quantiles.bucketedWeightedNearestRank]]) — per-lang
    * byte-weighted length distribution ("the median byte lives in a
    * doc of length X"): value = weight = n_chars; the oracle is the
    * direct full-sort crossing-row replay.
    */
  def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.bucketedWeightedNearestRank(
      t(s, dir, "documents"),
      Seq("lang"), "n_chars", "n_chars",
      Seq(("50", 500), ("90", 900), ("99", 990)), bucketWidth = 100L)
      .orderBy("lang")

  /** q130: as-of snapshot ([[graft.ops.Scd.snapshotAt]]) — q123's
    * intervals QUERIED: every user's state at mid-month, a map-side
    * filter over the interval table; the oracle replays the interval
    * build and the same half-open predicate.
    */
  def qScdSnapshot(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scd.snapshotAt(
      graft.ops.Scd.stateIntervals(t(s, dir, "events"), "ts",
        "event_type", Seq("user_id"), bucketMicros = 3600000000L),
      expr("TIMESTAMP '2024-01-15 00:00:00'"),
      Seq("user_id"), "event_type")
      .orderBy("user_id")

  /** q131: exact categorical TVD
    * ([[graft.ops.DistCompare.categoricalTvd]]) — language drift
    * between the even- and odd-doc_id halves of the corpus (the
    * train/eval split shape), as an exact integer fraction.
    */
  def qDistCompare(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    oracleHugeint(graft.ops.DistCompare.categoricalTvd(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      col("lang")),
      "n_a", "n_b", "n_keys_only_a", "n_keys_only_b",
      "tvd_num", "tvd_den", "tvd_permille")
  }

  /** q132: vocabulary coverage ([[graft.ops.Vocab.oovRate]]) — per
    * lang, the share of word occurrences a global top-500 vocabulary
    * misses; the per-group view is what a corpus average hides.
    */
  def qOovRate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Vocab.oovRate(t(s, dir, "documents"), vocabSize = 500,
      groupCols = Seq("lang"))
      .orderBy("lang")

  /** q133: activity streaks ([[graft.ops.RollingDistinct.streaks]]) —
    * per-user consecutive-day runs over the dedup'd (id, day) set; the
    * oracle replays the day − row_number island trick with the same
    * pinned tie rules.
    */
  def qStreaks(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.RollingDistinct.streaks(t(s, dir, "events"),
      "ts", "user_id"),
      "n_active_days")
      .orderBy("user_id")

  /** q134: day-of-week seasonality deviation
    * ([[graft.ops.Seasonality.dowDeviation]]) — each day's volume vs
    * its own weekday's typical day, exact permille; the oracle replays
    * the baseline pairs with isodow.
    */
  def qDowDeviation(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.Seasonality.dowDeviation(t(s, dir, "events"),
      "ts"),
      "dow_total", "deviation_permille")
      .orderBy("day")

  /** q135: asymmetric containment join
    * ([[graft.ops.SetJoin.containmentJoin]]) — the excerpt-in-article
    * relationship over a doc_id%5 subset (the tiny fixture vocabulary
    * makes subset relations rampant; the subset keeps the gate light);
    * oracle = the naive all-ordered-pairs definition.
    */
  def qContainment(s: SparkSession, dir: String): DataFrame =
    graft.ops.SetJoin.containmentJoin(
      spread(t(s, dir, "documents").filter(col("doc_id") % 5 === 0)),
      minContainPermille = 950)
      .orderBy("doc_a", "doc_b")

  /** q136: actor concentration
    * ([[graft.ops.Concentration.actorConcentration]]) — per event
    * type, the exact Gini of per-user volume plus the top-actor
    * share; oracle replays the sorted-cumulative identity.
    */
  def qConcentration(s: SparkSession, dir: String): DataFrame =
    oracleHugeint(graft.ops.Concentration.actorConcentration(
      t(s, dir, "events"), Seq("event_type"), "user_id"),
      "n_events", "gini_permille", "top1_permille")
      .orderBy("event_type")
}
