package graft.pipeline

import graft.functions.{CandidateCounts, EntryMeta, GraftFunctions, ScanTurn}
import graft.intel.IntelDb
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The flagship scan pipeline (SURVEY.md §3.1), expressed as one declarative
  * Spark plan:
  *
  * {{{
  * turns                                            // table scan (S1)
  *   .select(explode_outer(scan_turn_flat(text)))    // E1-E8 + L2/L3/L4
  *                                                   // per db (L8), one pass
  *   .select(intel_meta(db_idx, entry_idx))          // metadata read in place
  *   -> fan-out writes per indicator_type + clean sink (R4)
  *   -> gold counts + stats (A1-A6, A10) + per-partition lineage metrics
  * }}}
  *
  * Scale notes (the 100 TB story):
  *  - extraction + both lookups are map-side (broadcast structures inside
  *    codegen'd expressions) — ZERO shuffles until the final aggregate,
  *    mirroring the reference's embarrassingly-parallel workers
  *    (processing/parallel.rs:494-700);
  *  - the generator emits only (candidate x hit) rows, so a clean turn
  *    produces no candidate rows, only its one clean row (the "AC finds
  *    nothing => line is clean fast" behavior);
  *  - fan-out writes repartition by a conv_id bucket (checkpoint/resume
  *    unit) — skewed conversations are spread because the bucket key is
  *    hash(conv_id), and AQE skew handling stays on for the aggregates.
  */
object ScanJob {

  /** The transcript table at `path`, read with [[turnSchema]]: the read
    * starts no schema-inference job.
    */
  def readTurns(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(turnSchema).parquet(path)

  /** The transcript schema, derived from [[graft.model.Turn]] with every
    * field nullable, so a JSON turn missing a field reads it as null.
    */
  lazy val turnSchema: StructType = {
    val s = Encoders.product[graft.model.Turn].schema
    StructType(s.fields.map(_.copy(nullable = true)))
  }

  /** Extraction stage: one row per (turn, extracted indicator). */
  def candidates(turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"),
        explode(GraftFunctions.extract_iocs(col("text"))).as("ioc"))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ioc.*"))

  /** Attach each hit's intel metadata in place — `intel_meta` reads the
    * entry's row from the broadcast databases the scan already carries, so
    * there is no metadata relation, exchange or join — and derive `cidr`.
    * Column order is the one the former (db_idx, entry_idx) join gave:
    * entry_idx, the other hit columns, the metadata columns, cidr. A null
    * key (routed clean row) gives null metadata.
    */
  private def withMeta(hits: DataFrame, dbs: Seq[IntelDb]): DataFrame = {
    val rest = hits.columns.toSeq
      .filterNot(c => c == "db_idx" || c == "entry_idx").map(col)
    hits
      .select((col("entry_idx") +: rest) :+
        EntryMeta.column(col("db_idx"), col("entry_idx"), dbs).as("meta"): _*)
      .select((col("entry_idx") +: rest) :+ col("meta.*"): _*)
      .withColumn("cidr",
        when(col("match_type") === "ip",
          concat(col("value"), lit("/"), col("prefix_len"))))
  }

  /** Capability-derived extractor defaults (F3, match_cmd.rs:277-303):
    * which extractors the scan flow runs is decided by what the loaded
    * databases can actually answer — ip sections enable ipv4/ipv6, string
    * sections (literals/globs) the rest. A string-only feed therefore
    * skips the IPv4/IPv6 byte scan on every turn (perf) and emits no ip
    * candidates at all (parity with the reference's candidate counters).
    */
  def capabilityConfig(dbs: Seq[IntelDb]): graft.extract.ScanConfig =
    graft.extract.ScanConfig.forCapabilities(
      dbs.exists(_.hasIpSection), dbs.exists(_.hasStringSection))

  /** Full matched dataset for a set of databases. With `prescreen` the
    * broadcast clean-turn filter (CleanPreScreen — a sound superset filter)
    * rejects turns before extraction; output is identical either way
    * (asserted by ScanJobSpec).
    *
    * The extractor set defaults to [[capabilityConfig]] of `dbs`
    * (F3 capability-derived defaults); pass `config` to override (the
    * `--extractors` CLI path, ExtractorOverrides).
    *
    * Implementation: extraction AND lookup run inside ONE flat ScanTurn
    * generator per turn (not extract-explode-then-lookup) — the candidate's
    * value string is created once and probed in the same call (~20% faster
    * than the two-expression form, whose explode boundary re-materializes
    * every candidate row and re-decodes the value from its UTF8 bytes),
    * and the generator emits (candidate x hit) rows directly, so the plan
    * is a single Generate feeding the in-place metadata read with no
    * intermediate filter/re-explode of hitless candidates.
    */
  def matched(turns: DataFrame, dbs: Seq[IntelDb], spark: SparkSession,
      prescreen: Boolean = false,
      config: Option[graft.extract.ScanConfig] = None): DataFrame =
    withMeta(matchedHits(turns, dbs, prescreen, config), dbs)

  /** `matched` before its metadata: one row per (candidate x hit), keyed
    * by (db_idx, entry_idx).
    */
  private[pipeline] def matchedHits(turns: DataFrame, dbs: Seq[IntelDb],
      prescreen: Boolean,
      config: Option[graft.extract.ScanConfig]): DataFrame = {
    val scanCfg = config.getOrElse(capabilityConfig(dbs))
    val input =
      if (!prescreen) turns
      else {
        val screen = graft.intel.CleanPreScreen.build(dbs)
        turns.where(graft.functions.MightMatch.column(col("text"), screen))
      }
    input
      .select(col("conv_id"), col("turn_idx"), col("role"),
        explode(ScanTurn.column(col("text"), dbs, scanCfg)).as("m"))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("m.indicator_type").as("indicator_type"),
        col("m.value").as("value"),
        col("m.matched_text").as("matched_text"),
        col("m.span_start").as("span_start"),
        col("m.span_end").as("span_end"),
        col("m.db_idx").as("db_idx"),
        col("m.entry_idx").as("entry_idx"),
        col("m.prefix_len").as("prefix_len"),
        col("m.match_type").as("match_type"))
  }

  /** North-rule gold aggregate (A10): per-sink match counts. */
  def goldCounts(matchedDf: DataFrame): DataFrame =
    matchedDf.groupBy("database_id", "indicator_type", "role")
      .agg(count(lit(1)).as("match_count"))

  /** @param onlyBuckets restrict THIS run to a bucket subset — the sharding
    *   knob that makes bucket-granular resume real at 10^12 turns: a huge
    *   backfill runs as K bucket-range jobs, each marking only its buckets
    *   done; a crashed job reruns only its own range (`resume = true` skips
    *   buckets already marked by earlier jobs either way).
    * @param ndjson when true, `run` also emits the reference-format NDJSON
    *   match stream (S10 field shape, Sinks.ndjsonMatched) under
    *   `outDir/ndjson` — the flagship-job analog of the reference's stdout
    *   match lines (bin/match_processor/sequential.rs:154-187).
    * @param ndjsonSource the `source` field value of each NDJSON line (the
    *   reference emits the input file path there).
    * @param extractors optional `--extractors` override string
    *   (ExtractorOverrides syntax: positive names = exclusive set,
    *   `-name` subtracts from the capability-derived defaults).
    * @param ndjsonInlineExtra reference byte-parity mode for the NDJSON
    *   stream: dynamic feed keys inline at the data top level
    *   (sequential.rs shape) instead of nesting under "extra".
    */
  final case class RunConfig(
      buckets: Int = 64,
      resume: Boolean = false,
      runId: String = "run-0",
      onlyBuckets: Option[Set[Int]] = None,
      ndjson: Boolean = false,
      ndjsonSource: String = "transcripts",
      extractors: Option[String] = None,
      ndjsonInlineExtra: Boolean = false)

  /** The routed frame: extract + enrich + per-turn routing verdict in ONE
    * map-side pass (ScanTurn generator), metadata read in place (clean rows
    * get null metadata). Every pending turn contributes exactly one clean
    * row (sink="clean", text preserved) XOR >=1 matched rows
    * (sink="matched"). `obsTurns` observes the turn stats and `counts`
    * counts the candidates, so `run` gets its stats from the write action
    * itself — no second pass over the input.
    */
  private[pipeline] def routedFrame(spark: SparkSession, pending: DataFrame,
      dbs: Seq[IntelDb],
      obsTurns: Option[org.apache.spark.sql.Observation] = None,
      counts: Option[CandidateCounts] = None,
      config: Option[graft.extract.ScanConfig] = None): DataFrame =
    withMeta(routedHits(pending, dbs, obsTurns, counts, config), dbs)
      // clean rows have no indicator type; 'none' keeps the partition path tidy
      .withColumn("indicator_type",
        coalesce(col("indicator_type"), lit("none")))

  /** `routedFrame` before its metadata: matched rows keyed by (db_idx,
    * entry_idx), clean rows with null keys. `counts`, if given, is
    * registered here and counts every candidate the scan extracts.
    */
  private[pipeline] def routedHits(pending: DataFrame, dbs: Seq[IntelDb],
      obsTurns: Option[org.apache.spark.sql.Observation],
      counts: Option[CandidateCounts],
      config: Option[graft.extract.ScanConfig]): DataFrame = {
    // F3: derived fresh per call — streaming hot reload can change a db's
    // capabilities between micro-batches
    val scanCfg = config.getOrElse(capabilityConfig(dbs))
    counts.foreach(pending.sparkSession.sparkContext.register(_,
      "scan candidates"))
    val turnsIn = obsTurns.fold(pending)(o => pending.observe(o,
      count(lit(1)).as("lines_processed"),
      coalesce(sum(octet_length(col("text"))), lit(0L)).as("total_bytes")))
    val hasTool = pending.columns.contains("tool")
    val hasTs = pending.columns.contains("ts")
    // explode_outer gives a turn without hits (null text included) one
    // null row: that row is the turn's clean-sink row
    val rows = turnsIn
      .select(Seq(col("bucket"), col("conv_id"), col("turn_idx"), col("role"),
        col("text"), spark_partition_id().as("partition_id"),
        explode_outer(ScanTurn.column(col("text"), dbs, scanCfg,
          counts.orNull)).as("r")) ++
        (if (hasTool) Seq(col("tool")) else Nil) ++
        (if (hasTs) Seq(col("ts")) else Nil): _*)
    val clean = col("r").isNull
    rows.select(Seq(col("bucket"), col("conv_id"), col("turn_idx"),
        col("role"), col("partition_id"),
        // full turn rides only on clean rows (the clean sink IS the turn;
        // matched rows carry matched_text/spans instead)
        when(clean, col("text")).as("text"),
        when(clean, lit("clean")).otherwise(lit("matched")).as("sink"),
        col("r.indicator_type").as("indicator_type"),
        col("r.value").as("value"), col("r.matched_text").as("matched_text"),
        col("r.span_start").as("span_start"), col("r.span_end").as("span_end")) ++
        (if (hasTool) Seq(when(clean, col("tool")).as("tool")) else Nil) ++
        // event time rides ALL rows (matched rows need it for the NDJSON
        // sink's per-line timestamp; the reference stamps every match line)
        (if (hasTs) Seq(col("ts")) else Nil) ++
        Seq(col("r.db_idx").as("db_idx"), col("r.entry_idx").as("entry_idx"),
          col("r.prefix_len").as("prefix_len"),
          col("r.match_type").as("match_type")): _*)
  }

  /** The routed frame without observers — the per-micro-batch body of the
    * streaming fan-out (StreamingScan.startRouted). The NDJSON rendering
    * columns are dropped: the streaming routed sink has no NDJSON
    * consumer, and keeping them would store the extras payload three
    * times per matched row (the duplication the batch run() drops too).
    */
  def routedStream(spark: SparkSession, withBucket: DataFrame,
      dbs: Seq[IntelDb]): DataFrame =
    routedFrame(spark, withBucket, dbs).drop("extra_json", "data_json")

  /** Execute the scan end-to-end with fan-out sinks, clean sink, gold
    * counts, stats and per-partition lineage; resumable by conv_id bucket.
    *
    * Layout under `outDir`:
    *   routed/    parquet partitioned by (sink, bucket, indicator_type):
    *              sink=matched  -> per-indicator-type match sinks (R4, S10)
    *              sink=clean    -> clean turns, text preserved    (R4)
    *   gold_counts/  (A10)   stats/  (A1-A6)   metrics/  (lineage)
    *   _buckets_done/<bucket>  completion markers (checkpoint/resume)
    *
    * Scale shape (the 100 TB story): the routed write is ONE pass — scan ->
    * ScanTurn (extract+lookup, map-side broadcast structures) -> explode ->
    * in-place metadata read -> partitioned write. No join and no shuffle
    * anywhere in it (the round-1 clean-sink anti-join shuffled the full
    * table twice).
    * A1-A6 stats ride the same pass (an `observe()` metric and the
    * candidate accumulator); gold counts and lineage metrics aggregate the
    * OUTPUT (matched rows + one row per clean turn), never rescanning the
    * input.
    */
  def run(spark: SparkSession, turns: DataFrame, dbs: Seq[IntelDb],
      outDir: String, cfg: RunConfig = RunConfig()): Map[String, Long] = {
    import spark.implicits._
    // validate CONFIG before any destructive fs op: a typo'd --extractors
    // (or an inline-extra flag without the ndjson sink it modifies) must
    // fail here, not after the previous run's routed/ has been wiped
    val scanCfg = graft.extract.ExtractorOverrides.parse(cfg.extractors)
      .resolve(capabilityConfig(dbs))
    require(!cfg.ndjsonInlineExtra || cfg.ndjson,
      "--ndjson-inline-extra modifies the NDJSON stream; pass --ndjson too")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val donePath = new org.apache.hadoop.fs.Path(s"$outDir/_buckets_done")
    val doneBuckets: Set[Int] =
      if (cfg.resume && fs.exists(donePath))
        fs.listStatus(donePath).map(_.getPath.getName.toInt).toSet
      else Set.empty
    // a resumed run must keep the NDJSON mode of the run it resumes:
    // toggling it mid-resume would mix schemas inside routed/ (extra_json/
    // data_json present in some buckets only) and the NDJSON sink would
    // silently emit wrong extras. Fail fast on mismatch — before writing.
    if (cfg.resume &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/routed"))) {
      val existing = scala.util.Try(
        spark.read.parquet(s"$outDir/routed").schema.fieldNames.toSet)
        .getOrElse(Set.empty[String])
      if (existing.nonEmpty) {
        val want =
          if (!cfg.ndjson) Set.empty[String]
          else if (cfg.ndjsonInlineExtra) Set("data_json")
          else Set("extra_json")
        val have = existing.intersect(Set("extra_json", "data_json"))
        require(have == want,
          s"resume NDJSON-mode mismatch: existing routed/ carries " +
            s"[${have.mkString(",")}] but this run's flags would write " +
            s"[${want.mkString(",")}] — resume with the original flags")
      }
    }
    // a FRESH full run (no resume, no shard restriction) owns the whole
    // outDir: clear routed data and completion markers up front so dynamic
    // partition overwrite can't leave stale partitions from a previous run
    // with different input alive under the new gold/stats aggregates
    if (!cfg.resume && cfg.onlyBuckets.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/routed"), true)
      fs.delete(donePath, true)
    }
    // the NDJSON stream is derived from routed/ — a stale one from a
    // previous run must never survive next to updated routed/ data, so it
    // is deleted on EVERY run with ndjson off (including resumes and
    // bucket-restricted reruns, which skip the routed/ wipe above) and
    // regenerated from the full routed output when ndjson is on
    if (!cfg.ndjson)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/ndjson"), true)

    val withBucket = turns
      .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(cfg.buckets)))
    val selected = cfg.onlyBuckets match {
      case Some(bs) => withBucket.filter(col("bucket").isInCollection(bs))
      case None => withBucket
    }
    val pending =
      if (doneBuckets.isEmpty) selected
      else selected.filter(!col("bucket").isInCollection(doneBuckets))

    // --- THE single pass: extract + enrich + route + stats observers
    // (scanCfg = F3 capability defaults + CLI overrides, parsed above)
    val obsTurns = org.apache.spark.sql.Observation()
    val counts = new CandidateCounts
    val routed = routedFrame(spark, pending, dbs, Some(obsTurns),
      Some(counts), Some(scanCfg))
    // `extra_json`/`data_json` (the typed NDJSON renderings) are consumed
    // by exactly one sink each — drop whichever the configured mode won't
    // read from the parquet write, so matched rows don't store the extras
    // payload twice. (Keep `ndjson` flags consistent across a resumed run:
    // toggling them mid-resume would mix schemas inside routed/.)
    val toWrite =
      if (!cfg.ndjson) routed.drop("extra_json", "data_json")
      else if (cfg.ndjsonInlineExtra) routed.drop("extra_json")
      else routed.drop("data_json")
    // dynamic partition overwrite: only the (sink, bucket, indicator_type)
    // partitions THIS run produced are replaced — sharded backfills and
    // shard reruns are idempotent, resumed runs never touch done buckets
    toWrite.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sink", "bucket", "indicator_type")
      .parquet(s"$outDir/routed")

    val turnStats = obsTurns.get
    // complete once the write returns: the write is one result stage
    val candStats = counts.byType

    // --- aggregates over the OUTPUT (all buckets, resume-stable): gold
    // counts (A10) and global line counts come from the written sinks.
    // A zero-row run (empty daily partition, empty shard) writes only
    // _SUCCESS — parquet schema inference would throw "Unable to infer
    // schema" and kill the job before stats/markers. Detect via one cheap
    // recursive listing and substitute an empty frame with the written
    // schema (bucket cast to int to match partition-column inference on
    // the non-empty path) so an empty run still produces its zero-valued
    // gold_counts/stats/metrics and completion markers.
    val routedPath = new org.apache.hadoop.fs.Path(s"$outDir/routed")
    def subtreeHasData(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (!st.isDirectory || subtreeHasData(st.getPath))
      }
    val routedHasData = fs.exists(routedPath) && subtreeHasData(routedPath)
    val routedBack =
      if (routedHasData) spark.read.parquet(s"$outDir/routed")
      else toWrite.limit(0).withColumn("bucket", col("bucket").cast("int"))
    val matchedBack = routedBack.where(col("sink") === "matched")
    if (cfg.ndjson) {
      // per-line timestamp = the turn's event time (deterministic; the
      // reference stamps wall clock) — epoch seconds, 0.0 when absent
      val tsSec =
        if (matchedBack.columns.contains("ts"))
          coalesce(col("ts").cast("double"), lit(0.0))
        else lit(0.0)
      graft.io.Sinks.ndjsonMatched(matchedBack, cfg.ndjsonSource, tsSec,
        s"$outDir/ndjson", inlineExtra = cfg.ndjsonInlineExtra)
    }
    // gold counts, global line counts and lineage metrics all aggregate the
    // routed output — share ONE column-pruned read across the three actions
    // instead of three full parquet scans. The cache holds only the eight
    // narrow key/partition columns (never `text`, which dominates the clean
    // sink — at 100 TB the clean sink is input-sized, the projection isn't),
    // spilling to disk if it outgrows memory. The NDJSON sink above stays a
    // separate read: partition pruning on sink=matched means it never
    // touches the clean partitions at all.
    val aggBack = routedBack
      .select("sink", "conv_id", "turn_idx", "partition_id", "bucket",
        "database_id", "indicator_type", "role")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gold = goldCounts(aggBack.where(col("sink") === "matched"))
    gold.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/gold_counts")

    val Seq(totalMatches, linesWithMatches, cleanTurns) = aggBack
      .agg(count(when(col("sink") === "matched", 1)),
        countDistinct(when(col("sink") === "matched",
          struct(col("conv_id"), col("turn_idx")))),
        count(when(col("sink") === "clean", 1)))
      .as[(Long, Long, Long)].head().productIterator.map(_.asInstanceOf[Long]).toSeq

    val stats: Map[String, Long] = Map(
      // global (derived from sinks; stable across resume runs)
      "lines_processed" -> (linesWithMatches + cleanTurns),
      "total_matches" -> totalMatches,
      "lines_with_matches" -> linesWithMatches,
      // per-run (observed on THIS run's pass; 0 on a fully-resumed run)
      "total_bytes" -> turnStats("total_bytes").asInstanceOf[Long],
      "candidates_tested" -> candStats.values.sum
    ) ++ candStats
    stats.toSeq.toDF("stat", "value").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")

    // --- per-partition lineage metrics (R1/A7 analog): what each input
    // partition contributed to each sink, aggregated from the routed output
    // (output-sized, no input rescan)
    aggBack
      .groupBy("partition_id", "bucket")
      .agg(count(when(col("sink") === "matched", 1)).as("matched_rows"),
        count(when(col("sink") === "clean", 1)).as("clean_turns"),
        countDistinct(when(col("sink") === "matched",
          struct(col("conv_id"), col("turn_idx"))))
          .as("turns_with_matches"))
      .withColumn("run_id", lit(cfg.runId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id").parquet(s"$outDir/metrics")
    aggBack.unpersist()

    // --- completion markers (resume unit = bucket; only the buckets THIS
    // run covered get marked — a sharded backfill's other ranges are owned
    // by their own jobs)
    fs.mkdirs(donePath)
    val covered = cfg.onlyBuckets.getOrElse((0 until cfg.buckets).toSet)
    covered.foreach { b =>
      fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_buckets_done/$b"),
        true).close()
    }
    stats
  }
}
