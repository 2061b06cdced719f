package graft.streaming

import graft.intel.IntelDb
import graft.pipeline.ScanJob
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming variant of the scan job — the follow/tail -f analog (S4,
  * bin/match_processor/follow.rs): a Structured Streaming file source over
  * an append directory of transcript files; each micro-batch reuses the
  * batch pipeline via foreachBatch (which also re-resolves the intel set —
  * the hot-reload analog L9: pass a supplier and the freshest broadcast is
  * used per batch). Graceful stop = query.stop(); exactly-once sink via the
  * checkpoint dir.
  */
object StreamingScan {

  /** Start a streaming scan over `inDir` (json-lines turn files), writing
    * matched rows to `outDir/matched_stream`. `dbsSupplier` is re-invoked
    * every micro-batch (hot reload).
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      dbsSupplier: () => Seq[IntelDb],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(ScanJob.turnSchema)
      .json(inDir)
    stream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dbs = dbsSupplier()
        // batch-partitioned OVERWRITE, not a bare Append: a crash between
        // the write and the checkpoint commit makes Spark re-run the SAME
        // batchId, and replaying an Append would duplicate every row of
        // the batch — Overwrite of batch=<id> is idempotent (the same
        // rule StreamingDedup's sinks follow), and the batch=N layout is
        // what SinkCompaction folds
        // drop the NDJSON renderings (extra_json/data_json): this sink has
        // no NDJSON consumer, and keeping them stores the extras payload
        // three times per matched row on every micro-batch forever — the
        // same rule the batch run() and routedStream apply
        ScanJob.matched(batch, dbs, spark)
          .drop("extra_json", "data_json")
          .write.mode(SaveMode.Overwrite)
          .partitionBy("indicator_type")
          .parquet(s"$outDir/matched_stream/batch=$batchId")
        ()
      }
      .start()
  }

  /** Streaming analog of the batch routed fan-out: each micro-batch runs
    * the SAME single-pass ScanTurn pipeline as ScanJob.run and appends to
    * the routed sink (sink=matched | sink=clean partitions). Clean turns
    * are routed in the stream too — the reference's follow mode only
    * emitted matches; the north rule's fan-out applies to both.
    */
  def startRouted(spark: SparkSession, inDir: String, outDir: String,
      dbsSupplier: () => Seq[IntelDb], buckets: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val stream = spark.readStream
      .schema(ScanJob.turnSchema)
      .json(inDir)
    stream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint_routed")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dbs = dbsSupplier()
        val withBucket = batch.withColumn("bucket",
          pmod(xxhash64(col("conv_id")), lit(buckets)))
        // batch=<id> Overwrite: idempotent under micro-batch replay (see
        // `start`); a crash-replayed batch rewrites its own directory
        // instead of appending duplicates
        ScanJob.routedStream(spark, withBucket, dbs)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("sink", "bucket", "indicator_type")
          .parquet(s"$outDir/routed_stream/batch=$batchId")
        ()
      }
      .start()
  }

  /** Watermarked windowed aggregate over the match stream: per-minute match
    * counts by indicator type, tolerating 2 minutes of event-time lateness
    * (the streaming analog of the A10 gold counts). Classic
    * readStream -> withWatermark -> window -> agg shape.
    */
  def windowedMatchCounts(spark: SparkSession, inDir: String, outDir: String,
      dbs: Seq[IntelDb],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(ScanJob.turnSchema).json(inDir)
    val cands = stream
      .select(col("ts"), col("conv_id"), col("turn_idx"), col("role"),
        explode(graft.functions.GraftFunctions.extract_iocs(col("text")))
          .as("ioc"))
      .select(col("ts"), col("conv_id"), col("turn_idx"), col("role"),
        col("ioc.*"))
    val matched = cands.withColumn("hit", explode(
      graft.functions.IntelLookupMulti.column(
        col("value"), col("indicator_type"), dbs)))
    matched
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("indicator_type"))
      .agg(count(lit(1)).as("matches"))
      .select(col("window.start").as("window_start"),
        col("indicator_type"), col("matches"))
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint_windowed")
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", s"$outDir/windowed_counts")
      .start()
  }

  /** Per-conversation running state via mapGroupsWithState: first/last
    * event time, turns seen, turns with at least one candidate — the
    * custom-state shape (KeyValueGroupedDataset) the north star calls for.
    *
    * State timeout: NoTimeout. Under Trigger.AvailableNow a
    * ProcessingTimeTimeout is never delivered (the query drains and must
    * stop — a pending timeout parks it forever, which is exactly the round-1
    * `sbt test` hang). For a truly continuous deployment use
    * conversationStateEventTime (event-time timeout against the watermark,
    * bounded state); the checkpoint dir already persists state across
    * restarts, so periodic AvailableNow drains (as tested) keep state
    * bounded by active conversations per drain window.
    */
  final case class ConvState(conv_id: String, turns: Long,
      turnsWithCandidates: Long, firstTs: Long, lastTs: Long)

  /** Event-time-timeout variant of conversationState: a conversation whose
    * last turn is older than `idleGap` BEHIND THE WATERMARK is finalized —
    * its state row is emitted once and removed. This is the bounded-state
    * shape for a truly continuous deployment (state size = active
    * conversations, not all conversations ever seen); timeouts fire when a
    * later micro-batch advances the watermark, so periodic AvailableNow
    * drains against the same checkpoint ALSO deliver them (safe under sbt
    * test, unlike ProcessingTimeTimeout which parks AvailableNow forever —
    * see conversationState's note).
    */
  def conversationStateEventTime(spark: SparkSession, inDir: String,
      outDir: String, watermarkDelay: String = "10 seconds",
      idleGapMs: Long = 60000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(ScanJob.turnSchema).json(inDir)
    val perTurn = stream
      // rows with no event time can neither advance nor respect the
      // watermark — and a null ts would NPE inside the state function
      .where(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .select(col("conv_id"), col("ts"),
        // null-safe: extract_iocs(null text) is null and size(null) is
        // NULL in Spark 4 — deserializing NULL into the primitive Boolean
        // would kill the query (poison pill); a null-text turn simply has
        // no candidates
        coalesce(
          size(graft.functions.GraftFunctions.extract_iocs(col("text"))) > 0,
          lit(false)).as("has_candidates"))
      .as[(String, java.sql.Timestamp, Boolean)]
    val finalized = perTurn
      .groupByKey(_._1)
      .flatMapGroupsWithState[ConvState, ConvState](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (convId, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            // idle past the gap: emit the final state once, drop it
            val done = state.get
            state.remove()
            Iterator.single(done)
          } else {
            // sessionization must not depend on micro-batch boundaries: an
            // AvailableNow drain (or a slow trigger) can deliver turns
            // separated by MORE than idleGap in one batch, and blindly
            // folding them would merge sessions a continuous deployment
            // (separate batches, watermark advance between) emits as two.
            // Sort the batch's rows by event time and SPLIT on every
            // in-batch gap > idleGap, emitting the finished sessions now;
            // only the newest session stays in state. (Late rows inside
            // the watermark that precede the open session's last turn
            // still fold into it — cross-batch lateness keeps the same
            // merge semantics as before.) Buffering is bounded by one
            // conversation's turns per batch.
            val prev = state.getOption
            val finished = List.newBuilder[ConvState]
            var cur = prev
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, has) =>
              val tsS = ts.getTime / 1000
              val cand = if (has) 1L else 0L
              cur match {
                case Some(c) if tsS * 1000L > c.lastTs * 1000L + idleGapMs =>
                  finished += c
                  cur = Some(ConvState(convId, 1L, cand, tsS, tsS))
                case Some(c) =>
                  cur = Some(ConvState(convId, c.turns + 1,
                    c.turnsWithCandidates + cand,
                    math.min(c.firstTs, tsS), math.max(c.lastTs, tsS)))
                case None =>
                  cur = Some(ConvState(convId, 1L, cand, tsS, tsS))
              }
            }
            val open = cur.getOrElse(
              prev.getOrElse(ConvState(convId, 0L, 0L, Long.MaxValue, 0L)))
            val last = open.lastTs
            state.update(open)
            // finalize once the watermark passes lastTs + idleGap. Clamped
            // to watermark+1 (the startTtl rule): lastTs is truncated to
            // seconds, so a small idleGapMs could compute a timestamp
            // BEHIND the current watermark — Spark rejects that with an
            // IllegalArgumentException and the query dies
            state.setTimeoutTimestamp(
              math.max(last * 1000L + idleGapMs,
                state.getCurrentWatermarkMs() + 1))
            finished.result().iterator
          }
      }
    finalized.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint_state_et")
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[ConvState], batchId: Long) =>
        // batch-partitioned overwrite = idempotent under micro-batch
        // replay (a finalized conversation must be emitted exactly once)
        batch.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/conv_state_final/batch=$batchId")
        ()
      }
      .start()
  }

  def conversationState(spark: SparkSession, inDir: String, outDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(ScanJob.turnSchema).json(inDir)
    val perTurn = stream
      // null ts cannot contribute to first/last (and would NPE the tuple
      // deserializer — poison pill); null text = no candidates (see the
      // event-time variant)
      .where(col("ts").isNotNull)
      .select(col("conv_id"), col("ts").cast("long").as("ts_s"),
        coalesce(
          size(graft.functions.GraftFunctions.extract_iocs(col("text"))) > 0,
          lit(false)).as("has_candidates"))
      .as[(String, Long, Boolean)]
    val updated = perTurn
      .groupByKey(_._1)
      .mapGroupsWithState[ConvState, ConvState](
        GroupStateTimeout.NoTimeout()) {
        case (convId, rows, state: GroupState[ConvState]) =>
          val prev = state.getOption
            .getOrElse(ConvState(convId, 0L, 0L, Long.MaxValue, 0L))
          var turns = prev.turns
          var withCands = prev.turnsWithCandidates
          var first = prev.firstTs
          var last = prev.lastTs
          rows.foreach { case (_, ts, has) =>
            turns += 1
            if (has) withCands += 1
            if (ts < first) first = ts
            if (ts > last) last = ts
          }
          val next = ConvState(convId, turns, withCands, first, last)
          state.update(next)
          next
      }
    updated.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint_state")
      .trigger(trigger)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[ConvState], batchId: Long) =>
        // batch=<id> Overwrite: replay-idempotent (see `start`); readers
        // wanting only the LATEST snapshot per conversation take the max
        // batch per conv_id
        batch.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/conv_state/batch=$batchId")
        ()
      }
      .start()
  }
}
