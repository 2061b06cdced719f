package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Exact nearest-rank quantiles WITHOUT a per-group full sort — the
  * bounded-sort answer to "p99 latency per endpoint over 10^12 rows".
  * [[Percentiles.nearestRank]] is the direct form: one window pass that
  * SORTS every group end to end, which at web scale means a spilled
  * terabyte-sized sort per hot group. This op computes the IDENTICAL
  * result (same nearest-rank rule, same integer-permille rank
  * arithmetic, selects the same actual data values) in two linear
  * passes plus a sort of only the rank-straddling buckets:
  *
  *   pass 1  corpus → per-(key, bucket) COUNT — a map-side-partial hash
  *           aggregate; bucket = `value div width` (truncating integer
  *           division, monotone in the value for width > 0, so sorting
  *           by bucket is a coarsening of sorting by value).
  *   plan    the bucket histogram (histogram-sized, never corpus-sized)
  *           gets cumulative counts per key; each requested permille's
  *           rank r = (p·n + 999) div 1000 lands in exactly the bucket
  *           with prev < r ≤ cum, at in-bucket offset r − prev.
  *   pass 2  corpus semi-joins the chosen (key, bucket) set — everything
  *           outside a chosen bucket is filtered BEFORE any sort — then
  *           one row_number window per (key, bucket) picks the offset.
  *
  * The sorted volume is the size of the straddling buckets only
  * (≈ group_n / buckets_per_group per percentile), not the corpus; both
  * passes are plain hash shuffles with partial aggregation. Ties: equal
  * values always share a bucket (bucket is a function of the value), so
  * the in-bucket rank among them is arbitrary but the picked VALUE is
  * identical — the same determinism argument as [[Percentiles]].
  *
  * Which form to use, honestly (probe-measured): the win here is
  * SHUFFLE VOLUME, not local CPU. The direct window shuffles the full
  * corpus to the group partitions and sorts it; this op's map-side
  * combine reduces the exchange to histogram-sized rows and pass 2 to
  * the straddling buckets. On `local[*]` with memory-backed shuffle
  * and groups that fit executor memory, Tungsten's in-memory radix
  * window sort makes the DIRECT form faster (docs/ROUND5.md, q101:
  * 10M rows × 5 groups — direct ~1 s, bucketed ~4-7 s: the histogram's
  * per-row string-key hash agg costs more than the radix sort it
  * avoids). At cluster scale the regime flips: a 10^12-row group
  * cannot sort in memory (spilled external sort + a full-corpus
  * network exchange) while the histogram exchange stays ~10^5 rows
  * regardless of corpus size. Use [[Percentiles.nearestRank]] when
  * per-group data fits an executor; use this when it doesn't.
  *
  * Integer-only rank arithmetic throughout (the [[Percentiles]] rule:
  * a double `ceil(p*n)` mis-ranks at e.g. 0.95×40). The value column
  * must be integral — bucketing a float by `div` would hit the
  * truncation-vs-floor question at negative values; integral `div` is
  * monotone, which is the only property the rank argument needs.
  * NULL measurements carry no rank and are excluded from n.
  */
object Quantiles {

  /** Null-safe equi-join on `keys` with a hint applied to the (renamed)
    * right side — pass-2 joins must match NULL group keys too: SQL
    * GROUP BY makes a NULL key a real group, and the plain usingColumns
    * join silently DROPPED such groups between pass 1 and pass 2
    * (review find; the oracle's GROUP BY emits them).
    */
  private def nullSafeHintedJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], hint: DataFrame => DataFrame): DataFrame = {
    val r = keys.foldLeft(right)((d, k) =>
      d.withColumnRenamed(k, s"__graft_r_$k"))
    val cond = keys.map(k => col(k) <=> col(s"__graft_r_$k"))
      .reduce(_ && _)
    left.join(hint(r), cond).drop(keys.map(k => s"__graft_r_$k"): _*)
  }

  /** One row per group: `keyCols..., p_<label>` per requested permille —
    * bit-identical to `Percentiles.nearestRank(df, keyCols, valCol, ps)`.
    *
    * @param bucketWidth histogram bucket width in value units; larger =
    *   smaller histogram but bigger pass-2 sorts. Width 1 degenerates to
    *   an exact value histogram (pass 2 sorts single-value buckets);
    *   a width above the value range degenerates to the full sort.
    */
  def bucketedNearestRank(df: DataFrame, keyCols: Seq[String],
      valCol: String, ps: Seq[(String, Int)],
      bucketWidth: Long, broadcastTargets: Boolean = true): DataFrame = {
    require(ps.nonEmpty, "at least one percentile")
    require(ps.forall { case (_, p) => p > 0 && p <= 1000 },
      "percentile permille must be in (0, 1000]")
    require(bucketWidth > 0, "bucketWidth must be positive")
    df.schema(valCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"bucketedNearestRank needs an integral value column; " +
          s"'$valCol' is $other (floats would make `div` bucketing " +
          "truncate-vs-floor ambiguous at negative values)")
    }
    val keys = keyCols.map(col)

    // pass 1: corpus -> per-(key, bucket) counts. Map-side partial agg;
    // the output is histogram-sized.
    val rows = df.where(col(valCol).isNotNull)
      .select(keys :+ col(valCol) :+
        expr(s"`$valCol` div $bucketWidth").as("__graft_b"): _*)
    val hist = rows.groupBy(keys :+ col("__graft_b"): _*)
      .agg(count(lit(1)).as("__graft_c"))

    // histogram plan: cumulative counts per key over the bucket order
    // (histogram-sized window, never corpus-sized), then each requested
    // permille picks its straddling bucket + in-bucket offset.
    val wCum = Window.partitionBy(keys: _*).orderBy(col("__graft_b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val cum = hist
      .withColumn("__graft_cum", sum(col("__graft_c")).over(wCum))
      .withColumn("__graft_n", sum(col("__graft_c")).over(wAll))
      .withColumn("__graft_prev",
        col("__graft_cum") - col("__graft_c"))
    val psArr = array(ps.map { case (label, p) =>
      struct(lit(label).as("label"), lit(p.toLong).as("p"))
    }: _*)
    // staged: the target table is (groups × percentiles)-sized
    // and is consumed by TWO joins below — without the stage each
    // broadcast would re-execute the whole corpus histogram (the
    // Dedup.nearDupClusters edge-list lesson: pin tiny reused frames,
    // or every consumer pays the full upstream pass again).
    val targets = Staging.stage(cum
      .withColumn("__graft_q", explode(psArr))
      .withColumn("__graft_rank",
        expr("(__graft_q.p * __graft_n + 999) div 1000"))
      .where(col("__graft_prev") < col("__graft_rank") &&
        col("__graft_rank") <= col("__graft_cum"))
      .select(keys :+ col("__graft_b") :+
        col("__graft_q.label").as("__graft_label") :+
        (col("__graft_rank") - col("__graft_prev"))
          .as("__graft_off"): _*), "quantile-targets")

    // pass 2: keep only rows in a straddling bucket (semi-join BEFORE
    // any sort), rank inside each (key, bucket), pick the offsets.
    // The target tables are (groups × percentiles)-sized — broadcast
    // them so the corpus side is a scan + hash probe, NEVER a
    // sort-merge join (whose corpus sort is exactly the cost this op
    // exists to avoid; Catalyst's size estimate after the window+filter
    // is too pessimistic to pick broadcast on its own). For gigantic
    // group cardinality (targets beyond driver memory) pass
    // broadcastTargets = false: the joins then hint shuffle_hash,
    // which still avoids any corpus sort.
    val hinted = (t: DataFrame) =>
      if (broadcastTargets) broadcast(t) else t.hint("shuffle_hash")
    val bucketKeys = keyCols :+ "__graft_b"
    val needed = targets.select(bucketKeys.map(col): _*).distinct()
    val pruned = nullSafeHintedJoin(rows, needed, bucketKeys, hinted)
    val wIn = Window.partitionBy(bucketKeys.map(col): _*)
      .orderBy(col(valCol).asc)
    val picked = nullSafeHintedJoin(
      pruned.withColumn("__graft_rn", row_number().over(wIn)),
      targets, bucketKeys, hinted)
      .where(col("__graft_rn") === col("__graft_off"))

    val aggs: Seq[Column] = ps.map { case (label, _) =>
      max(when(col("__graft_label") === label, col(valCol)))
        .as(s"p_$label")
    }
    picked.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Equi-depth range-partition boundaries — the write-path planning
    * tool: the k−1 values that split the table into k near-equal row
    * ranges, for `repartitionByRange`/Iceberg sort-order writes whose
    * file sizes should not depend on the value distribution. Spark's
    * own range partitioner SAMPLES (approximate, seed-dependent);
    * these boundaries are exact nearest-rank values at the integer
    * permilles `⌊i·1000/k⌋` (strictly increasing for k ≤ 1000), via
    * the same bounded-state two-pass mechanism — so boundary planning
    * over 10^12 rows still exchanges only histogram-sized data.
    *
    * Output: one row per boundary — (boundary_idx 1..k−1, permille,
    * value) — value in the input column's type. Ties in the data can
    * make consecutive boundaries EQUAL (a value spanning >1/k of the
    * rows); callers collapsing equal boundaries get fewer, fatter
    * ranges — which is the honest answer for that distribution.
    */
  def rangeBoundaries(df: DataFrame, valCol: String, k: Int,
      bucketWidth: Long): DataFrame = {
    require(k >= 2 && k <= 1000, "k must be in [2, 1000]")
    val ps = (1 until k).map(i => (i.toString, i * 1000 / k))
    val one = bucketedNearestRank(
      df.withColumn("__graft_all", lit(1)), Seq("__graft_all"),
      valCol, ps, bucketWidth)
    one.select(explode(array(ps.map { case (label, p) =>
        struct(lit(label.toInt).as("boundary_idx"),
          lit(p).as("permille"), col(s"p_$label").as("value"))
      }: _*)).as("__graft_s"))
      .select("__graft_s.*")
  }

  /** WEIGHTED exact nearest-rank quantiles — same two-pass bounded-sort
    * mechanism, but each row carries a weight and the quantile is over
    * the WEIGHT mass: "the median token lives in a document of length
    * X" (weight = token count), "the p99 byte sits in a file of size Y"
    * — the distribution questions a data-pipeline owner actually asks,
    * where per-ROW quantiles mislead because a 10^6-token document
    * counts once.
    *
    * Pinned rule: for permille p over total weight W, the answer is the
    * value of the CROSSING row — the first row, in value order, whose
    * cumulative weight reaches `r = (p·W + 999) div 1000` (the same
    * integer ceil-rank arithmetic as the unweighted form; weight 1 per
    * row degenerates to it exactly, spec-pinned). Ties are
    * order-invariant: equal values are contiguous in the sort, so the
    * crossing VALUE never depends on their internal order. The crossing
    * row is identified without a second window: it is the unique row
    * with `cum − w < r ≤ cum` (zero-weight rows can never satisfy it,
    * so they are harmlessly inert; a NEGATIVE weight breaks cumulative
    * monotonicity and RAISES — folded into the consumed weight column,
    * the Intervals dead-code rule; NULL-weight rows are excluded like
    * NULL values — an unweighted row has no mass).
    *
    * Scale shape is identical to [[bucketedNearestRank]]: pass 1 folds
    * the corpus to per-(key, bucket) weight sums (map-side partial,
    * histogram-sized exchange), the plan finds each rank's straddling
    * bucket from cumulative bucket weights, pass 2 sorts ONLY the
    * straddling buckets. Weight sums ride `decimal(38,0)` so no
    * intermediate sum ever wraps; the rank expression's `div` is
    * integral (long), which bounds TOTAL weight at ~9.2×10^18 — 10^12
    * rows × 10^6-token weights with ~9× headroom (a larger W would
    * need the rank split into a two-step decimal quotient — not worth
    * the complexity short of it).
    */
  def bucketedWeightedNearestRank(df: DataFrame, keyCols: Seq[String],
      valCol: String, weightCol: String, ps: Seq[(String, Int)],
      bucketWidth: Long, broadcastTargets: Boolean = true): DataFrame = {
    require(ps.nonEmpty, "at least one percentile")
    require(ps.forall { case (_, p) => p > 0 && p <= 1000 },
      "percentile permille must be in (0, 1000]")
    require(bucketWidth > 0, "bucketWidth must be positive")
    df.schema(valCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"bucketedWeightedNearestRank needs an integral value column; " +
          s"'$valCol' is $other")
    }
    val keys = keyCols.map(col)
    val w = when(col(weightCol) < 0, raise_error(concat(
        lit("bucketedWeightedNearestRank: negative weight "),
        col(weightCol).cast("string"))))
      .otherwise(col(weightCol)).cast("decimal(38,0)")

    val rows = df.where(col(valCol).isNotNull && col(weightCol).isNotNull)
      .select(keys :+ col(valCol) :+ w.as("__graft_w") :+
        expr(s"`$valCol` div $bucketWidth").as("__graft_b"): _*)
    val hist = rows.groupBy(keys :+ col("__graft_b"): _*)
      .agg(sum(col("__graft_w")).as("__graft_c"))

    val wCum = Window.partitionBy(keys: _*).orderBy(col("__graft_b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val cum = hist
      .withColumn("__graft_cum", sum(col("__graft_c")).over(wCum))
      .withColumn("__graft_n", sum(col("__graft_c")).over(wAll))
      .withColumn("__graft_prev", col("__graft_cum") - col("__graft_c"))
    val psArr = array(ps.map { case (label, p) =>
      struct(lit(label).as("label"), lit(p.toLong).as("p"))
    }: _*)
    // staged: same two-consumer rule as the unweighted form
    val targets = Staging.stage(cum
      .withColumn("__graft_q", explode(psArr))
      .withColumn("__graft_rank",
        expr("(__graft_q.p * __graft_n + 999) div 1000")
          .cast("decimal(38,0)"))
      .where(col("__graft_prev") < col("__graft_rank") &&
        col("__graft_rank") <= col("__graft_cum"))
      .select(keys :+ col("__graft_b") :+
        col("__graft_q.label").as("__graft_label") :+
        (col("__graft_rank") - col("__graft_prev"))
          .as("__graft_off"): _*), "quantile-targets")

    val hinted = (t: DataFrame) =>
      if (broadcastTargets) broadcast(t) else t.hint("shuffle_hash")
    val bucketKeys = keyCols :+ "__graft_b"
    val needed = targets.select(bucketKeys.map(col): _*).distinct()
    val pruned = nullSafeHintedJoin(rows, needed, bucketKeys, hinted)
    val wIn = Window.partitionBy(bucketKeys.map(col): _*)
      .orderBy(col(valCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = nullSafeHintedJoin(
      pruned.withColumn("__graft_cw", sum(col("__graft_w")).over(wIn)),
      targets, bucketKeys, hinted)
      .where(col("__graft_cw") >= col("__graft_off") &&
        col("__graft_cw") - col("__graft_w") < col("__graft_off"))

    val aggs: Seq[Column] = ps.map { case (label, _) =>
      max(when(col("__graft_label") === label, col(valCol)))
        .as(s"p_$label")
    }
    picked.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Apply [[rangeBoundaries]]: attach `range_idx` = the number of
    * boundaries strictly below the value — range 0 is `v <= b_1`, range
    * i is `b_i < v <= b_(i+1)`, range k−1 is `v > b_(k-1)`. With equal
    * (fat-value) boundaries the dominant value lands in the LOWEST
    * matching range and the ranges between equal boundaries are empty —
    * the deterministic reading of `repartitionByRange` semantics.
    *
    * Boundaries arrive as a driver-side Seq (k ≤ 1000 longs — the same
    * "small dimension read" class as IVF centroids) and are applied as
    * one codegen'd literal-array HOF: `size(filter(bs, b -> b < v))` —
    * pure map-side, ZERO shuffles, so the assignment pass composes with
    * any downstream write without adding an exchange. A NULL value gets
    * a NULL range_idx (nulls have no position in a value order; route
    * them explicitly, don't let them silently inflate range 0).
    */
  def assignRanges(df: DataFrame, valCol: String,
      boundaries: Seq[Long]): DataFrame = {
    require(boundaries.nonEmpty, "at least one boundary")
    require(boundaries == boundaries.sorted,
      "boundaries must be non-decreasing (rangeBoundaries output order)")
    val bs = array(boundaries.map(lit(_)): _*)
    df.withColumn("range_idx",
      when(col(valCol).isNull, lit(null))
        .otherwise(size(filter(bs, b => b < col(valCol)))))
  }
}
