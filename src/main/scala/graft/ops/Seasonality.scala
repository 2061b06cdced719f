package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Day-of-week seasonality normalization — "was this Tuesday big, or
  * are Tuesdays just big?": per calendar day, the event count compared
  * against that WEEKDAY's own typical day, as an exact permille ratio.
  * Raw daily counts make weekly rhythm look like anomalies (every
  * weekend "drops 40%"); [[Anomaly]]'s MAD flags outliers within one
  * undifferentiated population; this op removes the known rhythm first
  * — the standard pre-step before alerting on daily volumes.
  *
  * Exact arithmetic throughout (the integer-permille rule): the
  * weekday baseline is kept as the PAIR (total events on that weekday,
  * number of distinct dates observed) — never a float average — and
  * the per-day ratio is `n · n_days · 1000 div dow_total` (products
  * before division; 1000 = a typical day of that weekday). A weekday
  * observed on only one date has itself as baseline (ratio 1000) —
  * honest, and visible via `n_days` carried in the output. Days with
  * ZERO events do not appear (the event table cannot distinguish "no
  * traffic" from "no data"; emitting fabricated zeros would be the
  * null-over-wrong rule).
  *
  * Scale: one map-side-partial aggregate to per-date counts
  * (|dates| rows), a 7-row weekday fold from THAT (never the corpus),
  * one broadcast-sized join back. Weekday numbering is ISO (1 =
  * Monday … 7 = Sunday) via `dayofweek`'s documented Sunday=1
  * convention shifted — pinned so the oracle replays it exactly.
  */
object Seasonality {

  /** One row per (date with events): (day, dow_iso, n, dow_total,
    * n_days, deviation_permille). */
  def dowDeviation(events: DataFrame, tsCol: String): DataFrame = {
    val perDay = Staging.stage(events.filter(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow_iso",
        // dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
        pmod(dayofweek(col("day")) + lit(5), lit(7)) + lit(1)),
      "dow-per-day") // two consumers: the baseline fold + the join
    val baseline = perDay.groupBy(col("dow_iso").as("__graft_dw"))
      .agg(sum(col("n")).as("dow_total"),
        count(lit(1)).as("n_days"))
    perDay
      .join(broadcast(baseline),
        col("dow_iso") === col("__graft_dw"))
      .drop("__graft_dw")
      .withColumn("deviation_permille",
        // decimal product (the Concentration rule): a 5·10^12-event
        // day × 2000 observed dates × 1000 passes Long.MaxValue
        expr("CAST(n AS DECIMAL(38,0)) * n_days * 1000 div dow_total"))
      .select("day", "dow_iso", "n", "dow_total", "n_days",
        "deviation_permille")
  }
}
