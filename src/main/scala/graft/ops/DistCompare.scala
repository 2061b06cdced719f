package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact categorical distribution compare — how differently are two
  * slices of a corpus distributed over a key (train vs eval by
  * language, yesterday vs today by event type, source A vs B by
  * domain)? The drift number every mixing recipe and eval-validity
  * check needs, computed EXACTLY: per key, the cross-multiplied share
  * difference `|n_a·N_b − n_b·N_a|` — integer arithmetic in
  * `decimal(38,0)` (two 10^12-row slices push the cross product to
  * 10^24), no IEEE division anywhere, so the result is bit-identical
  * in any engine. Total-variation distance comes out as the exact
  * fraction `Σ|n_a·N_b − n_b·N_a| / (2·N_a·N_b)` — reported as
  * numerator and denominator, plus the permille rendering
  * (`tvd_permille = 1000·num div den`, quotient ≤ 1000 so the
  * integral `div` never overflows regardless of how huge the decimal
  * operands are).
  *
  * One pass over each slice (map-side-partial counts per key), a FULL
  * OUTER join of the two histogram-sized count tables (a key absent
  * from one side is a key with count 0 — absence IS the drift signal;
  * an inner join would hide exactly the divergent keys), one tiny
  * cross join against the totals row, one fold. NULL keys are a real
  * category (null-safe join). An EMPTY slice RAISES — a TVD against
  * nothing is neither 0 nor 1, it is a caller bug.
  */
object DistCompare {

  /** One summary row: (n_a, n_b, n_keys, n_keys_only_a, n_keys_only_b,
    * tvd_num, tvd_den, tvd_permille); tvd = tvd_num/tvd_den ∈ [0,1].
    */
  def categoricalTvd(a: DataFrame, b: DataFrame, key: Column)
      : DataFrame = {
    val ca = a.groupBy(key.as("__graft_k"))
      .agg(count(lit(1)).as("__graft_na"))
    val cb = b.groupBy(key.as("__graft_k"))
      .agg(count(lit(1)).as("__graft_nb"))
    // staged: histogram-sized, consumed TWICE below (totals
    // agg + crossJoin left input) — unpinned, both corpus group-bys
    // and the full outer join would execute twice (the Quantiles
    // two-consumer rule; review find)
    val counts = Staging.stage(ca.withColumnRenamed("__graft_k", "__graft_ka")
      .join(cb.withColumnRenamed("__graft_k", "__graft_kb"),
        col("__graft_ka") <=> col("__graft_kb"), "full_outer")
      .select(
        coalesce(col("__graft_na"), lit(0L)).cast("decimal(38,0)")
          .as("na"),
        coalesce(col("__graft_nb"), lit(0L)).cast("decimal(38,0)")
          .as("nb")), "tvd-counts")
    val totals = counts.agg(
      sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    counts.crossJoin(totals)
      .agg(
        min(col("ta")).as("n_a"), min(col("tb")).as("n_b"),
        count(lit(1)).as("n_keys"),
        sum(when(col("nb") === 0, 1L).otherwise(0L))
          .as("n_keys_only_a"),
        sum(when(col("na") === 0, 1L).otherwise(0L))
          .as("n_keys_only_b"),
        sum(abs(col("na") * col("tb") - col("nb") * col("ta")))
          .as("tvd_num"),
        (min(col("ta")) * min(col("tb")) * 2).as("tvd_den"))
      .withColumn("tvd_permille",
        when(coalesce(col("n_a"), lit(0)) === 0 ||
            coalesce(col("n_b"), lit(0)) === 0, raise_error(
          lit("categoricalTvd: empty slice — TVD is undefined")))
          .otherwise(expr("(tvd_num * 1000) div tvd_den")))
  }
}
