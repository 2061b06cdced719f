package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conversation risk scoring — the escalation rollup above the match
  * stream: each conversation's hits fold into one integer risk score
  * (a weight per threat level, summed) plus match/indicator counts, and
  * a triage tier from fixed thresholds. This is the table an on-call
  * analyst actually reads: "which of the million conversations scanned
  * tonight do I look at first".
  *
  * Exactness: weights and thresholds are integers, the score is an
  * exact long sum, tiers are integer compares — engine-bit-exact.
  * Unknown/NULL threat levels take `defaultWeight`, never silently 0:
  * an unweighted hit still happened, and a feed with a novel level name
  * must not vanish from the risk ledger.
  *
  * Shape: ONE hash shuffle on conv_id — the same key the routed sinks
  * bucket by, so at cluster scale the rollup co-partitions with the
  * flagship layout (the Conversations rule). The weight CASE is
  * map-side codegen; per-conv state is one counter row.
  */
object RiskScore {

  /** The reference threat-level vocabulary with conventional weights. */
  val DefaultWeights: Seq[(String, Int)] = Seq(
    "critical" -> 100, "high" -> 50, "medium" -> 20, "low" -> 5)

  /** One row per conv_id: n_matches, n_indicators (distinct values),
    * risk_score, tier (`escalate` / `review` / `routine`).
    *
    * @param matched    [[ScanJob.matched]]-shaped
    *                   rows carrying (conv_id, value, threat_level)
    * @param escalateAt inclusive lower bound for tier `escalate`
    * @param elevatedAt inclusive lower bound for tier `review`
    */
  def conversationRisk(matched: DataFrame,
      weights: Seq[(String, Int)] = DefaultWeights,
      defaultWeight: Int = 1,
      escalateAt: Long = 1000L, elevatedAt: Long = 200L): DataFrame = {
    require(weights.nonEmpty, "at least one threat-level weight")
    require(escalateAt >= elevatedAt,
      "escalateAt must be >= elevatedAt (tiers are nested)")
    val weight = weights.foldLeft(when(lit(false), lit(0))) {
      case (acc, (level, w)) => acc.when(col("threat_level") === level,
        lit(w))
    }.otherwise(lit(defaultWeight))
    matched.groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_matches"),
        countDistinct(col("value")).as("n_indicators"),
        sum(weight.cast("long")).as("risk_score"))
      .withColumn("tier",
        when(col("risk_score") >= escalateAt, lit("escalate"))
          .when(col("risk_score") >= elevatedAt, lit("review"))
          .otherwise(lit("routine")))
  }
}
