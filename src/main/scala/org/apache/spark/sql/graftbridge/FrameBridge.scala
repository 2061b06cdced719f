package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}

/** DataFrame <-> logical plan bridge. Spark 4 keeps `Dataset.ofRows`,
  * `Dataset.logicalPlan` and `LogicalPlan.setAnalyzed` package-private to
  * `org.apache.spark.sql`; this shim re-exports them for a frame over a
  * local relation of rows already on the driver, and for reading a
  * frame's plan back.
  */
object FrameBridge {
  /** A DataFrame over `relation` in `spark`'s session. The relation is
    * resolved as built (its attributes are its output), so it is marked
    * analyzed: the analyzer's rules would only walk its rows, every one.
    */
  def ofLocalRelation(spark: SparkSession, relation: LocalRelation)
      : DataFrame = {
    relation.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], relation)
  }

  /** `df`'s analyzed logical plan. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan
}
