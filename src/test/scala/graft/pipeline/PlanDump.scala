package graft.pipeline

import graft.intel.IntelDb

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the formatted physical plans documented in docs/PLANS.md. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.createDataFrame(Fixtures.turns(100))
      .write.mode("overwrite").parquet("/tmp/plandump-turns")
    val turns = spark.read.parquet("/tmp/plandump-turns")
    val dbs = Seq(
      IntelDb.build("threats", Fixtures.intelThreats),
      IntelDb.build("allowlist", Fixtures.intelAllowlist))
    val withBucket = turns.withColumn("bucket",
      pmod(xxhash64(col("conv_id")), lit(8)))
    println("=== matched (ScanTurn single-expression extract+lookup) ===")
    ScanJob.matched(turns, dbs, spark).explain("formatted")
    println("=== routedFrame (ScanJob.run single pass, with its observers) ===")
    ScanJob.routedFrame(spark, withBucket, dbs,
      obsTurns = Some(org.apache.spark.sql.Observation()),
      obsTally = Some(org.apache.spark.sql.Observation()))
      .explain("formatted")
    println("=== goldCounts over matched (the one shuffle) ===")
    ScanJob.goldCounts(ScanJob.matched(turns, dbs, spark)).explain("formatted")
    spark.stop()
  }
}
