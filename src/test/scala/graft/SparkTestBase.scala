package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all Spark-backed suites. A suite that
  * stops it (to test a context restart) leaves the next caller a fresh
  * session with the same settings.
  */
object SparkTestBase {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }
}
