package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all Spark-backed suites. A suite that
  * stops it (to test a context restart) leaves the next caller a fresh
  * session with the same settings.
  */
object SparkTestBase {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = session("local[4]")
    current
  }

  /** Runs `body` in a session with the same settings on `master` (for
    * example `local[4,2]`, which retries a failed task once). A JVM has one
    * SparkContext, so the shared session is stopped first and the next
    * [[spark]] call starts a fresh one.
    */
  def withMaster[T](master: String)(body: SparkSession => T): T =
    synchronized {
      if (current != null) current.stop()
      current = null
      val s = session(master)
      try body(s) finally s.stop()
    }

  private def session(master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
