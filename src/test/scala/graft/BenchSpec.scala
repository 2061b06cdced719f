package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `Bench.timeQueries` times every query by writing its full output, and a
  * query that throws is reported only under `errors`.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("timeQueries gives each good query seconds > 0 and a failing one " +
      "only an error") {
    val good = Seq("q01_extract_ipv4", "q27_tpch_agg", "q104_url_normalize")
    val failing: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("broken \"query\"\nline two")
    val queries = good.map(n => n -> SparkEntry.queries(n)).toMap +
      ("q00_broken" -> failing)

    val t = Bench.timeQueries(spark, sf, queries)

    assert(t.seconds.map(_._1) == good.sorted)
    t.seconds.foreach { case (n, s) => assert(s > 0, s"$n took $s s") }
    assert(t.errors.map(_._1) == Seq("q00_broken"))
    // quotes, backslashes and control characters are blanked for the JSON
    assert(t.errors.head._2.contains("IllegalStateException: broken  query  line two"))
    assert(t.total == t.seconds.map(_._2).sum)
  }

  test("timeQueries writes the whole output, not a count") {
    // a projection that throws on every row: count() can drop it, the noop
    // write must evaluate it
    val q: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(3).selectExpr("raise_error('evaluated') AS v")
    val t = Bench.timeQueries(spark, sf, Map("q_raises" -> q))
    assert(t.seconds.isEmpty)
    assert(t.errors.map(_._1) == Seq("q_raises"))
    assert(spark.range(3).selectExpr("raise_error('evaluated') AS v").count() == 3)
  }

  test("timeQueries runs one untimed warm-up job before the clock starts") {
    // no queries: the warm-up job still runs, and the timings stay empty
    val (empty, jobs) = JobCounter.count(spark)(
      Bench.timeQueries(spark, sf, Map.empty))
    assert(jobs >= 1, "no warm-up job ran")
    assert(empty.seconds.isEmpty && empty.errors.isEmpty && empty.total == 0)

    // with a query: a job (the warm-up) started before the query was built
    val starts = new ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.time)
    }
    @volatile var builtAt = Long.MaxValue
    val q: (SparkSession, String) => DataFrame = (s, _) => {
      builtAt = System.currentTimeMillis()
      s.range(3).toDF()
    }
    spark.sparkContext.addSparkListener(listener)
    val t = try JobCounter.count(spark)(
      Bench.timeQueries(spark, sf, Map("q_only" -> q)))._1
    finally spark.sparkContext.removeSparkListener(listener)
    assert(t.seconds.map(_._1) == Seq("q_only") && t.errors.isEmpty)
    assert(starts.asScala.exists(_ < builtAt),
      s"no job started before the query ($builtAt): ${starts.asScala}")
  }
}
