package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

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
}
