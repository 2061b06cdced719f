package graft.queries

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** QueryDefs.oracleHugeint renders BIGINT columns as doubles only while
  * that is exact; at |v| >= 2^53 it fails naming the column.
  */
class OracleHugeintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Limit = 1L << 53

  test("values below 2^53 become exact doubles; nulls stay null") {
    val df = Seq[(Long, Option[Long])]((Limit - 1, None), (1 - Limit, Some(7L)))
      .toDF("total_pair_rows", "cents")
    val rows = QueryDefs.oracleHugeint(df, "total_pair_rows", "cents")
      .collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq((Limit - 1).toDouble,
      (1 - Limit).toDouble))
    assert(rows(0).isNullAt(1) && rows(1).getDouble(1) == 7.0)
  }

  test("2^53 + 1 fails with an error naming the column") {
    for (v <- Seq(Limit + 1, -Limit - 1)) {
      val df = Seq((1L, v)).toDF("cents", "total_pair_rows")
      val e = intercept[Exception](
        QueryDefs.oracleHugeint(df, "cents", "total_pair_rows").collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains("column total_pair_rows")),
        messages.mkString("\n"))
    }
  }
}
