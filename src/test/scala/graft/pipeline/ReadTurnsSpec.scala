package graft.pipeline

import graft.{JobCounter, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `ScanJob.readTurns` reads the transcript table with the declared `Turn`
  * schema: the same rows as Spark's inferred read, and no job before the
  * first action.
  */
class ReadTurnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("readTurns returns the inferred read's rows and starts no job " +
      "before the action") {
    val dir = Files.createTempDirectory("read-turns").resolve("turns").toString
    spark.createDataFrame(Fixtures.turns(500)).repartition(3)
      .write.parquet(dir)

    val (declared, jobs) = JobCounter.count(spark)(ScanJob.readTurns(spark, dir))
    assert(jobs == 0, s"readTurns started $jobs jobs")
    // the inferred read is the one that starts a job (schema inference)
    val (inferred, inferJobs) = JobCounter.count(spark)(spark.read.parquet(dir))
    assert(inferJobs > 0)

    assert(declared.columns.toSeq == inferred.columns.toSeq)
    assert(declared.schema.map(_.dataType) == inferred.schema.map(_.dataType))
    val order = Seq("conv_id", "turn_idx")
    val got = declared.orderBy(order.head, order.tail: _*).collect().toSeq
    assert(got.size == 500)
    assert(got == inferred.orderBy(order.head, order.tail: _*).collect().toSeq)
  }
}
