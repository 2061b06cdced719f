package graft.pipeline

import graft.SparkTestBase
import graft.extract.IocScanner
import graft.intel.IntelDb
import graft.oracle.Oracle
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** `ScanJob.run` gives the same answers when a scan task fails once and is
  * retried: a test-only UDF on `text` throws partway through the first
  * attempt of partition 0, in a `local[4,2]` session that retries it. `stats/` (every
  * `candidates_<type>`, which an accumulator counts inside the scan),
  * `gold_counts/` and `metrics/` (folded from the per-bucket tallies the
  * scan observes) and the routed rows (by `Reconcile` digest) must equal a
  * clean run's, and the candidate counts must equal the oracle's, on a
  * LocalRelation input and on a parquet input.
  */
class ScanRetrySpec extends AnyFunSuite {
  import ScanRetrySpec.{FailAfter, failures, seen}

  private val turnsSeq = Fixtures.turns(2000)
  private val dbs = Seq(
    IntelDb.build("threats", Fixtures.intelThreats),
    IntelDb.build("allowlist", Fixtures.intelAllowlist))

  /** `turns` with a UDF on `text` that fails the first attempt of
    * partition 0 after it has passed `FailAfter` rows on, so the failed
    * attempt has already scanned (and counted) some candidates.
    */
  private def failFirstAttempt(turns: DataFrame): DataFrame = {
    seen.set(0)
    failures.set(0)
    val f = udf { (text: String) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
        seen.incrementAndGet() > FailAfter) {
        failures.incrementAndGet()
        throw new IllegalStateException("injected first-attempt failure")
      }
      text
    }
    turns.withColumn("text", f(col("text")))
  }

  private def table(spark: SparkSession, dir: String): Map[Seq[Any], Int] =
    spark.read.parquet(dir).collect().toSeq.map(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap

  test("a retried scan task gives the clean run's stats, gold counts and " +
    "routed rows; candidate counts equal the oracle's") {
    val oracleCands = Oracle.stats(turnsSeq, dbs,
      new IocScanner(ScanJob.capabilityConfig(dbs)))
      .filter(_._1.startsWith("candidates_"))
    assert(oracleCands.size > 5, oracleCands)
    SparkTestBase.withMaster("local[4,2]") { spark =>
      // a projection over a LocalRelation is otherwise evaluated on the
      // driver at planning time, and the UDF would never run in a task
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val base = Files.createTempDirectory("graft-retry").toString
      val local = spark.createDataFrame(turnsSeq)
      local.write.parquet(s"$base/input")
      val inputs = Seq("local" -> local,
        "parquet" -> spark.read.parquet(s"$base/input"))
      for ((name, turns) <- inputs) {
        val cfg = ScanJob.RunConfig(buckets = 8)
        val clean = ScanJob.run(spark, turns, dbs, s"$base/$name-clean", cfg)
        val retried = ScanJob.run(spark, failFirstAttempt(turns), dbs,
          s"$base/$name-retried", cfg)
        assert(failures.get() == 1, s"$name: injected failures")

        assert(retried == clean, name)
        assert(clean.filter(_._1.startsWith("candidates_")) == oracleCands,
          name)
        for (sub <- Seq("stats", "gold_counts", "metrics"))
          assert(table(spark, s"$base/$name-retried/$sub") ==
            table(spark, s"$base/$name-clean/$sub"), s"$name $sub")
        val a = spark.read.parquet(s"$base/$name-clean/routed")
        val b = spark.read.parquet(s"$base/$name-retried/routed")
        val groups = Seq("sink", "bucket", "indicator_type")
        val verdicts = graft.ops.Reconcile.diff(a, b, groups,
          a.columns.toSeq.filterNot(groups.contains))
          .select("status").distinct().collect().map(_.getString(0)).toSet
        assert(verdicts == Set("equal"), s"$name routed")
      }
    }
  }
}

object ScanRetrySpec {
  private val FailAfter = 200
  private val seen = new AtomicInteger
  private val failures = new AtomicInteger
}
