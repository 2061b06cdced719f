package graft.pipeline

import graft.SparkTestBase
import graft.intel.IntelDb
import graft.model.IntelEntry
import org.scalatest.funsuite.AnyFunSuite

/** Suppression — allowlist veto of matched values. */
class SuppressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def threats = IntelDb.build("threats", Seq(
    IntelEntry("10.0.0.0/8", "high", "c2", "feed", 80),
    IntelEntry("*.example.com", "low", "heuristic", "feed", 40)))

  private def turns = Seq(
    ("c1", 0, "user", "saw 10.15.2.3 in log"), // ipv4, allow-suppressed
    ("c1", 1, "user", "saw 10.3.2.3 in log"), // ipv4, kept
    ("c2", 0, "user", "ping evil2.example.com"), // domain, suppressed
    ("c2", 1, "user", "ping evil1.example.com")) // domain, kept
    .toDF("conv_id", "turn_idx", "role", "text")

  private def allow = IntelDb.build("allowlist", Seq(
    IntelEntry("10.15.0.0/16", "unknown", "corp", "allow", 100),
    IntelEntry("evil2.example.com", "unknown", "cdn", "allow", 100)))

  test("CIDR and literal allow entries veto by value; everything else " +
    "survives untouched") {
    val matched = ScanJob.matched(turns, Seq(threats), spark)
    val kept = Suppression.applyAllowlist(matched, Seq(allow))
      .select("value").as[String].collect().toSeq.sorted
    assert(kept == Seq("10.3.2.3", "evil1.example.com"))
    // sanity: the unsuppressed stream really had all four
    assert(matched.select("value").as[String].collect().toSeq.sorted ==
      Seq("10.15.2.3", "10.3.2.3", "evil1.example.com",
        "evil2.example.com"))
  }

  test("suppression is value-level: every span/turn occurrence of a " +
    "benign value goes, in every conversation") {
    val multi = Seq(
      ("a", 0, "u", "first 10.15.2.3 then 10.15.2.3 again"),
      ("b", 0, "u", "also 10.15.2.3 here and 10.3.2.3"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val kept = Suppression
      .applyAllowlist(ScanJob.matched(multi, Seq(threats), spark),
        Seq(allow))
      .select("value").as[String].collect().toSeq
    assert(kept == Seq("10.3.2.3"))
  }

  test("zero shuffle: the allowlist veto adds no exchange to the " +
    "match plan") {
    val plan = Suppression
      .applyAllowlist(ScanJob.matched(turns, Seq(threats), spark),
        Seq(allow))
      .queryExecution.executedPlan.toString
    // the match plan reads entry metadata in place (no exchange at all);
    // what suppression must never add is a SHUFFLE exchange
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      "allowlist suppression must stay map-side:\n" + plan.take(3000))
  }

  test("at least one allowlist database is required") {
    intercept[IllegalArgumentException] {
      Suppression.applyAllowlist(
        ScanJob.matched(turns, Seq(threats), spark), Seq.empty)
    }
  }
}
