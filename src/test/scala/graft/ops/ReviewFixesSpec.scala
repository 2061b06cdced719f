package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 review-find regressions: zero-norm cosine under ANSI mode,
  * the simhash band mask at r=64, NULL-text language ID, and the staged
  * (single-sweep) pair generators returning unchanged results.
  */
class ReviewFixesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("zero-norm embeddings never divide by zero (ANSI) and score 0") {
    // all-zero, sub-quantization (rounds to zeros), and a normal vector:
    // every pair must evaluate without SparkArithmeticException, and any
    // pair involving a zero-norm vector scores cosine 0
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0004f, -0.0004f, 0.0002f)), // quantizes to all zeros
      (2L, Array(1.0f, 0.5f, 0.25f)),
      (3L, Array(1.0f, 0.5f, 0.25f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairsExact(vecs, minCosine = -1.0)
      .collect()
    assert(pairs.length == 6) // all pairs evaluated, none crashed
    pairs.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (a <= 1L || b <= 1L) assert(c == 0.0, s"zero-norm pair ($a,$b)")
    }
    assert(pairs.exists(r => r.getLong(0) == 2L && r.getLong(1) == 3L &&
      math.abs(r.getDouble(2) - 1.0) < 1e-12))
    // the ANN entry points survive zero-norm rows too
    assert(Similarity.bruteForceTopK(vecs, vecs, k = 2).count() == 8)
    assert(Similarity.ivfTopK(vecs, k = 2, nlist = 2).count() > 0)
  }

  test("simhash band mask: r=64 is the all-bits mask, not 0") {
    assert(Dedup.bandMask(64) == -1L)
    assert(Dedup.bandMask(16) == 0xffffL)
    assert(Dedup.bandMask(63) == Long.MaxValue)
    // functional: bits=64, bands=1 must NOT collapse distinct fingerprints
    // into one bucket — with maxHamming=0 only identical-fingerprint pairs
    // survive, and distinct docs never even become candidates
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different words entirely here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, bits = 64, bands = 1,
      maxHamming = 0).as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((0L, 1L, 0)))
  }

  test("NULL text: language ID is NULL, not the last marker language") {
    val docs = Seq[(Long, String)]((0L, null), (1L, "le les des une est"),
      (2L, "zzz qqq")).toDF("doc_id", "text")
    val r = TextStats.withLangId(docs).select("doc_id", "lang_detected")
      .as[(Long, Option[String])].collect().toMap
    assert(r(0L).isEmpty) // null in, null out
    assert(r(1L).contains("fr"))
    assert(r(2L).contains("und"))
  }

  test("staged pair generators: one signature sweep, results unchanged") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    // the staged (checkpointed) banded table must leave exactly one scan
    // below the checkpoint and the self-join must read the LogicalRDD —
    // i.e. no FileScan/LocalTableScan of the source remains in the plan
    // positive anchor + absence (round-5 test-review find: the md5/
    // substring ABSENCE checks pass vacuously if the signature function
    // is ever renamed): the plan must read the staged checkpoint ("Scan
    // ExistingRDD") and must NOT re-scan the source ("LocalTableScan") —
    // a dropped stage re-plans the whole sweep from the local source and
    // fails the positive check regardless of what the hash is called
    def staged(plan: String): Boolean =
      plan.contains("Scan ExistingRDD") && !plan.contains("LocalTableScan")
    val pairs = Dedup.minhashLshPairs(docs)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(staged(plan), plan.take(1500))
    assert(!plan.contains("md5"), "signature sweep leaked above the stage")
    assert(pairs.as[(Long, Long)].collect().toSet.contains((0L, 1L)))
    val sim = Dedup.simhashNearDupPairs(docs)
    val simPlan = sim.queryExecution.executedPlan.toString
    assert(staged(simPlan), simPlan.take(1500))
    assert(!simPlan.contains("md5"))
    val jac = Dedup.ngramJaccardPairs(docs, minJaccard = 0.3)
    val jacPlan = jac.queryExecution.executedPlan.toString
    assert(staged(jacPlan), jacPlan.take(1500))
    assert(!jacPlan.toLowerCase.contains("substring"),
      "shingling leaked above the stage")
    assert(jac.where(col("doc_a") === 0 && col("doc_b") === 1)
      .select("jaccard").as[Double].head() == 1.0)
  }

  test("ivfTopK/semDedup release live centroid checkpoints (no leak)") {
    val sc = spark.sparkContext
    // force the DF-resident Lloyd path: nlist > DefaultMaxCollectCentroids,
    // with ~2 vectors per list so probe candidates exist
    val nlist = Similarity.DefaultMaxCollectCentroids + 8
    val n = 2L * nlist
    val vecs = (0L until n).map { i =>
      (i, Array((math.cos(i * 0.37) * 2).toFloat,
        (math.sin(i * 0.53) * 2).toFloat, ((i % 7) - 3).toFloat))
    }.toDF("vec_id", "embedding")
    // track RDD ID SETS, not counts: the async ContextCleaner may collect
    // PRE-EXISTING pinned RDDs from earlier suites mid-test, which made a
    // count-based exact-baseline compare flaky under the full suite —
    // new-id differences are immune to concurrent cleanup of old entries
    val beforeIds = sc.getPersistentRDDs.keySet.toSet
    val topk = Similarity.ivfTopK(vecs, k = 1, nlist = nlist, nprobe = 2,
      lloydRounds = 1)
    assert(topk.count() > 0)
    val sem = Similarity.semDedup(vecs, threshold = 0.999, nlist = nlist,
      lloydRounds = 1)
    assert(sem.count() == n)
    // the centroid tables' checkpoint blocks must be gone; only the two
    // pruned-assignment stages (held by the still-referenced results)
    // may remain
    val newIds = sc.getPersistentRDDs.keySet.toSet -- beforeIds
    assert(newIds.size <= 2,
      s"leaked checkpoints: new persistent RDDs $newIds")
    // release the two LEGITIMATE pins (the pruned-assignment stages the
    // results still reference) and require every NEW pin gone — the <=2
    // slack alone is exactly the size of the centroid-checkpoint leak
    // this test exists to prevent (round-5 test-review find)
    Staging.releaseDeep(topk)
    Staging.releaseDeep(sem)
    val leftover = sc.getPersistentRDDs.keySet.toSet -- beforeIds
    assert(leftover.isEmpty,
      s"non-result checkpoints stayed pinned: $leftover")
  }

  test("scan_turn/scan_turn_flat reject non-string children at analysis " +
    "time (round-5 find)") {
    import graft.intel.IntelDb
    import graft.model.IntelEntry
    val dbs = Seq(
      IntelDb.build("t", Seq(IntelEntry("evil.com", "high", "c", "s", 9))))
    val df = Seq((1, "see evil.com")).toDF("n", "text")
    // string child fine
    assert(df.select(explode(graft.functions.ScanTurn.column(col("text"),
      dbs)).as("r")).count() > 0)
    // int child must fail ANALYSIS (or implicit-cast), never a per-task
    // ClassCastException; Column construction + analysis happens eagerly
    // on the action
    val bad = df.select(graft.functions.ScanTurn.column(col("n"), dbs,
      flat = true).as("r"))
    val ok =
      try {
        val rows = bad.collect()
        // on the implicit-cast path the expression must EVALUATE the cast
        // string "1" — a no-hit scan returns an EMPTY array, never null.
        // A defensive eval that swallows non-string input returns null
        // and previously counted as a pass (round-5 test-review find)
        rows.length == 1 && !rows.head.isNullAt(0) &&
          rows.head.getSeq[Any](0).isEmpty
      }
      catch { case _: org.apache.spark.sql.AnalysisException => true
              case _: ClassCastException => false }
    assert(ok, "non-string child: runtime CCE or a swallowed (null) eval")
  }

}
