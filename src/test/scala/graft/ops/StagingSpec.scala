package graft.ops

import java.io.File
import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, split, substring}
import org.scalatest.funsuite.AnyFunSuite

/** Staging seam: the durable parquet path must be result-identical to the
  * default localCheckpoint path for every op that stages, a durable
  * release must delete its table, and nothing in `src/main` may
  * materialize a frame except through [[Staging]].
  */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Run `body` against a session that shares the test context but
    * carries the staging-dir conf, so only frames built in that session
    * stage durably — the shared session (and any suite running next to
    * this one) never sees the setting. The temp dir is always removed. */
  private def withDurable[A](body: (SparkSession, File) => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-staging-spec").toFile
    val durable = spark.newSession()
    durable.conf.set(Staging.DirConf, dir.toString)
    try body(durable, dir)
    finally {
      def rm(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir)
    }
  }

  private def stagedTables(dir: File): Set[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).toSet

  private val docRows = (0 until 40).map { i =>
    val tk = (0 until 6 + i % 4).map(j => s"w${(i * 3 + j * (1 + i % 3)) % 25}")
    (f"d$i%02d", tk.mkString(" "))
  } ++ Seq(
    ("dupa", "alpha beta gamma delta epsilon"),
    ("dupb", "alpha beta gamma delta epsilon"),
    ("dupc", "alpha beta gamma delta zeta"))
  private def docs(s: SparkSession) =
    s.createDataFrame(docRows).toDF("doc_id", "text")

  /** Documents sharing boilerplate lines (for dedupLines). */
  private def lineDocs(s: SparkSession) = s.createDataFrame((0 until 12).map {
    i => (s"l$i", s"menu home about\nbody ${i % 5} text\ncookie banner ok")
  }).toDF("doc_id", "text")

  private def vecs(s: SparkSession, n: Int) = s.createDataFrame(
    (0L until n.toLong).map { i =>
      (i, Array((math.cos(i * 0.37) * 2).toFloat,
        (math.sin(i * 0.53) * 2).toFloat, ((i % 7) - 3).toFloat))
    }).toDF("vec_id", "embedding")
  // nlist above DefaultMaxCollectCentroids takes the DF-resident Lloyd path
  private val bigNlist = Similarity.DefaultMaxCollectCentroids + 8

  private def valued(s: SparkSession) = s.createDataFrame(
    (0 until 300).map(i => (s"k${i % 3}", (i * 37L) % 101, 1L + i % 4)))
    .toDF("k", "v", "w")

  /** One op under the identity check: `run` builds its inputs in the
    * given session and returns the op's output; `wrote` names staged
    * tables the durable run must leave behind and `released` staged
    * tables it must not; `check` adds per-op assertions on the (local)
    * result. */
  private case class Op(name: String, run: SparkSession => DataFrame,
      wrote: Seq[String] = Nil, released: Seq[String] = Nil,
      check: Set[Row] => Unit = _ => ())

  private val ops = Seq(
    Op("jaccardJoin", s => SetJoin.jaccardJoin(docs(s), 500),
      wrote = Seq("setjoin-ordered"), released = Seq("setjoin-tok")),
    Op("containmentJoin", s => SetJoin.containmentJoin(docs(s), 700)),
    Op("curate (incl. minhash banding + CC loop)", s => Curation.curate(
        docs(s),
        s.createDataFrame(Seq(("e0", "alpha beta gamma delta epsilon " +
          "zeta eta"))).toDF("doc_id", "text"),
        minTokens = 2, maxTokens = 50, minMeanTokenLen = 1.0,
        maxMeanTokenLen = 20.0, minAlnumRatio = 0.1, minStopwordHits = 0,
        k = 2, numHashes = 8, bands = 4, maxBandDf = 10,
        contamN = 2, minShared = 1),
      // every verdict class should appear so the equality is meaningful
      check = rows => {
        assert(rows.exists(_.getAs[Boolean]("keep")))
        assert(rows.exists(r => !r.getAs[Boolean]("keep")))
      }),
    Op("minhashLshPairs + nearDupClusters", s => Dedup.nearDupClusters(
      docs(s).select("doc_id"),
      Dedup.minhashLshPairs(docs(s), k = 2, numHashes = 8, bands = 4))),
    Op("Cooccurrence.pairCounts", s => Cooccurrence.pairCounts(
      docs(s).select(col("doc_id"), explode(split(col("text"), " "))
        .as("tok")), col("doc_id"), col("tok"))),
    Op("Triangles.triangleCount", s => Triangles.triangleCount(
      s.createDataFrame(Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (4, 5)))
        .toDF("x", "y"), "x", "y")),
    Op("Quantiles.bucketedNearestRank", s => Quantiles.bucketedNearestRank(
      valued(s), Seq("k"), "v", Seq(("p50", 500), ("p90", 900)), 7L)),
    Op("Quantiles.bucketedWeightedNearestRank", s =>
      Quantiles.bucketedWeightedNearestRank(valued(s), Seq("k"), "v", "w",
        Seq(("p50", 500), ("p90", 900)), 7L)),
    Op("Similarity.ivfTopK (collect path)", s => Similarity.ivfTopK(
      vecs(s, 60), k = 2, nlist = 4, nprobe = 2, lloydRounds = 1)),
    Op("Similarity.ivfTopK (DF-resident path)", s => Similarity.ivfTopK(
      vecs(s, 2 * bigNlist), k = 1, nlist = bigNlist, nprobe = 2,
      lloydRounds = 1)),
    Op("Similarity.semDedup (collect path)", s => Similarity.semDedup(
      vecs(s, 60), threshold = 0.99, nlist = 4, lloydRounds = 1)),
    Op("Similarity.semDedup (DF-resident path)", s => Similarity.semDedup(
      vecs(s, 2 * bigNlist), threshold = 0.999, nlist = bigNlist,
      lloydRounds = 1)),
    Op("Dedup.simhashNearDupPairs", s =>
      Dedup.simhashNearDupPairs(docs(s), maxHamming = 8)),
    Op("Dedup.ngramJaccardPairs", s =>
      Dedup.ngramJaccardPairs(docs(s), k = 2, minJaccard = 0.3)),
    Op("Dedup.dedupLines", s => Dedup.dedupLines(lineDocs(s))),
    Op("Dedup.exactSubstrStats", s => Dedup.exactSubstrStats(docs(s), n = 3)),
    Op("HeavyHitters.frequentItems", s => HeavyHitters.frequentItems(
      s.createDataFrame((0 until 200).map(i =>
        Tuple1(if (i % 10 < 6) "hot" else s"c${i % 10}"))).toDF("item"),
      "item", 3)),
    Op("Sampling.allocateProportional", s => Sampling.allocateProportional(
      s.createDataFrame((0 until 120).map(i => (i.toLong, s"s${i % 5 % 3}")))
        .toDF("doc_id", "source"), "source", 17L)),
    Op("DistCompare.categoricalTvd", s => DistCompare.categoricalTvd(
      docs(s), docs(s).where(col("doc_id") > "d20"),
      substring(col("text"), 1, 2))),
    Op("Seasonality.dowDeviation", s => Seasonality.dowDeviation(
      s.createDataFrame((0 until 40).map(i => Tuple1(Timestamp.valueOf(
        f"2024-01-${1 + i % 17}%02d 10:00:00")))).toDF("ts"), "ts")))

  for (op <- ops) {
    val wroteNote =
      if (op.wrote.nonEmpty) " (and actually wrote staged tables)" else ""
    test(s"${op.name}: durable staging is result-identical$wroteNote") {
      val local = op.run(spark).collect().toSet
      val durable = withDurable { (s, dir) =>
        val out = op.run(s).collect().toSet
        val staged = stagedTables(dir)
        for (w <- op.wrote)
          assert(staged.exists(_.contains(w)),
            s"expected a staged $w table under $dir, found " +
              staged.mkString(", "))
        for (r <- op.released)
          assert(!staged.exists(_.contains(r)),
            s"staged $r table left under $dir: " + staged.mkString(", "))
        out
      }
      assert(durable == local && local.nonEmpty)
      op.check(local)
    }
  }

  test("durable nearDupClusters leaves only the tables behind its result, " +
    "not one label table per CC round") {
    withDurable { (s, dir) =>
      // a 17-node chain: pointer-jumping CC needs several rounds, each of
      // which stages a label table
      val ids = s.createDataFrame((0 until 17).map(i => Tuple1(f"n$i%02d")))
        .toDF("doc_id")
      val pairs = s.createDataFrame((0 until 16).map(i =>
        (f"n$i%02d", f"n${i + 1}%02d"))).toDF("doc_a", "doc_b")
      val out = Dedup.nearDupClusters(ids, pairs)
      assert(out.where(col("cluster_id") === lit("n00")).count() == 17)
      val behind = out.inputFiles.map(f => new Path(f).getParent.getName)
        .toSet
      assert(behind.size == 1 && behind.head.contains("cc-labels"))
      assert(stagedTables(dir) == behind)
      // and releasing the result deletes its table too
      Staging.releaseDeep(out)
      assert(stagedTables(dir).isEmpty)
    }
  }

  test("only Staging materializes frames in src/main") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val staging = new File(root, "graft/ops/Staging.scala").getCanonicalFile
    val banned = Seq(".localCheckpoint(", ".checkpoint(", "Checkpoints.")
    val hits = for {
      f <- files(root) if f.getCanonicalFile != staging
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if banned.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
