package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Vectors are quantized to integers (round(x * 1000)) before any
  * arithmetic so dot products and norms are EXACT integers — scores are
  * then a single double division, bit-identical across engines (the DuckDB
  * oracle reproduces them). Quantization error is irrelevant for ranking
  * quality at 3 decimal places.
  *
  * Scale path: brute-force top-k is the correctness baseline (O(Q x N) with
  * a broadcast query side); `lshBuckets` is the 100 TB path — random
  * hyperplane signatures (seeded, deterministic) bucket the corpus so each
  * query only scans its bucket.
  */
object Similarity {

  /** array<float> -> array<long> quantized at 3 decimals. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine of two quantized vectors: int dot / (sqrt(int)*sqrt(int)).
    *
    * The denominator is floored at 1.0: a zero-norm vector (all-zero,
    * empty, or every |x| < 0.0005 so quantization rounds it to zeros) would
    * otherwise divide by 0.0, which THROWS under Spark's default ANSI mode
    * and would crash every similarity/dedup job over one degenerate
    * embedding. The floor is exact, never approximate: nonzero quantized
    * norms are integers >= 1, so sqrt(na)*sqrt(nb) >= 1 whenever both
    * vectors are nonzero (floor is a no-op), and when either is zero the
    * dot product is 0, giving cosine 0/1 = 0 — the natural "no similarity"
    * value for a zero vector. The DuckDB oracle mirrors the same greatest()
    * floor (OracleDefs.cosine).
    */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      greatest(
        sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")),
        lit(1.0))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Query side is broadcast — the corpus scan
    * is a single map-side pass, the only shuffle is the per-query top-k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("corpus_id"),
      quantize(col("embedding")).as("cq"))
    val q = queries.select(col("vec_id").as("query_id"),
      quantize(col("embedding")).as("qq"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineQ(col("qq"), col("cq")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** Max supported embedding dimensionality for the precomputed hyperplane
    * sign tables (vectors may be shorter; longer ones are rejected).
    */
  val MaxDim = 2048

  /** Cap sentinel: resolve the skew cap from the corpus itself (the
    * DEFAULT for every `maxBucketSize`/`maxClusterSize` parameter in this
    * family). Semantics: `AutoCap` (default) = 8x the uniform bucket load
    * with [[DefaultMaxBucketSize]]/[[DefaultMaxClusterSize]] as the floor;
    * `0` = explicit opt-out (uncapped); `> 0` = absolute cap.
    *
    * Why relative, not a fixed 1024 (round-5 review find): bucket COUNT is
    * small here (2^planes hyperplane buckets, nlist IVF lists), so a
    * healthy uniform corpus of n vectors puts ~n/buckets in every bucket —
    * at n = 200k over 64 buckets, a fixed cap of 1024 would silently
    * truncate two-thirds of every bucket and corrupt ordinary top-k
    * results. A SKEW guard must bite outlier buckets only: capping at 8x
    * the average load leaves uniform corpora exact while still bounding an
    * adversarial flood bucket's join to (8n/B)^2 instead of n^2. Costs one
    * `count()` of the corpus per call in auto mode; pass an absolute cap
    * to skip it.
    */
  val AutoCap: Int = -1

  /** Above this nlist the centroid table is no longer broadcast for the
    * assignment joins (a broadcast relation is BUILT on the driver; at
    * MaxDim the table is ~0.5 GB here) — the join runs as a distributed
    * cartesian instead. Keeps huge-nlist IVF/Lloyd driver-safe.
    */
  val MaxBroadcastCentroids: Int = 1 << 15

  private def centroidSide(cents: DataFrame, nlist: Int): DataFrame =
    if (nlist <= MaxBroadcastCentroids) broadcast(cents) else cents

  /** Default `maxCollectCentroids` for [[ivfCentroids]] — below this the
    * Lloyd loop collects each round's centroid table to the driver; above
    * it the table stays a (staged) DataFrame. Shared with
    * [[ivfTopK]]/[[semDedup]] so they can tell which representation their
    * centroid table took and release the live stage accordingly.
    */
  val DefaultMaxCollectCentroids = 512

  /** True when [[ivfCentroids]] with these parameters returns a LIVE
    * stage the consumer must release (the DF-resident Lloyd path).
    */
  private def centroidsAreLive(nlist: Int, lloydRounds: Int): Boolean =
    nlist > DefaultMaxCollectCentroids && lloydRounds > 0

  private[graft] def resolveCap(requested: Int, floorMin: Int,
      buckets: Int, corpusRows: => Long): Int =
    if (requested >= 0) requested
    else {
      val avg = (corpusRows + buckets - 1) / math.max(buckets, 1)
      math.min(math.max(floorMin.toLong, 8L * avg), Int.MaxValue.toLong)
        .toInt
    }

  /** Floor of the auto-resolved per-bucket cap ([[lshTopK]] / [[ivfTopK]]
    * `maxBucketSize`): the cap never resolves below this, so small corpora
    * are always exact within bucket.
    */
  val DefaultMaxBucketSize = 1024

  /** Floor of the auto-resolved within-cluster participant cap
    * ([[semDedup]] `maxClusterSize`). The cap bounds only PAIR GENERATION:
    * capped-out vectors always remain in the output as keepers, so it
    * degrades recall, never coverage.
    */
  val DefaultMaxClusterSize = 4096

  /** Deterministic random-hyperplane sign for (table, plane, dim): +-1 from
    * one md5 hex nibble of "seed<dim>" — reproducible in any engine with
    * md5 (the DuckDB oracle recomputes the same formula). Table 0 keeps the
    * legacy single-table seed so existing bucket ids are stable.
    *
    * Signs depend only on constants, so they are PRECOMPUTED driver-side
    * and shipped as a literal array — the previous per-element md5 inside
    * the higher-order function cost planes x tables x dim interpreted md5
    * calls per row (768 for a 64-dim vector at 4 planes x 3 tables).
    */
  private def signTable(table: Int, plane: Int): Array[Long] = {
    val seed = if (table == 0) s"p$plane-" else s"t${table}p$plane-"
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate[Long](MaxDim) { d =>
      md.reset()
      val hex = md.digest(s"$seed$d".getBytes("UTF-8"))
      // first hex nibble = high nibble of byte 0
      if (((hex(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
    }
  }

  /** LSH bucket id: `planes` random-hyperplane sign bits over the quantized
    * vector. Same-bucket vectors are ANN candidates. `table` selects an
    * independent hash table (different hyperplane set).
    *
    * Vectors longer than MaxDim fail LOUDLY (assert_true): the sign tables
    * only cover MaxDim dims, and silently zero-padded projections would
    * collapse every oversized vector into bucket 0 — one hot bucket and
    * quadratic blowup instead of an error.
    */
  def lshBucket(v: Column, planes: Int, table: Int = 0): Column =
    lshBucketOfQ(quantizeChecked(v), planes, table)

  /** [[quantize]] plus the MaxDim loud-failure guard. DataFrame-level ops
    * should materialize THIS as a column and feed the attribute to
    * [[lshBucketOfQ]]: bucket expressions reference the quantized vector
    * 2 x planes times, so an inlined quantize would be re-evaluated that
    * many times per row (x tables) — attribute references are O(1).
    */
  def quantizeChecked(v: Column): Column = {
    val checked = when(
      assert_true(size(v) <= MaxDim,
        lit(s"embedding dimensionality exceeds Similarity.MaxDim=$MaxDim"))
        .isNull, v)
    quantize(checked)
  }

  /** LSH bucket id over an ALREADY-MATERIALIZED quantized-vector column
    * (see [[quantizeChecked]]). */
  def lshBucketOfQ(qv: Column, planes: Int, table: Int = 0): Column =
    (0 until planes).map { p =>
      val signs = typedlit(signTable(table, p))
      val proj = aggregate(
        zip_with(qv, slice(signs, lit(1), size(qv)), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Deterministic k-means centroids for the IVF coarse quantizer.
    *
    * Init: the `nlist` vectors with the smallest vec_id (ORDER BY vec_id
    * LIMIT nlist — sparse or filtered id spaces still yield nlist
    * centroids). Then `lloydRounds` Lloyd iterations, each fully
    * oracle-reproducible:
    *  - assignment = argmax cosine, ties by centroid_id ascending (integer
    *    dot products — exact);
    *  - update = element-wise FLOOR division sum/count over the assigned
    *    quantized vectors, computed as (s - ((s % c + c) % c)) / c — pure
    *    integer arithmetic with identical semantics in Spark and DuckDB
    *    (long division truncates toward zero, so a plain s/c would differ
    *    from floor on negative sums);
    *  - empty clusters keep their previous centroid (classic Lloyd).
    * Centroid ids stay 0..nlist-1 across rounds.
    *
    * Two centroid-table representations, BIT-IDENTICAL results either way
    * (asserted by IvfCentroidsSpec):
    *  - nlist <= `maxCollectCentroids`: each round's table is collected to
    *    the driver (bounded by nlist x MaxDim = 8 MB at the default guard)
    *    so the next assignment joins a fresh literal broadcast;
    *  - larger nlist: the table stays a DataFrame — init renumbers via a
    *    row_number window over the (vec_id)-only projection (single
    *    partition, but nlist ids x 8 bytes, never the vectors), each
    *    round's update LEFT-joins the previous centroid table (empty
    *    clusters keep their centroid via coalesce) and is staged
    *    ([[Staging.stage]]) to truncate lineage, superseded tables released.
    *
    * Driver footprint honesty: the assignment join still BROADCASTS the
    * centroid table up to [[MaxBroadcastCentroids]] (a broadcast is BUILT
    * on the driver, so "DF-resident" bounds lineage and storage, not the
    * transient driver copy); above that the hint is dropped and Spark
    * runs a distributed cartesian join — slower per round, but no driver
    * ceiling. (At nlist ~ 10^6 the n x nlist assignment scoring is the
    * real wall — coarse-quantize the assignment itself first.)
    *
    * Stage lifetime: with `nlist > maxCollectCentroids` and
    * `lloydRounds > 0` the RETURNED table is a live stage — call
    * [[Staging.release]] when done with it (and with everything derived
    * lazily from it), or it is only reclaimed once unreachable. The
    * collect path returns a driver-local table with no stage.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int,
      lloydRounds: Int = 0,
      maxCollectCentroids: Int = DefaultMaxCollectCentroids): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cw = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    // one Lloyd round: assignment (argmax cosine, ties by centroid_id) +
    // exact-integer floor-division update over a centroid DataFrame.
    // `div`, not `/`: Column./ on longs is DOUBLE division, which loses
    // low bits once |s| exceeds 2^53 and would diverge from the oracle's
    // exact integer arithmetic; `div` stays integral.
    def lloydRound(q: DataFrame, cents: DataFrame): DataFrame = {
      val assigned = q.join(centroidSide(cents, nlist))
        .select(col("vec_id"), col("qv"), col("centroid_id"),
          cosineQ(col("qv"), col("cv")).as("ccos"))
        .withColumn("crank", row_number().over(cw))
        .where(col("crank") === 1)
      assigned
        .select(col("centroid_id"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("c"))
        .withColumn("comp", expr("(s - pmod(s, c)) div c"))
        .groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("comp")))),
          f => f.getField("comp").cast("long")).as("cv"))
    }
    def refine(q: DataFrame): DataFrame =
      if (nlist <= maxCollectCentroids) {
        var cents = q.orderBy(col("vec_id").asc).limit(nlist)
          .select(col("vec_id").as("centroid_id"), col("qv").as("cv"))
          .as[(Long, Array[Long])].collect().toSeq
          .sortBy(_._1).zipWithIndex
          .map { case ((_, v), i) => (i.toLong, v) }
        var round = 0
        while (round < lloydRounds) {
          val sums = lloydRound(q, cents.toDF("centroid_id", "cv"))
            .as[(Long, Array[Long])].collect().toMap
          cents = cents.map { case (id, old) => (id, sums.getOrElse(id, old)) }
          round += 1
        }
        cents.toDF("centroid_id", "cv")
      } else {
        // DF-resident path: renumber init centroids 0..n-1 by vec_id order
        // (window input = the nlist smallest ids ONLY, vectors joined after)
        val initIds = q.select(col("vec_id")).orderBy(col("vec_id").asc)
          .limit(nlist)
          .select(col("vec_id"),
            (row_number().over(Window.orderBy(col("vec_id").asc)) - 1)
              .cast("long").as("centroid_id"))
        var cents = q.join(initIds, "vec_id")
          .select(col("centroid_id"), col("qv").as("cv"))
        if (lloydRounds > 0) cents = Staging.stage(cents, "ivf-centroids")
        var round = 0
        while (round < lloydRounds) {
          val next = Staging.stage(cents.as("p")
            .join(lloydRound(q, cents).withColumnRenamed("cv", "nv"),
              Seq("centroid_id"), "left")
            .select(col("centroid_id"),
              coalesce(col("nv"), col("p.cv")).as("cv")), "ivf-centroids")
          Staging.release(cents)
          cents = next
          round += 1
        }
        cents
      }
    // materialize the quantized corpus ONCE when Lloyd rounds will loop
    // over it — each round otherwise re-executes the corpus scan +
    // quantization per assignment AND per update (the q41 lesson:
    // iterative refinement must never leave its loop input lazy)
    val qRaw = corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    if (lloydRounds > 0) Staging.using(qRaw, "ivf-corpus")(refine)
    else refine(qRaw)
  }

  /** ANN top-k via IVF (inverted-file) coarse quantization: assign every
    * vector to its nearest of `nlist` centroids, then each query probes
    * only the corpus lists of its `nprobe` nearest centroids — the classic
    * IVF trade (recall vs fraction of corpus scanned), complementary to
    * the hyperplane-LSH path (lshTopK).
    *
    * Coarse quantizer: `ivfCentroids` — deterministic first-nlist init plus
    * `lloydRounds` seeded Lloyd iterations (0 = init only, the fully
    * closed-form path; 2-3 rounds markedly improve recall on clustered
    * corpora — recall@10 0.94 -> 1.00 in BENCH_ANN.json). Both settings are
    * DuckDB-reproducible, so either is oracle-checked end-to-end.
    * Ties rank by centroid_id ascending.
    *
    * Scale shape: centroids broadcast (nlist is small); assignment and
    * probe ranking are one windowed pass over n x nlist scored pairs; the
    * candidate join shuffles on centroid_id with bounded fanout;
    * `maxBucketSize` caps a hot centroid's list like lshTopK's guard.
    */
  def ivfTopK(corpus: DataFrame, k: Int, nlist: Int = 8, nprobe: Int = 2,
      maxBucketSize: Int = AutoCap,
      lloydRounds: Int = 0): DataFrame = {
    val cap = resolveCap(maxBucketSize, DefaultMaxBucketSize, nlist,
      corpus.count())
    val q = corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = ivfCentroids(corpus, nlist, lloydRounds)
    val scored = q.join(centroidSide(cents, nlist))
      .select(col("vec_id"), col("qv"), col("centroid_id"),
        cosineQ(col("qv"), col("cv")).as("ccos"))
    val cw = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    val ranked = scored.withColumn("crank", row_number().over(cw))
    // DF-resident Lloyd path: the centroid table is a LIVE stage (see
    // ivfCentroids). Stage the pruned assignment table (the only thing
    // derived from it — n x max(nprobe,1) rows) eagerly, then release the
    // centroid stage NOW instead of leaking it until driver GC; the
    // collect path keeps the fully lazy plan.
    val base =
      if (centroidsAreLive(nlist, lloydRounds)) {
        val pruned = Staging.stage(
          ranked.where(col("crank") <= math.max(nprobe, 1)), "ivf-pruned")
        Staging.release(cents)
        pruned
      } else ranked
    val corpusSide = {
      val assigned = base.where(col("crank") === 1)
        .select(col("centroid_id"), col("vec_id").as("corpus_id"),
          col("qv").as("cq"))
      if (cap <= 0) assigned
      else {
        val bw = Window.partitionBy("centroid_id")
          .orderBy(col("corpus_id").asc)
        assigned.withColumn("bpos", row_number().over(bw))
          .where(col("bpos") <= cap).drop("bpos")
      }
    }
    val probes = base.where(col("crank") <= nprobe)
      .select(col("centroid_id"), col("vec_id").as("query_id"),
        col("qv").as("qq"))
    val cands = probes.join(corpusSide, Seq("centroid_id"))
      .where(col("query_id") =!= col("corpus_id"))
      // nprobe lists can repeat a pair only if a corpus vector sat in two
      // lists — impossible (assignment is unique), so no dedup needed
      .select(col("query_id"), col("corpus_id"),
        cosineQ(col("qq"), col("cq")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** ANN top-k via multi-table LSH: `tables` independent hyperplane sets
    * raise recall (a true neighbor is missed only if it lands in a different
    * bucket in EVERY table); candidate pairs are deduped across tables
    * before scoring so each pair's cosine is computed once.
    *
    * `maxBucketSize` is the skew guard: the corpus side of each
    * (table, bucket) is capped to its first `maxBucketSize` vec_ids, so an
    * adversarially hot bucket (all-zero embeddings, near-duplicate floods)
    * costs at most bucketSize x cap comparisons instead of bucketSize^2.
    * Queries are never dropped — only their candidate lists are truncated
    * (deterministically, by vec_id). Default [[AutoCap]]: 8x the uniform
    * bucket load (healthy corpora stay exact within bucket); 0 disables
    * explicitly, > 0 is an absolute cap.
    */
  def lshTopK(corpus: DataFrame, k: Int, planes: Int = 6, tables: Int = 1,
      maxBucketSize: Int = AutoCap): DataFrame = {
    val cap = resolveCap(maxBucketSize, DefaultMaxBucketSize,
      1 << math.min(planes, 30), corpus.count())
    // quantize ONCE into a materialized column; the per-table bucket
    // expressions then only reference the attribute (the quantize would
    // otherwise re-run 2 x planes x tables times per row — HOF arg
    // positions re-evaluate their subexpression at every use site)
    val withBucket = corpus
      .select(col("vec_id"), quantizeChecked(col("embedding")).as("qv"))
      .select(col("vec_id"), col("qv"),
        posexplode(array((0 until tables).map(t =>
          lshBucketOfQ(col("qv"), planes, t)): _*))
          .as(Seq("table_idx", "bucket")))
    val corpusSide = {
      val base = withBucket.select(col("table_idx"), col("bucket"),
        col("vec_id").as("corpus_id"), col("qv").as("cq"))
      if (cap <= 0) base
      else {
        val w = Window.partitionBy("table_idx", "bucket")
          .orderBy(col("corpus_id").asc)
        base.withColumn("bpos", row_number().over(w))
          .where(col("bpos") <= cap).drop("bpos")
      }
    }
    val querySide = withBucket.select(col("table_idx"), col("bucket"),
      col("vec_id").as("query_id"), col("qv").as("qq"))
    val joined = querySide.join(corpusSide, Seq("table_idx", "bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id", "qq", "cq")
    // with ONE table each vector has exactly one bucket, so a (query,
    // corpus) pair cannot repeat — the cross-table dedup shuffle would be
    // a pure no-op there (and was a measured 2.6x regression on q23)
    val cands =
      if (tables > 1) joined.dropDuplicates("query_id", "corpus_id")
      else joined
    val scored = cands.select(col("query_id"), col("corpus_id"),
      cosineQ(col("qq"), col("cq")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * pruning via k-means clustering — candidate pairs are generated only
    * WITHIN a cluster, so the quadratic pair cost is bounded by cluster
    * size, never corpus size (at 100 TB, nlist scales with the corpus and
    * `maxClusterSize` is the hard skew cap, the same guard family as
    * lshTopK/ivfTopK).
    *
    * Coarse quantizer = [[ivfCentroids]] (deterministic init + optional
    * seeded Lloyd rounds — both oracle-reproducible). Drop rule
    * (keep-first, consistent with the rest of the dedup family): a vector
    * is dropped iff its cluster holds a LOWER-id vector with cosine >=
    * `threshold`; `dup_of` is the smallest such id. The cap bounds only
    * PAIR GENERATION (by vec_id order): capped-out vectors still appear in
    * the output as keepers, so the cap degrades recall, never coverage.
    *
    * Output: one row per corpus vector —
    * (vec_id, centroid_id, dup_of, keep).
    */
  def semDedup(corpus: DataFrame, threshold: Double, nlist: Int = 8,
      lloydRounds: Int = 0,
      maxClusterSize: Int = AutoCap): DataFrame = {
    val cap = resolveCap(maxClusterSize, DefaultMaxClusterSize, nlist,
      corpus.count())
    val q = corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = ivfCentroids(corpus, nlist, lloydRounds)
    val cw = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    val assignedLazy = q.join(centroidSide(cents, nlist))
      .select(col("vec_id"), col("qv"), col("centroid_id"),
        cosineQ(col("qv"), col("cv")).as("ccos"))
      .withColumn("crank", row_number().over(cw))
      .where(col("crank") === 1)
      .select("centroid_id", "vec_id", "qv")
    // same live-stage release discipline as ivfTopK: on the DF-resident
    // Lloyd path, stage the assignment (one row per corpus vector) and
    // release the centroid stage immediately
    val assigned =
      if (centroidsAreLive(nlist, lloydRounds)) {
        val chk = Staging.stage(assignedLazy, "semdedup-assigned")
        Staging.release(cents)
        chk
      } else assignedLazy
    val participants =
      if (cap <= 0) assigned
      else {
        val bw = Window.partitionBy("centroid_id")
          .orderBy(col("vec_id").asc)
        assigned.withColumn("bpos", row_number().over(bw))
          .where(col("bpos") <= cap).drop("bpos")
      }
    val px = participants.select(col("centroid_id"),
      col("vec_id"), col("qv"))
    val py = participants.select(col("centroid_id"),
      col("vec_id").as("cand"), col("qv").as("qv2"))
    val dups = px.join(py,
        px("centroid_id") === py("centroid_id") && col("vec_id") > col("cand"))
      .select(col("vec_id"), col("cand"),
        cosineQ(col("qv"), col("qv2")).as("cosine"))
      .where(col("cosine") >= threshold)
      .groupBy("vec_id").agg(min(col("cand")).as("dup_of"))
    assigned.select("vec_id", "centroid_id")
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }
}
