package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over a `documents`
  * table (doc_id, text, ...). All hashes derive from md5 (the minhash
  * family via overflow-free integer double hashing on top of one digest
  * per shingle) so the DuckDB oracle can reproduce them bit-exactly; all
  * scores use integer arithmetic until a final single division
  * (deterministic doubles across engines).
  *
  * Scale notes: exact dedup is one hash-shuffle; MinHash-LSH shuffles once
  * on band keys (bounded fanout per band); SimHash emits fingerprints
  * map-side and joins on exact band keys. No O(n^2) stage anywhere except
  * inside an LSH bucket.
  */
object Dedup {

  /** Character shingles of length k as a deduplicated array column. */
  def shingles(text: Column, k: Int): Column = {
    // positions 0..len-k => substring(i, k); array_distinct for set form
    array_distinct(
      filter(
        transform(
          sequence(lit(1), greatest(length(text) - lit(k - 1), lit(1))),
          i => text.substr(i, lit(k))),
        s => length(s) === lit(k)))
  }

  /** Exact dedup (hash-groupBy): one row per distinct text hash with the
    * canonical (min) doc_id and the duplicate count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .groupBy("text_hash")
      .agg(min("doc_id").as("canonical_doc_id"),
        count(lit(1)).as("n_docs"))

  /** Mask to 60 bits — every derived hash stays below 2^60, and with `a`
    * a 60-bit draw and `b` a 56-bit draw, `a + 63*b < 2^60 + 2^62 < 2^63`
    * never overflows a long for numHashes <= 64 (enforced), so DuckDB's
    * CHECKED BIGINT arithmetic reproduces the exact same values (wrapping
    * arithmetic would error there; this family never wraps).
    */
  private val Mask60 = (1L << 60) - 1

  /** Per-shingle hash pair (a, b): a 60-bit and a 56-bit draw from ONE md5
    * (hex chars 1-15 and 17-30). One digest per shingle instead of one per
    * (hash function x shingle) — the md5 sweep dominated minhash cost
    * (numHashes x shingles digests; 160 M at sf0.1).
    */
  private def shingleHashPair(sh: Column): Column =
    transform(transform(sh, s => md5(s)), h => struct(
      conv(substring(h, 1, 15), 16, 10).cast("long").as("a"),
      conv(substring(h, 17, 14), 16, 10).cast("long").as("b")))

  /** MinHash signature terms over an ALREADY-MATERIALIZED (a, b)
    * hash-pair array column ([[shingleHashPair]]): h_i(doc) = min over
    * shingles of (a + i*b) & Mask60 — Kirsch-Mitzenmacher double hashing
    * derives the `numHashes` functions from one digest with pure
    * (overflow-free) integer arithmetic, reproducible in any engine with
    * md5. `ab` must be a plain attribute reference: each term's
    * `transform` would otherwise re-evaluate the digests once per term.
    */
  private def minhashSigTerms(ab: Column, numHashes: Int): Seq[Column] = {
    require(numHashes <= 64,
      "numHashes > 64 would overflow the a + i*b derivation (see Mask60)")
    (0 until numHashes).map { i =>
      array_min(transform(ab, p =>
        (p.getField("a") + lit(i.toLong) * p.getField("b"))
          .bitwiseAND(lit(Mask60))))
    }
  }

  /** Per-band LSH bucket keys of a signature column: element b = the
    * "#"-joined minhash slice of band b, as a STATIC array (no lambda, so
    * `sig` is never re-evaluated per band). THE definition of "near" for
    * banding — single-sourced through [[bandedMinhash]] for the batch pair
    * generator and both streaming claim variants
    * ([[graft.streaming.StreamingDedup.startNearDup]] / `startNearDupTtl`)
    * so the three can never drift apart.
    */
  private def bandKeyCols(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand)
        .cast("array<string>"), "#")
    }: _*)
  }

  /** One banded row per (input row, band): `keep..., band_idx, band_key`.
    *
    * MinHash shingles are WORD k-grams (lowercased whitespace tokens, the
    * Lee et al. 2022 convention for training-data near-dup, shared with
    * [[Decontaminate]] tokenization) — a document yields ~tokens shingles
    * instead of ~chars, which is what makes the signature sweep ~30x
    * cheaper than character shingling at the same recall on prose.
    * Documents with fewer than k tokens have NO shingles and are dropped
    * from banding (an all-null signature would otherwise give every such
    * document the SAME empty band key, pairing all short docs with each
    * other — quadratic and wrong).
    *
    * The hash-pair array and the signature array are STAGED as
    * materialized columns (each referenced several times downstream, so
    * CollapseProject keeps the projections): shingling and the md5 sweep
    * run ONCE per doc — the naive single-expression form re-computed the
    * full signature once per band because higher-order-function lambdas
    * re-evaluate non-lambda subexpressions per element, and the original
    * hash family additionally paid numHashes digests per shingle.
    */
  def bandedMinhash(df: DataFrame, textCol: String, k: Int, numHashes: Int,
      bands: Int, keep: Seq[String]): DataFrame =
    bandedMinhashOfTokens(
      df.select(keep.map(col) :+
        Decontaminate.tokens(col(textCol)).as("__graft_toks"): _*),
      "__graft_toks", k, numHashes, bands, keep)

  /** [[bandedMinhash]] over an ALREADY-TOKENIZED column (the
    * single-tokenization composition path — Curation.curate stages the
    * token table once and derives shingles, quality counts and
    * contamination grams from it). The tokens column must be
    * [[Decontaminate.tokens]]-normalized for the banding definition to
    * stay single-sourced.
    */
  def bandedMinhashOfTokens(df: DataFrame, toksCol: String, k: Int,
      numHashes: Int, bands: Int, keep: Seq[String]): DataFrame = {
    val keepCols = keep.map(col)
    df.select(keepCols :+
        shingleHashPair(Decontaminate.ngramsOfTokens(col(toksCol), k))
          .as("__graft_ab"): _*)
      .select(keepCols :+
        array(minhashSigTerms(col("__graft_ab"), numHashes): _*)
          .as("__graft_sig"): _*)
      .select(keepCols :+
        posexplode(bandKeyCols(col("__graft_sig"), numHashes, bands))
          .as(Seq("band_idx", "band_key")): _*)
      // < k tokens => no shingles => all-null signature => empty band key.
      // Filter AFTER the explode, on the generator OUTPUT: a pre-explode
      // filter on the signature gets predicate-pushed to the source with
      // the whole tokens->grams->md5->sig pipeline INLINED into the
      // condition (re-evaluated per row, split back inside a lambda =
      // the O(tokens^2) pathology again); a generator-output predicate
      // cannot be pushed and stays an O(1) attribute check.
      .where(col("band_key") =!= "")
  }

  /** Cap one side of a band-bucket self-join to its first `cap` doc_ids per
    * (band_idx, band_key) — the skew guard shared by the minhash and simhash
    * pair generators. A flood of identical documents (all in one band
    * bucket) then costs bucketSize x cap join rows instead of bucketSize^2:
    * every flood doc still pairs with the bucket's first `cap` members (so
    * it IS reported as a near-dup), but the quadratic intra-flood pair list
    * is truncated deterministically.
    */
  private def capBandSide(banded: DataFrame, cap: Int,
      keyCol: String = "band_key"): DataFrame =
    if (cap <= 0) banded
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", keyCol).orderBy(col("doc_id").asc)
      banded.withColumn("bpos", row_number().over(w))
        .where(col("bpos") <= cap).drop("bpos")
    }

  /** Default band-bucket cap ([[minhashLshPairs]]/[[simhashNearDupPairs]]
    * `maxBandDf`): ON by default (round-5 flip — a default invocation must
    * never be the quadratic path at 100 TB; pass 0 to opt out explicitly).
    * 256 bounds an N-identical-docs flood at N x 256 pairs — far above any
    * legitimate bucket population at the default 8-hash/4-band settings
    * (dedup-relevant buckets hold near-dup GROUPS, and a group larger than
    * 256 is exactly the flood pathology the cap exists for), and still links
    * every flood member to the bucket's first 256 docs, so connected
    * components collapse the flood into one cluster regardless.
    */
  val DefaultMaxBandDf = 256

  /** Default hot-shingle document-frequency cap ([[ngramJaccardPairs]]
    * `maxShingleDf`): ON by default (round-5 flip). A shingle shared by d
    * docs contributes d^2 candidate rows, so boilerplate shared by 10^8
    * docs is a 10^16-pair blowup; 10^4 keeps every remotely discriminative
    * shingle (df 10k at corpus scale is pure boilerplate) while bounding
    * any one shingle's contribution at 10^8 rows.
    */
  val DefaultMaxShingleDf = 10000

  /** MinHash + LSH near-dup candidate pairs: band the signature, bucket-join
    * on (band_idx, band_key), emit doc pairs sharing >= 1 band. `k` =
    * WORDS per shingle (word k-grams — see [[bandedMinhash]]).
    *
    * `maxBandDf` is the 100 TB skew guard (same class as `maxShingleDf` /
    * `Similarity.maxBucketSize`): one side of the band self-join is capped
    * to the first `maxBandDf` doc_ids per band bucket, bounding an
    * N-identical-docs flood at N x maxBandDf pairs instead of N^2. No
    * document is dropped — only its intra-bucket pair fanout. ON by
    * default ([[DefaultMaxBandDf]]); 0 disables (explicit opt-out for
    * exhaustive small-corpus audits).
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 5, numHashes: Int = 8,
      bands: Int = 4, maxBandDf: Int = DefaultMaxBandDf): DataFrame = {
    // Stage the banded table ONCE (eager localCheckpoint): the band
    // self-join otherwise re-executes the whole shingle + md5 signature
    // sweep — the pipeline's dominant cost — once PER JOIN SIDE (verified
    // empirically: two complete sweeps, no exchange reuse, in both the
    // static and the final AQE plan). The cap window and the join stay
    // LAZY above the checkpoint so the returned plan still shows the skew
    // guard; the checkpoint's blocks are reclaimed by the ContextCleaner
    // once the returned frame is unreachable (the .cache() lifecycle).
    // Curation.curate needs a tighter lifetime and stages its own banded
    // table, releasing it explicitly after materializing its output.
    pairsFromBanded(
      Staging.stage(
        bandedMinhash(docs, "text", k, numHashes, bands,
          keep = Seq("doc_id")), "minhash-banded"),
      maxBandDf)
  }

  /** The (capped) band-bucket self-join over a banded frame
    * (doc_id, band_idx, band_key) — shared by [[minhashLshPairs]] and the
    * staged-banding composition in Curation.curate (which checkpoints the
    * banded table first so the md5 signature sweep runs once, not once per
    * join side).
    */
  private[ops] def pairsFromBanded(banded: DataFrame,
      maxBandDf: Int): DataFrame = {
    // cap the LEFT (smaller-id) side: pairs are (a, b) with a < b, so the
    // capped side must be the one holding the bucket's smallest ids — every
    // beyond-cap doc still pairs (as doc_b) with the first maxBandDf members
    val a = capBandSide(banded, maxBandDf)
      .select(col("band_idx"), col("band_key"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** SimHash fingerprints, relational form: explode distinct tokens, hash
    * each ONCE (60-bit int from 15 md5 hex chars — reproducible in any
    * engine), then one groupBy computing all bit votes as conditional sums
    * (map-side partial agg => one shuffle; codegen-friendly; the md5 is
    * never recomputed per bit).
    */
  def simhashFingerprints(docs: DataFrame, bits: Int = 32): DataFrame = {
    // tokenization single-source: Decontaminate.tokens IS the shared
    // normalization this docstring family promises — never re-spell the
    // split here or the cross-op equivalence silently breaks
    val tokenHashes = docs
      .select(col("doc_id"),
        explode(array_distinct(Decontaminate.tokens(col("text"))))
          .as("token"))
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10)
        .cast("long"))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    tokenHashes.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map { b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
        }.reduce((x, y) => x.bitwiseOR(y)).as("fingerprint"))
  }

  /** Low-`r`-bits band mask for [[simhashNearDupPairs]]. Java long shifts
    * are mod 64, so the naive `(1L << r) - 1` is 0 at r = 64 — a bits=64,
    * bands=1 configuration would silently collapse EVERY fingerprint into
    * band_bits=0 (one bucket, maximal candidate generation, the banding
    * guarantee void); r=64 means "the whole fingerprint", i.e. all bits.
    */
  private[ops] def bandMask(r: Int): Long =
    if (r >= 64) -1L else (1L << r) - 1

  /** SimHash near-dup candidates: identical fingerprints (exact band). */
  def simhashGroups(docs: DataFrame, bits: Int = 32): DataFrame =
    simhashFingerprints(docs, bits)
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_doc_id"))
      .where(col("n_docs") > 1)

  /** SimHash near-dup PAIRS via multi-band blocking: split the fingerprint
    * into `bands` equal bit-bands; pairs sharing >=1 band are candidates
    * (pigeonhole: any pair with Hamming distance < bands shares a band, so
    * recall is exact for hamming <= bands-1), then filter by true Hamming
    * distance. One shuffle on the band key; never all-pairs — the banding
    * is the 100 TB path the round-1 simhashGroups (Hamming-0 only) lacked.
    */
  def simhashNearDupPairs(docs: DataFrame, bits: Int = 32, bands: Int = 4,
      maxHamming: Int = 3, maxBandDf: Int = DefaultMaxBandDf): DataFrame = {
    require(bits % bands == 0, "bits must divide into equal bands")
    val r = bits / bands
    // stage the fingerprints ONCE (eager, tiny: doc_id + one long) — the
    // band self-join otherwise recomputes the per-token md5 vote sweep per
    // join side (same empirically-verified double execution as
    // minhashLshPairs); the banding bit-ops stay lazy above the stage
    val fps = Staging.stage(simhashFingerprints(docs, bits), "simhash-fps")
    val banded = fps.select(col("doc_id"), col("fingerprint"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("fingerprint"), b * r)
          .bitwiseAND(lit(bandMask(r)))): _*))
        .as(Seq("band_idx", "band_bits")))
    // same guard as minhashLshPairs (`maxBandDf`): cap the smaller-id side
    // per band bucket so an identical-fingerprint flood emits N x cap pairs,
    // not N^2 — every doc still pairs with its bucket's first cap members
    val left = capBandSide(banded, maxBandDf, keyCol = "band_bits")
    left.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_bits") === col("y.band_bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fingerprint").as("fp_a"), col("y.fingerprint").as("fp_b"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(fp_a ^ fp_b)").cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** N-gram Jaccard similarity for candidate pairs that share at least one
    * shingle. |A ∩ B| / |A ∪ B| with integer set sizes; one shuffle on the
    * shingle key. `minJaccard` prunes the tail.
    *
    * `maxShingleDf` is the 100 TB skew guard: a shingle present in
    * d documents contributes d^2 join rows, so one boilerplate 5-gram shared
    * by 10^8 docs would alone produce 10^16 pairs. Shingles with document
    * frequency > maxShingleDf are excluded from PAIR GENERATION (set sizes
    * still count every shingle, so jaccard is a documented lower bound for
    * pairs sharing hot shingles — near-dup pairs keep >=1 rare shingle in
    * practice). Excluded shingles are reported per-pair via `inter` being
    * computed over kept shingles only; callers needing the drop count can
    * aggregate `df > maxShingleDf` themselves from `shingleDf`. ON by
    * default ([[DefaultMaxShingleDf]]); 0 disables explicitly.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 5,
      minJaccard: Double = 0.5,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    // stage the exploded shingle table ONCE (eager Staging.stage): it is
    // read up to five times below (set sizes, the df guard, and both pair
    // join sides), and each read would otherwise re-shingle every document
    // from the source scan (empirically SIX FileScans in the unstaged
    // plan, no exchange reuse); blocks are ContextCleaner-reclaimed once
    // the returned frame is unreachable (the .cache() lifecycle)
    val sh = Staging.stage(docs.select(col("doc_id"),
      explode(shingles(col("text"), k)).as("shingle")), "ngram-shingles")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val kept =
      if (maxShingleDf <= 0) sh
      else sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") <= maxShingleDf).select("shingle"),
        "shingle")
    val pairs = kept.as("x")
      .join(kept.as("y"), col("x.shingle") === col("y.shingle"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("set_size", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("set_size", "size_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Connected components over a near-dup pair graph: every document gets
    * `cluster_id` = the smallest doc_id transitively reachable through the
    * pairs, plus `is_canonical` (the cluster representative a dedup job
    * KEEPS; the rest are the drop set). This is the step a training-data
    * pipeline runs AFTER pair generation — pairs alone don't dedup, the
    * transitive closure does.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING
    * (label := min(own, neighbors' labels, label-of-label) per round) —
    * O(log diameter) rounds instead of O(diameter), each round one
    * neighbor-min shuffle + one label-table self-join. The edge list is
    * materialized ONCE (Staging.stage) before the loop: `pairs` is
    * typically the full minhash-LSH pipeline, and leaving it lazy would
    * re-execute that pipeline every iteration — the most expensive stage
    * multiplied by O(log diameter). Label lineage is likewise truncated
    * per round so the plan doesn't grow with iterations; convergence is
    * EXACT: the new label table carries the previous label, and the round
    * converges when zero rows changed (a count, immune to the silent
    * wrap-around a sum-of-labels check would have under non-ANSI Long
    * overflow at huge doc_id scales). 100 TB shape: labels are
    * (doc_id, cluster_id) pairs — the working set is one long per doc,
    * never the pair graph in memory.
    */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val edges = Staging.stage(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      "cc-edges")
    // labels carry (doc_id, cluster_id, prev) so the per-round action can
    // count changed rows off the already-checkpointed data (no extra join).
    // The INITIAL table stays lazy (round 6): it is a trivial projection
    // of `docs` — callers pass either a checkpointed frame or a raw scan —
    // and round 1 re-deriving it twice (neighbor-min + jump joins) is
    // cheaper than the eager checkpoint job the old form paid up front;
    // every LATER label table is the round's own checkpoint as before.
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"),
      col("doc_id").as("prev"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nmin"))
      val withNeighbor = labels.as("l")
        .join(neighborMin, col("l.doc_id") === col("src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          col("l.cluster_id").as("old_label"),
          least(coalesce(col("nmin"), col("l.cluster_id")),
            col("l.cluster_id")).as("cluster_id"))
      // pointer jumping: follow the label one hop (cluster_id's own label)
      val jumped0 = withNeighbor.as("a")
        .join(labels.select(col("doc_id").as("p_id"),
          col("cluster_id").as("p_label")),
          col("a.cluster_id") === col("p_id"), "left")
        .select(col("a.doc_id").as("doc_id"),
          least(col("a.cluster_id"),
            coalesce(col("p_label"), col("a.cluster_id"))).as("cluster_id"),
          col("a.old_label").as("prev"))
      val jumpedStaged = Staging.stage(jumped0, "cc-labels")
      val changed =
        jumpedStaged.where(col("cluster_id") =!= col("prev")).count()
      converged = changed == 0L
      // release the superseded stage (otherwise up to maxIter full
      // label-table copies stay pinned in block storage, or on disk in
      // durable mode, until the run ends)
      Staging.release(labels)
      labels = jumpedStaged
      iter += 1
    }
    Staging.release(edges)
    require(converged, s"nearDupClusters did not converge in $maxIter rounds")
    labels.select("doc_id", "cluster_id")
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Quality-ranked canonical selection — which member of each
    * duplicate cluster to KEEP. [[nearDupClusters]]' `is_canonical`
    * (min id) is an arbitrary pick; a curation pipeline keeps the
    * best member (longest, highest quality score, newest crawl), and
    * the obvious implementation — `row_number()` over (cluster ORDER
    * BY score) — pays a per-cluster SORT. This op gets the identical
    * answer from one algebraic aggregate: `max(struct(score, −id))`
    * compares lexicographically, so the winner is max score with ties
    * broken by LOWEST id — map-side-partial combinable, no sort, one
    * shuffle on the cluster key.
    *
    * Pinned semantics: the id column must be integral and non-null
    * (the −id tie-break is integer negation); rows with a NULL score
    * are dropped BEFORE selection and before `n_members` (a null
    * quality cannot be compared — route unscored docs explicitly).
    */
  def keepBest(members: DataFrame, clusterCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(members.schema(idCol).dataType)
    }, s"$idCol must be integral (the tie-break negates it)")
    // the non-null/negatable id contract is enforced at EXECUTION, not
    // just documented: a NULL id would silently yield kept_id = NULL
    // (losing the canonical pick), and a MinValue id negates to itself
    // (losing every score tie instead of winning as the lowest id) —
    // both are data bugs this op must surface, not absorb (review
    // find). The negation runs at LONG width — narrower ids widen
    // first, so Int/Short/Byte MinValue negate fine and only
    // Long.MinValue needs the guard (second review find: guarding the
    // raw column compared -2^31 against -2^63 and missed 3 of the 4
    // supported id types).
    val idType = members.schema(idCol).dataType
    val guardedId = when(col(idCol).isNull, raise_error(
        lit(s"keepBest: NULL $idCol — ids must be non-null")))
      .when(col(idCol).cast("long") === Long.MinValue, raise_error(
        lit(s"keepBest: $idCol = Long.MinValue is not negatable")))
      .otherwise(col(idCol).cast("long"))
    members.filter(col(scoreCol).isNotNull)
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-guardedId).as("nid")))
          .as("__graft_best"))
      .select(col(clusterCol), col("n_members"),
        (-col("__graft_best.nid")).cast(idType).as("kept_id"),
        col("__graft_best.s").as("kept_score"))
  }

  /** Document frequency per shingle — the skew diagnostic behind
    * `maxShingleDf` (shingles are distinct per doc, so count == df).
    */
  def shingleDf(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(explode(shingles(col("text"), k)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))

  /** Embedding near-dup, scale path (DEFAULT): LSH-bucket the corpus with
    * `planes` random hyperplanes, then compare only within buckets — never
    * all-pairs. Pairs in different buckets are not compared (approximate by
    * design; raise recall with more tables via Similarity.lshTopK).
    *
    * `maxBucketSize` caps the smaller-id side of the bucket self-join
    * (same guard family as `maxBandDf` / `Similarity.maxBucketSize`): an
    * embedding flood collapsing into one bucket costs N x cap pairs, not
    * N^2. Default [[Similarity.AutoCap]] (8x uniform bucket load, floor
    * [[Similarity.DefaultMaxBucketSize]]); 0 disables.
    */
  def embeddingCosinePairs(embeddings: DataFrame, minCosine: Double,
      planes: Int = 6,
      maxBucketSize: Int = Similarity.AutoCap): DataFrame = {
    // auto cap = 8x uniform bucket load (Similarity.AutoCap semantics):
    // a fixed cap over 2^planes buckets would truncate HEALTHY buckets of
    // any corpus beyond ~2^planes x cap vectors
    val cap = Similarity.resolveCap(maxBucketSize,
      Similarity.DefaultMaxBucketSize, 1 << math.min(planes, 30),
      embeddings.count())
    // stage the quantized vector, then bucket from the attribute (the
    // bucket expression references it 2 x planes times — see
    // Similarity.quantizeChecked)
    val q = embeddings
      .select(col("vec_id"),
        Similarity.quantizeChecked(col("embedding")).as("qv"))
      .select(col("vec_id"), col("qv"),
        Similarity.lshBucketOfQ(col("qv"), planes).as("bucket"))
    val a =
      if (cap <= 0) q
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy(col("vec_id").asc)
        q.withColumn("bpos", row_number().over(w))
          .where(col("bpos") <= cap).drop("bpos")
      }
    a.as("a").join(q.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosineQ(col("a.qv"), col("b.qv")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Embedding near-dup, exact all-pairs: O(n^2) — ONLY for small candidate
    * sets (an LSH bucket, a sampled audit slice); the default scale path is
    * embeddingCosinePairs above.
    */
  def embeddingCosinePairsExact(embeddings: DataFrame,
      minCosine: Double): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
    q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosineQ(col("a.qv"), col("b.qv")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Corpus-level line deduplication (MassiveText/RefinedWeb-style
    * boilerplate removal; C4 removes three-sentence spans the same way):
    * delete every line that occurs >= `minCount` times across the WHOLE
    * corpus (navigation chrome, cookie banners, boilerplate headers) and
    * reassemble each document from its surviving lines in original order.
    *
    * Shape: one staged scan (eager Staging.stage: split + per-line md5
    * run once; the hot-line aggregate and the anti-join both read the
    * stage), then three linear shuffles — count(*) per line hash (an
    * ALGEBRAIC aggregate: a banner on 10^9 pages costs one combined row),
    * a left-anti join on the hash (AQE splits hot keys), and one doc-keyed
    * groupBy for reassembly. Lines are keyed by their full 128-bit md5 —
    * 60-bit draws would birthday-collide at web scale and delete innocent
    * lines.
    *
    * Output: (idCol, textCol cleaned, n_lines, n_removed) — one row per
    * input document; a document whose every line was boilerplate comes
    * back with empty text, never vanishes.
    */
  def dedupLines(docs: DataFrame, minCount: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minCount >= 2, "minCount must be >= 2 (1 would drop every line)")
    val staged = Staging.stage(docs
      .select(col(idCol), split(col(textCol), "\n").as("__graft_ls"))
      .select(col(idCol),
        coalesce(size(col("__graft_ls")), lit(0)).cast("long")
          .as("n_lines"),
        col("__graft_ls"),
        transform(col("__graft_ls"), l => md5(l)).as("__graft_lh")),
      "dedup-lines")
    val lines = staged
      .select(col(idCol),
        posexplode(arrays_zip(col("__graft_lh"), col("__graft_ls")))
          .as(Seq("pos", "z")))
      .select(col(idCol), col("pos"), col("z.__graft_lh").as("lh"),
        col("z.__graft_ls").as("line"))
    val hot = lines.groupBy("lh").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount)
      .select("lh")
    val rebuilt = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("pos"), col("line"))))
        .as("__arr"))
      .select(col(idCol),
        concat_ws("\n", transform(col("__arr"), x => x.getField("line")))
          .as(textCol),
        size(col("__arr")).cast("long").as("__kept"))
    staged.select(col(idCol), col("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L)))
          .as("n_removed"))
  }

  /** POSITIONAL word n-gram windows over an already-materialized token
    * array: element i (0-based via posexplode) = the space-joined window
    * toks[i, i+n). Unlike [[Decontaminate.ngramsOfTokens]] this keeps
    * every occurrence AND its position (needed for span coverage), and is
    * empty — not a short gram — when the doc has fewer than n tokens.
    * Space-join is injective here: tokens are whitespace-split so they
    * contain no spaces, and every window has exactly n of them.
    */
  private def gramWindows(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** ExactSubstr-style duplicate-span statistics (the verbatim-run half of
    * the dedup family, after Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better"): per document, the number of tokens
    * covered by verbatim runs of >= n tokens that also appear in at least
    * one OTHER document, plus the covered fraction. A shared run of
    * length L >= n contributes all L tokens (its length-n windows overlap;
    * coverage is the interval union, not a window count).
    *
    * The reference algorithm is a corpus-wide suffix array — inherently
    * single-machine. The Spark-native equivalence: a verbatim cross-doc
    * run of >= n tokens exists iff some positional n-gram window occurs in
    * >= 2 distinct documents, so
    *   1. explode positional n-gram windows (one md5 per window; the FULL
    *      128-bit digest — a truncated draw would birthday-collide at
    *      10^13 windows and flag false duplicates);
    *   2. flag hashes spanning >= 2 docs via min(doc)!=max(doc) — an
    *      ALGEBRAIC aggregate (map-side combine, no distinct-count, no
    *      pairwise join: a boilerplate gram shared by 10^6 docs costs one
    *      combined row, never 10^12 pairs — this family's skew guard is
    *      structural, not a cap);
    *   3. join the flags back on gram hash (AQE splits a skewed hash) and
    *      union the per-doc [pos, pos+n) intervals with one sorted window
    *      pass: sum(least(n, pos - lag(pos))), first row counting n.
    * Three linear shuffles total (gram agg, flag join, doc window). The
    * scan + tokenize + md5 window sweep runs ONCE and is staged (eager
    * Staging.stage, the minhashLshPairs convention): three consumers
    * read the staged table — the flag aggregate, the join-back, and the
    * per-doc n_tokens base — where the lazy form re-ran the full sweep
    * per consumer. Blocks are reclaimed by the ContextCleaner once the
    * returned frame is unreachable.
    *
    * Output: (doc_id, n_tokens, dup_tokens, dup_frac), one row per input
    * document (docs with no shared run report 0). `dup_frac` is one
    * integer/integer division — bit-reproducible across engines.
    */
  def exactSubstrStats(docs: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, "window length n must be >= 1")
    // staged sweep: (id, n_tokens, ghs) with ghs = md5 per positional
    // window. The token array must be a materialized column before
    // gramWindows touches it (the HOF re-evaluation rule).
    val staged = Staging.stage(docs
      .select(col(idCol),
        Decontaminate.tokens(col(textCol)).as("__graft_toks"))
      .select(col(idCol),
        coalesce(size(col("__graft_toks")), lit(0)).cast("long")
          .as("n_tokens"),
        gramWindows(col("__graft_toks"), n).as("__graft_w"))
      .select(col(idCol), col("n_tokens"),
        transform(col("__graft_w"), g => md5(g)).as("__graft_ghs")),
      "exact-substr")
    val grams = staged
      .select(col(idCol),
        posexplode(col("__graft_ghs")).as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh")
      .agg(min(idCol).as("__mn"), max(idCol).as("__mx"))
      .where(col("__mn") =!= col("__mx"))
      .select("gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("pos").asc)
    val covered = grams.join(dupGrams, Seq("gh"))
      .select(col(idCol),
        coalesce(least(lit(n.toLong), col("pos") - lag("pos", 1).over(w)),
          lit(n.toLong)).as("c"))
      .groupBy(idCol).agg(sum("c").as("__dup"))
    staged.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("__dup"), lit(0L)) / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }
}
