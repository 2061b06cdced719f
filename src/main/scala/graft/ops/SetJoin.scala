package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering (the AllPairs /
  * PPJoin family) — every pair of documents whose distinct-token-set
  * Jaccard similarity meets the threshold, with exact intersection
  * counts. This is the deterministic complement of
  * [[Dedup.minhashLshPairs]]: minhash trades recall for a fixed band
  * budget (probabilistic, tunable); the prefix filter is LOSSLESS — the
  * candidate stage provably contains every qualifying pair, so the
  * output equals the naive all-pairs join at a fraction of its cost.
  *
  * The mechanism, stated once. Order each document's distinct tokens by
  * a GLOBAL total order — ascending document frequency, token text as
  * the tie-break — so every set lists its rarest tokens first. For a
  * Jaccard threshold t, a document with n tokens keeps only its first
  * `p = n − ⌈t·n⌉ + 1` tokens as join keys (its *prefix*). Why no
  * qualifying pair is lost: J(x,y) ≥ t forces the intersection size
  * `inter ≥ t·union ≥ t·max(n_x, n_y)`, and the prefix-filter lemma
  * (Chaudhuri et al., ICDE 2006) says two sets sharing ≥ α elements
  * under a common total order must collide within their
  * `(n − α + 1)`-prefixes; our per-document prefixes use
  * `α_doc = ⌈t·n_doc⌉ ≤ ⌈t·max⌉ = α_pair`, i.e. they are at least as
  * long as the lemma needs, so every qualifying pair shares a prefix
  * token. Candidates then take ONE equi-join on prefix tokens — never a
  * corpus self-join — and an exact verify computes the true
  * intersection per candidate from the two staged token arrays
  * (map-side `array_intersect`, candidate-bounded).
  *
  * The threshold is integer permille ([[Percentiles]] rule): the keep
  * test is `inter·1000 ≥ permille·(n_x + n_y − inter)` — pure integer
  * arithmetic, so both engines agree bit-for-bit with no float-epsilon
  * question at the boundary; the reported `jaccard` double is one IEEE
  * division of exact longs.
  *
  * 100 TB shape: df-ascending prefixes are the skew story — a stopword
  * can only enter a prefix when a document has almost nothing rarer, so
  * hot tokens are structurally starved out of the join keys. The
  * residual pathology (documents consisting ENTIRELY of hot tokens)
  * is bounded by `maxTokenDf` — defaults ON ([[DefaultMaxTokenDf]], the
  * [[Dedup.ngramJaccardPairs]] precedent): tokens above the cap never
  * become join keys, so a flood of stopword-only docs costs zero pairs
  * instead of df². Below the cap the join is EXACT; pairs whose every
  * shared prefix token is above it are the (documented) recall loss;
  * 0 opts out. Three linear shuffles (token df, per-doc arrays,
  * candidate pairs) + the candidate-bounded verify join.
  *
  * NULL ids / NULL texts / zero-token texts yield no rows (no set to
  * compare); tokenizer = [[Decontaminate.tokens]], the one corpus-wide
  * definition of "word".
  */
object SetJoin {

  /** Hot-token join-key cap — the [[Dedup.DefaultMaxShingleDf]] value:
    * generous enough that healthy corpora stay exact, finite so a
    * boilerplate flood cannot manufacture a quadratic token bucket.
    */
  val DefaultMaxTokenDf = 10000

  /** Shared staging for both join flavors: one row per doc with its
    * distinct tokens sorted by the global (df asc, token asc) order as
    * (df, token) structs — so prefix slices can drop over-cap tokens
    * from the JOIN KEYS without re-joining df — plus the plain token
    * array and set size. The exploded token table is staged ONCE
    * (it feeds the df aggregate AND the df-annotation join — unstaged,
    * each consumer re-splits every document, the q31 lesson) and
    * released once the result is staged; the result is staged too (it
    * feeds the prefix explode and BOTH verify sides). Staging =
    * [[Staging.stage]]: localCheckpoint by default, durable parquet when
    * a staging dir is configured (round 6).
    */
  private def stagedOrderedTokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Staging.using(docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(Decontaminate.tokens(col(textCol))))
          .as("token")), "setjoin-tok") { tok =>
      val df = tok.groupBy("token").agg(count(lit(1)).as("df"))
      Staging.stage(tok.join(df, "token")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("token"))))
          .as("ord"))
        .select(col("doc_id"), col("ord"),
          transform(col("ord"), s => s.getField("token")).as("toks"),
          size(col("ord")).as("n")), "setjoin-ordered")
    }

  /** Explode a staged frame's (df, token) structs — the first
    * `prefixLen(n)` of them, or all when `prefixLen` is None — into
    * join-key rows, dropping tokens above the df cap (0 = no cap).
    * Single-sourced so cap semantics cannot drift between the two join
    * flavors.
    *
    * Each key row also carries the doc's set size `n` and the token's
    * 1-based position `pos` in the global (df asc, token asc) order —
    * the inputs of the AllPairs length filter and the PPJoin positional
    * filter applied at the candidate join (round 6; both lossless, see
    * the call sites).
    */
  private def tokenKeys(ordered: DataFrame,
      prefixLen: Option[org.apache.spark.sql.Column],
      maxTokenDf: Int): DataFrame = {
    val exploded = prefixLen match {
      case Some(p) => ordered.select(col("doc_id"), col("n"),
        posexplode(slice(col("ord"), lit(1), p.cast("int"))))
      case None => ordered.select(col("doc_id"), col("n"),
        posexplode(col("ord")))
    }
    val keys = exploded.select(col("doc_id"), col("n"),
      (col("pos") + lit(1)).as("pos"), col("col.df").as("df"),
      col("col.token").as("token"))
    if (maxTokenDf <= 0) keys
    else keys.where(col("df") <= lit(maxTokenDf.toLong))
  }

  /** Exact verify shared by both flavors: candidate-bounded, map-side
    * intersection of the two staged distinct-token arrays — never a
    * token-table self-join. Returns (doc_a, doc_b, inter, size_a,
    * size_b) for the caller's keep predicate and ratio.
    */
  private def verified(cand: DataFrame, ordered: DataFrame): DataFrame = {
    val sideA = ordered.select(col("doc_id").as("doc_a"),
      col("toks").as("toks_a"), col("n").as("size_a"))
    val sideB = ordered.select(col("doc_id").as("doc_b"),
      col("toks").as("toks_b"), col("n").as("size_b"))
    cand.join(sideA, "doc_a").join(sideB, "doc_b")
      // EvalOnce: without the fence the optimizer inlines `inter` into
      // the callers' keep predicates and pushes them into this join's
      // condition — the intersection was evaluated up to THREE times per
      // candidate (plan-verified, round 6); fenced, it runs once.
      .withColumn("inter", graft.functions.EvalOnce.column(
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")))
  }

  /** All pairs with distinct-token Jaccard ≥ permille/1000:
    * `(doc_a, doc_b, inter, size_a, size_b, jaccard)`, doc_a < doc_b.
    */
  def jaccardJoin(docs: DataFrame, minJaccardPermille: Int = 500,
      maxTokenDf: Int = DefaultMaxTokenDf,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minJaccardPermille >= 1 && minJaccardPermille <= 1000,
      "minJaccardPermille must be in [1, 1000]")
    val ordered = stagedOrderedTokens(docs, idCol, textCol)
    // per-doc prefix length p = n - ceil(t*n) + 1, integer permille ceil
    // (`div`, not `/`: Spark's `/` on longs is a DOUBLE division)
    val ceilTn =
      expr(s"(n * ${minJaccardPermille}L + 999L) div 1000L")
    val keys = tokenKeys(ordered,
      Some(col("n") - ceilTn + lit(1L)), maxTokenDf)
    val p = lit(minJaccardPermille.toLong)
    // Candidate pruning BEFORE the distinct(), both lossless (round 6,
    // guide §3 "reduce the side before shuffling"):
    //  - AllPairs LENGTH filter: J >= t forces inter >= t*max(n_x,n_y)
    //    and inter <= min(n_x,n_y), so t*n_x <= n_y and t*n_y <= n_x —
    //    any pair of discordant sizes cannot qualify no matter the
    //    overlap (Arasu et al. / Bayardo et al.).
    //  - PPJoin POSITIONAL filter (Xiao et al. 2008): both token lists
    //    share one global order, so a collision on the token at 1-based
    //    positions (i, j) bounds the intersection by 1 + min(n_x - i,
    //    n_y - j); a qualifying pair needs inter >= ceil(t/(1+t) *
    //    (n_x+n_y)) — in integers inter*(1000+p) >= p*(n_x+n_y) — and
    //    its FIRST shared token (which the prefix lemma places inside
    //    both prefixes) satisfies the bound, so the pair still collides
    //    on at least one surviving key. Pure long arithmetic; no
    //    boundary-epsilon question.
    val cand = keys.as("x")
      .join(keys.as("y"), col("x.token") === col("y.token"))
      .where(col("x.doc_id") < col("y.doc_id") &&
        col("y.n") * p <= col("x.n") * lit(1000L) &&
        col("x.n") * p <= col("y.n") * lit(1000L) &&
        (lit(1L) + least(col("x.n") - col("x.pos"),
          col("y.n") - col("y.pos"))) * (lit(1000L) + p) >=
          p * (col("x.n") + col("y.n")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verified(cand, ordered)
      .where(col("inter") * lit(1000L) >=
        lit(minJaccardPermille.toLong) *
          (col("size_a") + col("size_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** Asymmetric CONTAINMENT join — every ORDERED pair (a, b), a ≠ b,
    * with `|A ∩ B| / |A| ≥ t`: is document a (nearly) a subset of
    * document b? The quote/extraction/summarization relationship
    * Jaccard cannot see — a 30-token excerpt of a 3000-token article
    * has Jaccard ≈ 0.01 but containment 1.0 — and the dedup policy for
    * it differs (drop the excerpt, keep the article; [[Dedup.keepBest]]
    * downstream).
    *
    * Same lossless prefix-filter argument, asymmetric split: C ≥ t
    * needs `inter ≥ ⌈t·n_a⌉` shared tokens, so the QUERY side (a)
    * keeps its `n_a − ⌈t·n_a⌉ + 1` rarest tokens as join keys and the
    * INDEX side (b) keeps ALL tokens — a qualifying pair must collide
    * on one of a's prefix tokens (the lemma with the index side's
    * prefix = the whole set). Both directions of every pair are
    * evaluated independently (containment is not symmetric; near-equal
    * sets legitimately contain each other). `maxTokenDf` caps the
    * INDEX side's join keys exactly as in [[jaccardJoin]], same
    * documented recall edge, 0 opts out. Verify is the same
    * candidate-bounded map-side intersection; the keep test
    * `inter·1000 ≥ permille·n_a` is pure integers.
    */
  def containmentJoin(docs: DataFrame, minContainPermille: Int = 900,
      maxTokenDf: Int = DefaultMaxTokenDf,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minContainPermille >= 1 && minContainPermille <= 1000,
      "minContainPermille must be in [1, 1000]")
    val ordered = stagedOrderedTokens(docs, idCol, textCol)
    val ceilTn =
      expr(s"(n * ${minContainPermille}L + 999L) div 1000L")
    val keysA = tokenKeys(ordered,
      Some(col("n") - ceilTn + lit(1L)), maxTokenDf)
    val keysB = tokenKeys(ordered, None, maxTokenDf)
    val p = lit(minContainPermille.toLong)
    // Same lossless candidate pruning as jaccardJoin, asymmetric split
    // (round 6): C >= t needs inter >= ceil(t*n_a) with inter <= n_b, so
    //  - LENGTH: n_b*1000 >= t*n_a (integers: equivalent to
    //    n_b >= ceil(p*n_a/1000) since n_b is integral);
    //  - POSITIONAL: a collision at 1-based positions (i in a's list,
    //    j in b's full list) bounds inter by 1 + min(n_a - i, n_b - j),
    //    which the pair's first shared token must satisfy.
    val cand = keysA.as("x")
      .join(keysB.as("y"), col("x.token") === col("y.token"))
      .where(col("x.doc_id") =!= col("y.doc_id") &&
        col("y.n") * lit(1000L) >= col("x.n") * p &&
        (lit(1L) + least(col("x.n") - col("x.pos"),
          col("y.n") - col("y.pos"))) * lit(1000L) >= col("x.n") * p)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verified(cand, ordered)
      .where(col("inter") * lit(1000L) >=
        lit(minContainPermille.toLong) * col("size_a"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"),
        (col("inter").cast("double") / col("size_a").cast("double"))
          .as("containment"))
  }
}
