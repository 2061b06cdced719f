package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, hash-based corpus splitting and downsampling — the two
  * sampling primitives a training-data pipeline needs to be REPRODUCIBLE:
  * adding or removing documents never moves any other document's split or
  * sample verdict (hash-based, not rank- or RNG-state-based), and two
  * engines agree bit-exactly (md5 + pure integer arithmetic; the one
  * float appears only in the caller-facing rate/weight API and is
  * converted to an integer threshold ONCE, driver-side).
  *
  * Hash point: the first 15 hex chars of md5(salt || ':' || id) as a
  * 60-bit integer — uniform on [0, 2^60). Thresholds are
  * floor(weight * 2^60) longs, so assignment is a pure integer compare.
  * Different salts give independent draws (e.g. split with one salt,
  * downsample with another).
  *
  * 100 TB shape: one map-side expression per row — no shuffle, no state,
  * trivially pushed into any scan.
  */
object Sampling {

  private val Scale: Long = 1L << 60

  /** 60-bit hash point of (salt, id) — uniform, engine-reproducible. */
  def hashPoint(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))),
      1, 15), 16, 10).cast("long")

  /** Assign each row a named split by cumulative weight. `splits` are
    * (name, weight) with weights summing to ~1.0; the LAST split absorbs
    * any floating remainder (its upper bound is 2^60 exactly), so every
    * row with a non-null id is assigned.
    *
    * NULL ids get a NULL split (round-5 review find): a null id has no
    * hash point, and the fold's fallback used to funnel the ENTIRE
    * null-id population into the last declared split — silently skewing a
    * held-out set — while [[sample]] dropped the same rows. NULL split is
    * the consistent verdict (`sample`'s `h < bound` is null-false, i.e.
    * also "no membership"); callers wanting null-id rows in a split must
    * assign them explicitly.
    */
  def assignSplits(docs: DataFrame, splits: Seq[(String, Double)],
      salt: String = "v1", idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(splits.forall(_._2 >= 0.0), "split weights must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1.0")
    val bounds = splitBounds(splits)
    val h = hashPoint(col(idCol), salt)
    val expr = bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((name, bound), rest) => when(h < bound, name).otherwise(rest)
    }
    docs.withColumn("split",
      when(col(idCol).isNull, lit(null).cast("string")).otherwise(expr))
  }

  /** (name, exclusive upper bound) pairs in declaration order; the last
    * bound is 2^60. Exposed so the DuckDB oracle embeds the SAME integer
    * literals instead of re-deriving them in SQL float arithmetic.
    */
  def splitBounds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.map(_._1).zip(cums).zipWithIndex.map {
      case ((name, cum), i) =>
        (name, if (i == splits.length - 1) Scale
        else math.floor(cum * Scale).toLong)
    }
  }

  /** Integer threshold for `rate` — floor(rate * 2^60). */
  def rateBound(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, "rate in [0,1]")
    if (rate == 1.0) Scale else math.floor(rate * Scale).toLong
  }

  /** Deterministic Bernoulli downsample: keep rows whose hash point falls
    * below floor(rate * 2^60). The keep set is a stable function of
    * (salt, id) — re-running on a grown corpus keeps exactly the same
    * survivors among the old rows.
    */
  def sample(docs: DataFrame, rate: Double, salt: String = "s1",
      idCol: String = "doc_id"): DataFrame =
    docs.where(hashPoint(col(idCol), salt) < rateBound(rate))

  /** Deterministic WEIGHTED downsample: keep each row with probability
    * min(1, weight × rate) — importance sampling for data mixing (keep
    * high-quality documents preferentially while thinning the bulk).
    * The per-row bound is floor(min(1, w·rate) × 2^60): the float
    * multiply/min are the same IEEE ops in any engine, the compare is
    * integer, so the keep set is engine-exact and growth-stable like
    * [[sample]]'s. NULL or negative weights never keep (no sampling
    * weight, no membership — the null-id verdict extended to weights);
    * weight 0 never keeps; weight ≥ 1/rate always keeps.
    *
    * 100 TB shape: map-side expression per row, zero shuffles.
    */
  def weightedSample(docs: DataFrame, weightCol: String, rate: Double,
      salt: String = "w1", idCol: String = "doc_id"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, "rate in [0,1]")
    val bound = floor(least(lit(1.0), col(weightCol) * lit(rate)) *
      lit(Scale.toDouble)).cast("long")
    docs.where(col(weightCol).isNotNull && col(weightCol) > 0.0 &&
      hashPoint(col(idCol), salt) < bound)
  }

  /** Deterministic STRATIFIED downsample: an independent [[sample]] rate
    * per stratum (e.g. per language: keep 100% of the low-resource
    * languages, 5% of English) — the rebalancing step between a raw crawl
    * and a training mix. Rates are converted to integer hash-point bounds
    * ONCE driver-side ([[rateBound]]) and dispatched by a literal CASE
    * over the stratum column, so membership stays a pure integer compare:
    * growth-stable, engine-reproducible, and independent across strata
    * (same salt, same id ⇒ same hash point, but each stratum applies its
    * own threshold to it).
    *
    * Strata absent from `rates` get `defaultRate` (0.0 = drop, the safe
    * default for an explicit mix; pass 1.0 for keep-through). NULL
    * stratum values take `defaultRate` too (they are a real population a
    * mix must decide about, not an error). NULL ids are never kept
    * ([[sample]]'s null-false compare).
    *
    * 100 TB shape: map-side expression per row, zero shuffles — the CASE
    * has one branch per declared stratum, fine for the O(10²) strata of
    * a language/source mix (a 10⁶-stratum mix wants a broadcast-join
    * rate table instead; at that point the mix itself is data).
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
      rates: Seq[(String, Double)], defaultRate: Double = 0.0,
      salt: String = "s1", idCol: String = "doc_id"): DataFrame = {
    require(rates.nonEmpty, "at least one stratum rate")
    require(rates.map(_._1).distinct.size == rates.size,
      "duplicate stratum in rates")
    val bound = rates.foldRight(lit(rateBound(defaultRate)): Column) {
      case ((stratum, rate), rest) =>
        when(col(stratumCol) === lit(stratum), lit(rateBound(rate)))
          .otherwise(rest)
    }
    docs.where(hashPoint(col(idCol), salt) < bound)
  }

  /** Deterministic per-key quota cap — the domain-balancing step of
    * C4/RefinedWeb-style curation ("keep at most `maxPerKey` documents per
    * registered domain", so one mega-site cannot dominate the corpus):
    * within each key group, rank rows by their (salt, id) hash point — a
    * reproducible uniform shuffle, NOT ingest order (which is neither
    * stable across runs nor unbiased) — and keep the first `maxPerKey`.
    * Ties on the hash point break by id, so the kept set is a total
    * deterministic function of (salt, corpus). Unlike [[sample]] this is
    * necessarily growth-sensitive AT the quota boundary (a new doc with a
    * smaller hash point can displace the group's current boundary doc);
    * below-quota groups are growth-stable (every member kept).
    *
    * NULL keys conflate into one group and share one quota (consistent
    * with groupBy semantics). NULL ids are DROPPED (review find): a null
    * id has no hash point, so every null-id row in a group ties on both
    * sort keys and row_number would keep an arbitrary physical-order
    * subset — the consistent verdict is [[sample]]'s ("no hash point, no
    * membership"; `assignSplits` likewise refuses them a split). `idCol`
    * must be UNIQUE per the module's key contract: duplicate ids tie the
    * same way at the quota boundary, and which of two identical-key rows
    * survives is then partition-layout-dependent.
    *
    * 100 TB shape: one hash-shuffle on the key + a per-group sort — the
    * same shape as any groupBy, no global order, no driver state. A
    * pathologically hot key (10^8 docs on one domain) sorts inside one
    * task: pre-thin such keys with [[sample]] first (rate ~ quota x 100 /
    * group size keeps the result exact with overwhelming probability) —
    * the composition stays deterministic because both stages are pure
    * hash functions of (salt, id).
    */
  def capPerKey(docs: DataFrame, keyCol: String, maxPerKey: Int,
      salt: String = "k1", idCol: String = "doc_id"): DataFrame = {
    require(maxPerKey >= 1, "maxPerKey must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(hashPoint(col(idCol), salt).asc, col(idCol).asc)
    docs.where(col(idCol).isNotNull)
      .withColumn("__graft_rank", row_number().over(w))
      .where(col("__graft_rank") <= maxPerKey)
      .drop("__graft_rank")
  }

  /** Deterministic per-key TOKEN-budget quota — [[capPerKey]]'s sibling
    * where the mixing recipe is stated in tokens, not documents ("at most
    * 10 B tokens per source" — the unit a training-mix spec is actually
    * written in; capping document COUNTS over-weights sources with long
    * documents). Rows rank by the same reproducible (salt, id) hash
    * order, and the kept set is the longest prefix whose INCLUSIVE
    * running token sum stays within `budget` — the running sum is
    * monotone (token counts are non-negative), so "prefix" and "every
    * row whose cumulative sum fits" coincide and the kept set is a total
    * deterministic function of (salt, corpus). A first document larger
    * than the whole budget is dropped with its entire group tail —
    * budget semantics are STRICT (the [[graft.ops.Packing.truncateTail]]
    * rule: never emit over budget).
    *
    * Attaches `cum_tokens` (the inclusive running sum — the audit
    * column a mixing report reads). NULL ids are dropped (the module's
    * no-hash-point verdict); NULL KEYS conflate to one shared budget
    * (the [[capPerKey]] rule — "unknown source" is itself a source);
    * NULL/negative token counts count 0 (a doc with unknown length must
    * not poison the group's whole tail — and a negative count would
    * break the monotone-prefix equivalence).
    *
    * 100 TB shape: identical to [[capPerKey]] — one key shuffle + a
    * per-group sort; the window carries one running long.
    */
  def budgetPerKey(docs: DataFrame, keyCol: String, budget: Long,
      tokensCol: String = "n_tokens", salt: String = "k1",
      idCol: String = "doc_id"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    require(!docs.columns.contains("cum_tokens"),
      "input already has cum_tokens — rename it (budgetPerKey attaches " +
        "the running-sum audit column)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(hashPoint(col(idCol), salt).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    docs.where(col(idCol).isNotNull)
      .withColumn("cum_tokens",
        sum(greatest(coalesce(col(tokensCol).cast("long"), lit(0L)),
          lit(0L))).over(w))
      .where(col("cum_tokens") <= budget)
  }

  /** Draw EXACTLY `k` rows, allocated across strata proportionally to
    * stratum size by the largest-remainder method (Hamilton
    * apportionment) — the "eval set of exactly 10k docs, mixed like the
    * corpus" sampler. [[stratifiedSample]] keeps each stratum at a RATE
    * (output size binomial around the target); this op lands on the
    * exact total: base quota `⌊k·n_i/N⌋` per stratum, and the
    * `k − Σ⌊·⌋` leftover seats go to the largest remainders
    * `(k·n_i) mod N` (stratum name as the deterministic tie-break).
    * Within each stratum the selected rows are the (salt, id)
    * hash-order prefix of quota length — the [[capPerKey]] order, so
    * membership is reproducible and growth-stable for a fixed corpus.
    *
    * All-integer arithmetic (quotas and remainders are exact longs —
    * a float share would mis-seat at ties exactly like the float
    * percentile rank [[Percentiles]] documents). Guarantees, for
    * k ≤ N: Σ quota_i = k and quota_i ≤ n_i (with k ≤ N the base is
    * < n_i or the remainder is 0, so the +1 never overshoots). k > N
    * degenerates to "everything" with a documented under-fill — there
    * are only N rows. Overflow bound: k·max(n_i) must stay < 2^63
    * (k ≤ 10^6 × n ≤ 10^12 is safe by 3 bits; beyond that, pre-split).
    *
    * Shape: one stratum-size aggregate (strata-table-sized
    * thereafter; the quota plan is two windows over THAT table), the
    * quota table staged + broadcast back (the
    * [[graft.ops.Quantiles]] rule — without the pin each consumer
    * re-runs the corpus aggregate; `broadcastQuotas = false` falls to
    * a shuffle_hash join for gigantic strata counts), and ONE key
    * exchange for the per-stratum prefix rank.
    *
    * NULL ids and NULL strata are dropped (no hash point / no stratum
    * to apportion — and a NULL stratum seat would be unattributable in
    * the mixing report).
    */
  def allocateProportional(docs: DataFrame, strataCol: String, k: Long,
      salt: String = "p1", idCol: String = "doc_id",
      broadcastQuotas: Boolean = true): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val rows = docs.where(col(idCol).isNotNull &&
      col(strataCol).isNotNull)
    val sizes = rows.groupBy(strataCol)
      .agg(count(lit(1)).as("__graft_n"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val wRem = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .orderBy(expr(s"($k * __graft_n) % __graft_tot").desc,
        col(strataCol).asc)
    val quotas = Staging.stage(sizes
      .withColumn("__graft_tot", sum(col("__graft_n")).over(wAll))
      .withColumn("__graft_base",
        expr(s"($k * __graft_n) div __graft_tot"))
      .withColumn("__graft_left",
        lit(k) - sum(col("__graft_base")).over(wAll))
      .withColumn("__graft_rr", row_number().over(wRem))
      .withColumn("__graft_quota", col("__graft_base") +
        when(col("__graft_rr") <= col("__graft_left"), lit(1L))
          .otherwise(lit(0L)))
      .select(col(strataCol), col("__graft_quota")), "sample-quotas")
    val hintedQuotas = if (broadcastQuotas) broadcast(quotas)
      else quotas.hint("shuffle_hash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(hashPoint(col(idCol), salt).asc, col(idCol).asc)
    rows.join(hintedQuotas, Seq(strataCol))
      .withColumn("__graft_rank", row_number().over(w))
      .where(col("__graft_rank") <= col("__graft_quota"))
      .drop("__graft_rank", "__graft_quota")
  }
}
