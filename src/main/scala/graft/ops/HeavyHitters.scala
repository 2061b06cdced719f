package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact heavy hitters with bounded intermediate state — every item whose
  * frequency is at least 1/k of the corpus, with its EXACT count. The
  * naive `groupBy(item).count()` shuffles the FULL item cardinality —
  * at 10^12 rows with ~10^11 distinct values (urls, indicator values,
  * user agents) that shuffle IS the job. Here the shuffle never sees the
  * vocabulary: a per-partition Misra–Gries summary (k counters, the
  * classic 1982 algorithm) nominates candidates, and an exact counting
  * pass restricted to the candidate set verifies them.
  *
  * Why the candidate set provably misses nothing: if an item's global
  * count is ≥ n/k then by averaging there is at least one partition
  * where its local count is ≥ n_i/k, and Misra–Gries with k counters
  * retains every item whose local count exceeds n_i/(k+1) < n_i/k — so
  * the union of per-partition summaries is a SUPERSET of the true heavy
  * hitters regardless of how rows are partitioned. The final output is
  * therefore deterministic (exact counts, exact integer threshold
  * `count·k ≥ n`) even though the candidate set itself varies with the
  * physical layout — the verification pass makes the nondeterminism
  * unobservable.
  *
  * 100 TB shape: two linear corpus scans (summary pass, verify pass) and
  * ZERO vocabulary-sized shuffles. Per-task state is k counters (O(k)
  * memory, amortized O(1) per row — each decrement event retires k+1
  * occurrences). The candidate table is ≤ k × partitions rows BEFORE the
  * distinct and usually ≪ that after (hot items are hot everywhere);
  * it is materialized once (eager stage) and feeds both the total
  * and the verify join. The verify join broadcasts the candidate set
  * when it is small (the common case) and falls back to a plain hash
  * join above `maxBroadcastCandidates` — loud in the plan, never an
  * executor OOM.
  *
  * NULL items are dropped (no identity — the [[Sampling]] verdict);
  * the oracle states the same filter.
  */
object HeavyHitters {

  /** Default ceiling for broadcasting the candidate set in the verify
    * join; above it the join degrades to a shuffle hash join on the
    * (still candidate-bounded) key set.
    */
  val MaxBroadcastCandidates = 1000000L

  /** All items with `count * k >= n` and their exact counts:
    * `(item, n_item)`.
    *
    * @param items one-or-more-column frame; only `itemCol` is read
    * @param k     frequency denominator: report items with frequency
    *              ≥ 1/k of non-null rows. Also the per-partition counter
    *              budget — keep it ≤ ~10^5 (task memory is O(k))
    */
  def frequentItems(items: DataFrame, itemCol: String, k: Int,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(k <= 1000000, "k above 10^6 defeats the bounded-state point" +
      " — use a plain groupBy at that threshold")
    val spark = items.sparkSession
    import spark.implicits._

    val vals = items.select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)

    // Pass 1 — per-partition Misra–Gries. Each partition emits its
    // surviving counter keys plus ONE marker row (null item) carrying the
    // partition's row count, so the total and the candidates come from a
    // single corpus scan. The summary frame is tiny (≤ (k+1) × partitions
    // rows); stage it eagerly so its two consumers (total, verify
    // join) never rescan the corpus.
    val summary = Staging.stage(vals.as[String].mapPartitions { it =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      var rows = 0L
      while (it.hasNext) {
        val x = it.next()
        rows += 1L
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1L)
          case None =>
            if (counters.size < k) counters.update(x, 1L)
            else {
              // decrement-all: retires k+1 occurrences (this row + one
              // from each counter) — the amortized-O(1) step
              val dead = List.newBuilder[String]
              counters.foreach { case (key, c) =>
                if (c == 1L) dead += key else counters.update(key, c - 1L)
              }
              dead.result().foreach(counters.remove)
            }
        }
      }
      Iterator.single((null: String, rows)) ++
        counters.keysIterator.map(key => (key, 0L))
    }.toDF("item", "rows"), "heavy-hitters-summary")

    val total = summary.where(col("item").isNull)
      .agg(sum(col("rows"))).as[Option[Long]].head().getOrElse(0L)
    if (total == 0L) return vals.groupBy("item")
      .agg(count(lit(1)).as("n_item")) // empty corpus -> empty result

    val candidates = summary.where(col("item").isNotNull)
      .select("item").distinct()
    val nCand = candidates.count()
    val candSide =
      if (nCand <= maxBroadcastCandidates) broadcast(candidates)
      else candidates

    // Pass 2 — exact counts over candidate rows only. The groupBy key
    // cardinality is the candidate count, never the vocabulary.
    vals.join(candSide, Seq("item"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_item"))
      .where(col("n_item") * lit(k.toLong) >= lit(total))
  }
}
