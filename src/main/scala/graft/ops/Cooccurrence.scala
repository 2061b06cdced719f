package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Item co-occurrence statistics over entity-scoped observations: for
  * every unordered item pair {a, b} seen together in at least one entity,
  * the number of entities containing both, each item's own entity count,
  * and the lift n_ab·N / (n_a·n_b) — lift > 1 means the pair co-occurs
  * more than independent items would. The campaign-analysis primitive:
  * indicators co-reported in the same conversation, event types
  * co-firing in the same user-day, tags co-applied to the same document.
  * (Pair edges feed [[Dedup.nearDupClusters]]'s connected components for
  * campaign clustering.)
  *
  * 100 TB shape: presence pairs come from per-entity SETS, never a
  * self-join of the corpus — one hash shuffle to the entity key builds
  * the sorted distinct item set, and pair expansion is map-side HOF
  * algebra over that array, so a corpus of E entities with ≤ m items
  * each costs E·m²/2 generated rows with NO join. The pair count and the
  * item marginals are aggregates over |items|²- and |items|-sized key
  * spaces (map-side partial combine moves almost nothing), and the final
  * lift assembly joins three TINY tables (pair counts × marginals ×
  * 1-row total) via broadcast. The per-entity set table is staged once
  * (localCheckpoint) so the three consumers do not re-shuffle the corpus
  * three times; the three consumers are materialized (they are |items|²-
  * sized, tiny) and the corpus-sized stage's blocks are RELEASED before
  * this returns — the returned frame holds no corpus-sized state.
  *
  * Skew guard (defaults ON, house rule): an entity with a huge item set
  * is the m² pathology — a bot touching 10⁵ item values would mint
  * 5·10⁹ pairs alone. `maxItems` raises a LOUD distributed error by
  * default rather than silently minting quadratic garbage; pass 0 to
  * opt out, or pre-cap upstream if truncation is acceptable (truncation
  * is a semantic choice — which items to drop changes every count — so
  * this op refuses to pick silently).
  *
  * NULL entities are not one anonymous entity and NULL items are not a
  * value (the Transitions/Funnel phantom rule): both drop at ingest.
  */
object Cooccurrence {

  /** Loudly-erroring default bound on a single entity's distinct items. */
  val DefaultMaxItems = 4096

  /** (item_a, item_b, n_pair, n_a, n_b, lift) for every co-occurring
    * unordered pair, item_a < item_b in binary string order. Lift is ONE
    * IEEE division of exact longs — bit-reproducible on any engine.
    */
  def pairCounts(df: DataFrame, entityCol: Column, itemCol: Column,
      maxItems: Int = DefaultMaxItems): DataFrame = {
    val d = df.select(entityCol.as("entity"),
        itemCol.cast("string").as("item"))
      .where(col("entity").isNotNull && col("item").isNotNull)
    val rawSets = d.groupBy("entity")
      .agg(sort_array(collect_set(col("item"))).as("items"))
    val guarded = if (maxItems > 0) {
      rawSets.withColumn("items",
        when(size(col("items")) > maxItems,
          raise_error(concat(
            lit("Cooccurrence: entity "), col("entity").cast("string"),
            lit(s" has more than maxItems=$maxItems distinct items ("),
            size(col("items")).cast("string"),
            lit("); raise maxItems, pre-cap upstream, or pass " +
              "maxItems=0 to opt out")))
          ).otherwise(col("items")))
    } else rawSets
    // Stage once: pairs, marginals and the entity total all read it.
    // Every (items[i], items[j]) with i < j — the array is sorted and
    // deduped, so item_a < item_b holds by construction. The three
    // consumers are tiny (|items|²/|items|/1 keys): stage THEM and
    // release the corpus-sized set stage before returning.
    val (pairs, marginals, total) =
      Staging.using(guarded, "cooc-sets") { sets =>
        (Staging.stage(sets.select(explode(flatten(transform(
            col("items"), (x, i) => transform(
              slice(col("items"), i + 2, size(col("items"))),
              y => struct(x.as("a"), y.as("b")))))).as("pr"))
          .groupBy(col("pr.a").as("item_a"), col("pr.b").as("item_b"))
          .agg(count(lit(1)).as("n_pair")), "cooc-pairs"),
        Staging.stage(sets.select(explode(col("items")).as("item"))
          .groupBy("item").agg(count(lit(1)).as("c")), "cooc-marginals"),
        Staging.stage(sets.agg(count(lit(1)).as("n_entities")),
          "cooc-total"))
      }

    val out = pairs
      .join(broadcast(marginals.select(col("item").as("item_a"),
        col("c").as("n_a"))), "item_a")
      .join(broadcast(marginals.select(col("item").as("item_b"),
        col("c").as("n_b"))), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        ((col("n_pair") * col("n_entities")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
    out
  }
}
