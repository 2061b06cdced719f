package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting over an undirected edge list — the graph
  * summary behind "how clustered is the indicator co-occurrence /
  * user-interaction graph". The naive form (three-way self-join with
  * u < v < w) explodes on hubs: a node of degree d contributes d² wedge
  * candidates, and real co-occurrence graphs are power-law.
  *
  * The classical fix (node-iterator++ / degree orientation): orient
  * every undirected edge from its lower-ordered endpoint to its higher,
  * under the total order (degree, node_id). Each triangle then has
  * exactly one apex (its minimum-order vertex) with both out-edges, so
  * counting (wedge from apex) ⋈ (closing oriented edge) counts every
  * triangle exactly once — and the out-degree under degree ordering is
  * at most O(√m) for ANY graph (a node can only point at higher-degree
  * neighbors; more than 2√m of those would need > m edges), so the
  * wedge join is bounded by O(m^1.5) regardless of hub skew. The
  * orientation IS the skew guard here: a 10⁸-degree hub receives its
  * edges as IN-edges and contributes zero wedges of its own — no cap
  * parameter needed, and the count stays exact.
  *
  * Shape: one distinct-edge shuffle, one degree aggregate (node-sized),
  * two hash joins to attach endpoint order keys (node-sized build
  * side — broadcast when small, AQE decides), the wedge equi-join on
  * the apex, and the closing equi-join on (v, w). All equi-joins, no
  * theta join anywhere. NULL endpoints and self-loops are dropped;
  * duplicate/reversed input edges collapse in the canonical distinct.
  */
object Triangles {

  /** Canonical undirected edges: non-null, no self-loops,
    * (least, greatest) ordered, distinct. Output: (src, dst). */
  def canonicalEdges(df: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    df.where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .distinct()

  /** One row: (n_nodes, n_edges, n_triangles) — exact.
    *
    * The canonical edge list, the degree table, and the oriented edge
    * set are each consumed by MULTIPLE downstream joins —
    * [[Staging.stage]] pins them once (the [[Dedup.nearDupClusters]]
    * edge-list lesson: an un-pinned frame re-executes its whole
    * upstream subtree per consumer; before the pin this op re-ran the
    * distinct + both degree joins up to three times each). The blocks
    * live until the session drops them — edge-list-sized, the same
    * budget the CC op documents. */
  def triangleCount(df: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Staging.stage(canonicalEdges(df, srcCol, dstCol), "tri-edges")

    val deg = Staging.stage(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")), "tri-degrees")

    // orient by (deg, node): lower order -> higher order
    val withDeg = e
      .join(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("deg", "sdeg"), "src")
      .join(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("deg", "ddeg"), "dst")
    val srcLower = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val oriented = Staging.stage(withDeg.select(
      when(srcLower, col("src")).otherwise(col("dst")).as("a"),
      when(srcLower, col("dst")).otherwise(col("src")).as("b"),
      when(srcLower, col("ddeg")).otherwise(col("sdeg")).as("bdeg")),
      "tri-oriented")

    // wedges from each apex a: unordered out-neighbor pairs (v, w)
    // with order(v) < order(w); the closing oriented edge is v -> w
    val o1 = oriented.select(col("a"), col("b").as("v"),
      col("bdeg").as("vdeg"))
    val o2 = oriented.select(col("a"), col("b").as("w"),
      col("bdeg").as("wdeg"))
    val wedges = o1.join(o2, "a")
      .where(col("vdeg") < col("wdeg") ||
        (col("vdeg") === col("wdeg") && col("v") < col("w")))
      .select(col("v"), col("w"))
    val closing = oriented.select(col("a").as("v"), col("b").as("w"))
    val nTri = wedges.join(closing, Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))

    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }
}
