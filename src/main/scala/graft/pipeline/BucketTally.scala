package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.intel.IntelDb
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{coalesce, col, lit, udaf}

import scala.jdk.CollectionConverters._

/** What one bucket's routed rows add to `ScanJob.run`'s aggregates, the
  * way matchy's workers count as they scan and merge the counters once
  * (processing/parallel.rs:840-869):
  *
  * @param gold  matched rows by (database_id, indicator_type, role) — the
  *   bucket's share of `gold_counts/`
  * @param parts per input partition_id: (matched rows, clean turns, turns
  *   with a hit) — the bucket's rows of `metrics/`
  *
  * `run` fills it in the routed write's own pass ([[BucketTally.column]])
  * and keeps it as [[json]] in the bucket's completion marker, so the
  * aggregates over all buckets fold from the markers without reading
  * `routed/` back.
  */
final case class BucketTally(
    gold: Map[(String, String, String), Long],
    parts: Map[Int, (Long, Long, Long)]) {

  def +(o: BucketTally): BucketTally = BucketTally(
    o.gold.foldLeft(gold) { case (m, (k, n)) =>
      m.updated(k, m.getOrElse(k, 0L) + n) },
    o.parts.foldLeft(parts) { case (m, (k, (a, b, c))) =>
      val (x, y, z) = m.getOrElse(k, (0L, 0L, 0L))
      m.updated(k, (x + a, y + b, z + c)) })

  /** One routed row: `pos` is its position among its turn's hit rows,
    * -1 for the turn's clean row.
    */
  private def add(partition: Int, pos: Int, key: => (String, String, String))
      : BucketTally = {
    val (m, c, h) = parts.getOrElse(partition, (0L, 0L, 0L))
    if (pos < 0) copy(parts = parts.updated(partition, (m, c + 1, h)))
    else {
      val k = key
      BucketTally(gold.updated(k, gold.getOrElse(k, 0L) + 1),
        parts.updated(partition, (m + 1, c, if (pos == 0) h + 1 else h)))
    }
  }

  /** The marker document:
    * `{"gold":[{"database_id","indicator_type","role","match_count"}...],
    * "partitions":[{"partition_id","matched_rows","clean_turns",
    * "turns_with_matches"}...]}`.
    */
  def json: String = {
    val root = BucketTally.mapper.createObjectNode()
    val g = root.putArray("gold")
    gold.foreach { case ((d, t, r), n) =>
      g.addObject().put("database_id", d).put("indicator_type", t)
        .put("role", r).put("match_count", n)
    }
    val p = root.putArray("partitions")
    parts.foreach { case (id, (m, c, h)) =>
      p.addObject().put("partition_id", id).put("matched_rows", m)
        .put("clean_turns", c).put("turns_with_matches", h)
    }
    BucketTally.mapper.writeValueAsString(root)
  }
}

object BucketTally {
  val empty: BucketTally = BucketTally(Map.empty, Map.empty)

  private val mapper = new ObjectMapper()

  /** Reads a marker document written by [[BucketTally.json]]; `where`
    * names the marker in the error for one that holds no tally (an empty
    * marker from an older version, or a damaged one).
    */
  def parse(text: String, where: String): BucketTally = {
    val root = scala.util.Try(mapper.readTree(text)).toOption.orNull
    require(root != null && root.path("gold").isArray &&
      root.path("partitions").isArray,
      s"completion marker $where holds no bucket tally (an older version " +
        "wrote it, or it is damaged): rebuild the output with a fresh run " +
        "(no resume, no onlyBuckets)")
    def str(n: JsonNode, f: String): String =
      if (n.path(f).isTextual) n.get(f).asText else null
    BucketTally(
      root.get("gold").elements.asScala.map { n =>
        (str(n, "database_id"), str(n, "indicator_type"), str(n, "role")) ->
          n.path("match_count").asLong
      }.toMap,
      root.get("partitions").elements.asScala.map { n =>
        n.path("partition_id").asInt -> ((n.path("matched_rows").asLong,
          n.path("clean_turns").asLong, n.path("turns_with_matches").asLong))
      }.toMap)
  }

  /** One routed row as the tally reads it; `db_idx` is -1 on a clean row. */
  final case class RoutedRow(bucket: Int, partition_id: Int, pos: Int,
      db_idx: Int, indicator_type: String, role: String)

  /** bucket -> tally over the rows of a task, then of the whole pass. */
  private final class Agg(names: Array[String])
      extends Aggregator[RoutedRow, Map[Int, BucketTally], Map[Int, String]] {
    def zero: Map[Int, BucketTally] = Map.empty
    def reduce(b: Map[Int, BucketTally],
        r: RoutedRow): Map[Int, BucketTally] =
      b.updated(r.bucket, b.getOrElse(r.bucket, empty).add(r.partition_id,
        r.pos, (names(r.db_idx), r.indicator_type, r.role)))
    def merge(a: Map[Int, BucketTally],
        b: Map[Int, BucketTally]): Map[Int, BucketTally] =
      b.foldLeft(a) { case (m, (k, t)) =>
        m.updated(k, m.getOrElse(k, empty) + t) }
    def finish(b: Map[Int, BucketTally]): Map[Int, String] =
      b.map { case (k, t) => k -> t.json }
    def bufferEncoder: Encoder[Map[Int, BucketTally]] =
      ExpressionEncoder[Map[Int, BucketTally]]()
    def outputEncoder: Encoder[Map[Int, String]] =
      ExpressionEncoder[Map[Int, String]]()
  }

  /** The aggregate a routed frame is observed with: bucket -> marker
    * document of that bucket's rows. It reads the frame's `bucket`,
    * `partition_id`, `role`, `indicator_type`, `db_idx` and the hit
    * position `pos` (null on a clean row).
    */
  def column(dbs: Seq[IntelDb]): Column =
    udaf(new Agg(dbs.map(_.databaseId).toArray),
      Encoders.product[RoutedRow])(
      col("bucket").cast("int"), col("partition_id"),
      coalesce(col("pos"), lit(-1)), coalesce(col("db_idx"), lit(-1)),
      col("indicator_type"), col("role"))
}
