package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Recorded row counts and digests of every `SparkEntry.queries` result on
  * the benchmark's sf0.01 tables. Queries whose digest differed between
  * two recordings of one commit are listed as unstable, with the reason,
  * and are checked by row count only.
  */
final case class Digests(recorded: Map[String, Checks.Digest],
    unstable: Map[String, String]) {
  def matches(name: String, got: Checks.Digest): Boolean =
    recorded.get(name).exists { want =>
      if (unstable.contains(name)) want.rows == got.rows else want == got
    }
}

object Digests {
  val File = "perfbench/query_digests.json"

  def load(f: File): Digests = {
    val root = new ObjectMapper().readTree(f)
    val rec = root.get("queries").fields().asScala.map { e =>
      e.getKey -> Checks.Digest(e.getValue.get("rows").asLong,
        java.lang.Long.parseUnsignedLong(e.getValue.get("digest").asText, 16))
    }.toMap
    val unstable = Option(root.get("unstable")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
    Digests(rec, unstable)
  }

  def of(df: DataFrame): Checks.Digest =
    Checks.digest(df.toLocalIterator().asScala)

  /** A dropped and a duplicated row must each change the digest. */
  def selfTest(spark: SparkSession,
      qs: Map[String, (SparkSession, String) => DataFrame],
      tables: String): Boolean = {
    val rows: Seq[Row] = qs("q27_tpch_agg")(spark, tables).collect().toSeq
    def digestOf(rs: Seq[Row]) = Checks.digest(rs.iterator)
    val d = digestOf(rows)
    rows.nonEmpty && digestOf(rows.tail) != d &&
      digestOf(rows :+ rows.head) != d && digestOf(rows.reverse) == d
  }

  /** Digest every query once; returns name -> digest. */
  def recordAll(spark: SparkSession, tables: String): Map[String, Checks.Digest] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, q) =>
      System.err.println(s"digest $n")
      n -> of(q(spark, tables))
    }.toMap

  /** Merge two recordings into the digests file. */
  def write(f: File, a: Map[String, Checks.Digest],
      b: Map[String, Checks.Digest]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("tables", "perfbench/data/sf0.01")
    root.put("doubles", "rounded to 9 significant digits")
    val q = root.putObject("queries")
    val un = root.putObject("unstable")
    a.keys.toSeq.sorted.foreach { n =>
      val o = q.putObject(n)
      o.put("rows", a(n).rows)
      o.put("digest", a(n).hex)
      if (b.get(n) != a.get(n))
        un.put(n, if (b.get(n).map(_.rows) == Some(a(n).rows))
          "digest differed between two recordings of one commit"
          else "row count differed between two recordings of one commit")
    }
    m.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}
