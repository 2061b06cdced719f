package graft.pipeline

import graft.SparkTestBase
import graft.functions.{EntryMeta, ScanTurn, ScanTurnFlat}
import graft.intel.{BcHandle, IntelDb}
import graft.model.{IntelEntry, Turn}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Each IntelDb instance is broadcast once per SparkContext: scan calls
  * and scan columns reuse it, a new instance or a new context gets a fresh
  * broadcast.
  */
class BroadcastReuseSpec extends AnyFunSuite {
  // a def: the last test stops the session and the suite goes on with the
  // fresh one SparkTestBase then builds
  private def spark = SparkTestBase.spark

  private val feed = Seq(
    IntelEntry("192.0.2.0/24", "high", "c2", "feed-a", 90),
    IntelEntry("evil.example.com", "critical", "phishing", "feed-a", 95))

  private def turns: DataFrame = spark.createDataFrame(Seq(
    Turn("c1", 0, "user", "ping 192.0.2.5 then evil.example.com", "",
      new Timestamp(0L)),
    Turn("c2", 0, "user", "nothing to see", "", new Timestamp(0L))))

  /** The broadcasts read by a plan's scan and metadata expressions. */
  private def broadcastsOf(df: DataFrame): Seq[Broadcast[_]] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case e: ScanTurnFlat => e.dbs
      case e: ScanTurn => e.dbs
      case e: EntryMeta => e.dbs
    })).flatMap(_.broadcasts)

  private def ids(df: DataFrame): Set[Long] = broadcastsOf(df).map(_.id).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.drop("extra").collect().map(_.toString).toSeq.sorted

  test("two matched calls on the same dbs read the same broadcasts") {
    val dbs = Seq(IntelDb.build("a", feed), IntelDb.build("b", feed))
    val first = ScanJob.matched(turns, dbs, spark)
    val second = ScanJob.matched(turns, dbs, spark)
    // one broadcast per database, shared by the scan and metadata columns
    assert(ids(first).size == 2)
    assert(broadcastsOf(first).size == 4)
    assert(ids(second) == ids(first))
    val routed = ScanJob.routedFrame(spark,
      turns.withColumn("bucket", lit(0)), dbs)
    assert(ids(routed) == ids(first))
    assert(rows(first).size == 4)
    assert(rows(second) == rows(first))
  }

  test("a new IntelDb instance gets a new broadcast") {
    val a = IntelDb.build("a", feed)
    val reloaded = IntelDb.build("a", feed)
    val before = ScanJob.matched(turns, Seq(a), spark)
    val after = ScanJob.matched(turns, Seq(reloaded), spark)
    assert(ids(before).size == 1 && ids(after).size == 1)
    assert(ids(before) != ids(after))
    assert(rows(after) == rows(before))
  }

  test("a dropped database is not kept alive by its broadcast") {
    var db = IntelDb.build("dropped", feed)
    val ref = new java.lang.ref.WeakReference(db)
    assert(rows(ScanJob.matched(turns, Seq(db), spark)).size == 2)
    db = null
    val collected = (1 to 20).exists { _ =>
      System.gc()
      Thread.sleep(50)
      ref.get == null
    }
    assert(collected)
  }

  test("an executor's copy of the broadcast payload owns its database") {
    val db = IntelDb.build("a", feed)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(new BcHandle.SharedDb(db))
    out.close()
    val copy = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[BcHandle.SharedDb].db
    assert(copy ne db)
    assert(copy.databaseId == "a")
    assert(copy.lookupString("evil.example.com").toSeq ==
      db.lookupString("evil.example.com").toSeq)
    assert(copy.metaRows.length == db.metaRows.length)
  }

  test("after spark.stop() and a new session the next call broadcasts " +
    "afresh and reads the right database") {
    val db = IntelDb.build("a", feed)
    val before = ScanJob.matched(turns, Seq(db), spark)
    val want = rows(before)
    val stale = broadcastsOf(before)
    spark.stop()
    // a different database takes broadcast ids in the new context, so a
    // stale handle would read the wrong value rather than fail
    val other = IntelDb.build("other",
      Seq(IntelEntry("192.0.0.0/8", "low", "other", "feed-z", 1)))
    ScanJob.matched(turns, Seq(other), spark).collect()
    val after = ScanJob.matched(turns, Seq(db), spark)
    assert(broadcastsOf(after).nonEmpty)
    assert(broadcastsOf(after).forall(b => !stale.exists(_ eq b)))
    assert(rows(after) == want)
  }
}
