package graft.sources

import graft.{JobCounter, SparkTestBase}
import graft.intel.{IntelDb, IntelMetaRows}
import graft.model.IntelEntry
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPOutputStream

/** `IntelIngest.toEntries` of a reader's own frame returns the entries the
  * reader parsed without running a query; every other frame is collected.
  * Over the hostile CSV, JSON and text feeds of `IngestDifferentialSpec`
  * and `JsonIngestSpec`, that fast path must give exactly what collecting
  * a derived frame gives: the same entries in the same order, the same
  * iteration order of each entry's extras, and the same database rows.
  */
class IngestFastPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val root = Files.createTempDirectory("ingest-fast-path")

  private def write(name: String, bytes: Array[Byte]): String = {
    val p = root.resolve(name)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    p.toString
  }
  private def write(name: String, text: String): String =
    write(name, text.getBytes(UTF_8))
  private def lines(name: String, records: String*): String =
    write(name, records.mkString("", "\n", "\n"))
  /** A feed directory; each file's content is a String or bytes. */
  private def dir(name: String, files: (String, Any)*): String = {
    files.foreach {
      case (f, text: String) => write(s"$name/$f", text)
      case (f, b: Array[Byte]) => write(s"$name/$f", b)
    }
    root.resolve(name).toString
  }
  private def gzip(text: String): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new GZIPOutputStream(bytes)
    out.write(text.getBytes(UTF_8))
    out.close()
    bytes.toByteArray
  }
  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Int => Seq(b.toByte)
  }.toArray

  /** `IngestDifferentialSpec`'s 16 hostile CSV feeds. */
  private lazy val csvFeeds: Seq[String] = Seq(
    write("quoted.csv",
      "entry,threat_level,category,comment,note\n" +
        "\"quoted,entry.com\",high,\"c2\",\"say \"\"hi\"\"\",plain\n" +
        "\"esc\\\"aped.org\",low,x,\"a \\\"b\\\" c\",\n" +
        "\"\",medium,empty-quoted-key,,\n" +
        ",medium,null-key,,\n" +
        "\" \",low,space-key,,\n" +
        "plain.net,\"\",,\"\",\"\"\n"),
    write("cells.csv",
      "entry,confidence,to_ids,attr_timestamp,tags,source,attr_type\n" +
        "a.com, 90 ,t,1700000000,x;y,feedA,ip-dst\n" +
        "b.com,,yes,,,,\n" +
        "c.com,7,0, 42 ,,,\n" +
        "d.com,\"  5\",false,-3,,,\n" +
        "e.com,0,1,,,,\n" +
        "f.com,\t12\t,no,,,,\n"),
    write("endings.csv", bytes(0xEF, 0xBB, 0xBF,
      "entry,category,x\r\na.com,c1,1\rb.com,c2,2\r\n\r\n\n",
      "c.com,c3,", 0xFF, "3\n \n\t\n", "d", 0xFF, "e.com,c4,4")),
    write("multiline.csv",
      "entry,category,note\n\"multi\nline.com\",c2,x\n" +
        "ok.com,c,\"open quote\nnext.com,c,y\n\"\"\"\n"),
    write("ragged.csv",
      "entry,tag,tag,TAG,,extra\nshort.com\ntwo.com,a\n" +
        "long.com,a,b,c,d,e,f,g,h\nexact.com,1,2,3,4,5\n,,,,,\n"),
    write("keycol.csv", "key,category,note\nk1.com,c,n\nk2.com,,\n"),
    write("firstcol.csv",
      "indicator,category,confidence\nпример.рф,c,1\n例え.jp,d,2\n" +
        "😀.example,e,3\n"),
    write("entry-and-key.csv", "key,entry,category\nk.com,e.com,c\n"),
    write("first-is-fixed.csv", "category,source\nc2,feed\nphish,\n"),
    write("extras.csv",
      "entry,big,huge,flag,f,neg,ws,lead\n" +
        "x.com,6442450944,1e400,true,0.5,-7, 3 ,007\n" +
        "y.com,18446744073709551616,-1e-400,False,inf,,,+5\n"),
    write("extra-named.csv", "entry,extra,extra_types\nx.com,a,b\ny.com,,\n"),
    write("header-only.csv", "entry,category\n"),
    write("blank-then-header.csv", "\n\n  \nentry,category\n\na.com,c\n"),
    write("feed.csv.gz", gzip("entry,category,ttl\ng1.com,c,1\ng2.com,c,\n")),
    dir("parts",
      "part-00000.csv" -> "entry,category,n\np0.com,c,0\n",
      "part-00001.csv" ->
        "entry,category,n\np1.com,c,1\np2.com,c,2\np3.com,c,3\n",
      "_SUCCESS" -> "",
      ".part-00000.csv.crc" -> bytes(0x63, 0x72, 0x63, 0x00, 0xFF),
      "_committed_1" -> "entry\nhidden.com\nhidden.org\n",
      ".staged.csv" -> "entry\nhidden.net\nhidden.io\n"),
    dir("mixed",
      "a.csv" -> "entry,category,x\n1.com,c,1\n2.com,c,2\n",
      "b.csv" -> "\n\nentry,x\n3.com,9\n"))

  /** `JsonIngestSpec`'s feeds. */
  private lazy val jsonFeeds: Seq[String] = {
    def num(k: String, v: String) = s"""{"key": "$k", "data": {"v": $v}}"""
    val casts = Seq(
      "confidence" -> Seq("90.5", "\"90.5\"", "\"1e2\"", "1e2", "2147483648",
        "true", "\" 7 \"", "-3", "null", "{\"a\": 1}"),
      "to_ids" -> Seq("\"TRUE\"", "\" true \"", "\"N\"", "\"yes\"", "1", "0",
        "2", "0.5", "null", "[true]"),
      "attr_timestamp" -> Seq("1.5", "\"1.5\"", "9223372036854775808", "-0",
        "\"42\"", "1e3", "true", "null"))
      .flatMap { case (f, cells) => cells.map(f -> _) }
    Seq(
      lines("numbers.json",
        num("int", "2"), num("dec", "2.5"), num("one", "1.0"),
        num("tenth", "0.10"), num("exp", "1e3"), num("EXP", "1E+2"),
        num("small", "-1.5e-3"), num("negzero", "-0"),
        num("i64max", "9223372036854775807"),
        num("two63", "9223372036854775808"),
        num("u64max", "18446744073709551615"),
        num("two64", "18446744073709551616"),
        num("negbig", "-9223372036854775809"), num("huge", "1e400"),
        num("long-dec",
          "3.14159265358979323846264338327950288419716939937510"),
        num("big-int", "123456789012345678901234567890123456789012"),
        num("true", "true"), num("false", "false"),
        """{"key": "mixed", "data": {"a": 2, "b": 2.5, "c": -7}}"""),
      write("nested.json",
        """[
          |  {"key": "obj", "data": {"o": {"x": 1, "y": [1, 2.5, "s"]},
          |    "arr": [1, "a", null, {"z": true}], "nul": null,
          |    "eo": {}, "ea": [], "s": "plain"}},
          |  {"key": "fixed-obj", "data": {"category": {"a": 1},
          |    "threat_level": null, "source": [1, 2], "comment": 5,
          |    "tags": true, "attr_type": 2.5}},
          |  {"key": null, "data": {"category": "null-key"}},
          |  {"key": "", "data": {"category": "empty-key"}},
          |  {"key": 42, "data": {"category": "num-key"}},
          |  {"key": {"k": 1}, "data": {"category": "obj-key"}},
          |  {"key": ["a"], "data": {"category": "arr-key"}},
          |  {"key": true, "data": {"category": "bool-key"}},
          |  {"key": " ", "data": {"category": "space-key"}}
          |]
          |""".stripMargin),
      lines("strings.json",
        """{"key": "s1", "data": {"port": "0443", "exp": "1e3", "t": "true", "n": "-5", "f": "2.5"}}""",
        """{"key": "s2", "data": {"u": "é☃😀", "q": "a\"b\\c", "ctl": "x\ny\tz"}}""",
        "{\"key\": \"\\u00fcber.example\", \"data\": {\"lone\": \"a\\ud800b\", " +
          "\"esc\": \"\\u00e9\\u2603\\ud83d\\ude00\"}}",
        """{"key": "s3", "data": {"ttl": 3}}"""),
      lines("names.json",
        """{"key": "ru.example", "data": {"страна": "ru", "category": "c"}}"""),
      lines("dup-data.json",
        """{"key": "dup", "data": {"ttl": 1, "ttl": 2}}""",
        """{"key": "after-dup", "data": {"ttl": 3}}"""),
      lines("dup-top.json",
        """{"key": "dup-top", "key": "dup-top-2", "data": {"x": 1}}""",
        """{"key": "after-dup", "data": {"ttl": 3}}"""),
      lines("toplevel.json",
        """{"key": "t1", "source": "top", "ttl": 9, "data": {"category": "c"}}""",
        """{"key": "t2", "category": "no-data"}""",
        """{"key": "t3", "data": null}""",
        """{"key": "t4", "data": {"source": "inner", "ttl": 1}}"""),
      write("entry-in-data.json",
        """[{"key": "k1", "data": {"entry": "e1.com", "category": "c"}},
          | {"key": "k2", "data": {"category": "no-entry"}}]
          |""".stripMargin),
      write("inner-key.json",
        """[{"key": "k3", "data": {"entry": "e3.com", "key": "inner"}}]"""),
      lines("no-key.json",
        """{"indicator": "x.com", "category": "c2", "ttl": 5}""",
        """{"indicator": "y.com", "ttl": 6}"""),
      lines("no-key-extra-first.json",
        """{"indicator": "x.com", "zone": "z", "ttl": 5}""",
        """{"indicator": "y.com", "threat_level": "high"}""",
        """{"ttl": 7}"""),
      lines("flat-entry.json",
        """{"entry": "a.com", "key": "ka", "threat_level": "high", "n": 1}""",
        """{"entry": "b.com", "confidence": 70}"""),
      write("flat-key.json",
        """[{"key": "a.com", "category": "c", "ttl": 2},
          | {"key": "b.com", "ttl": 2.5}]""".stripMargin),
      lines("extra-named.json",
        """{"key": "x.com", "data": {"extra": "note", "extra_types": "t"}}""",
        """{"key": "y.com", "data": {"extra": {"a": 1}}}"""),
      write("ndjson-shape.json",
        "\n\n{\"key\": \"n1\", \"data\": {\"v\": 1}}\r\n" +
          "   \n\t\n{\"key\": \"n2\", \"data\": {\"v\": 2}}\n" +
          "{\"key\": \"bad\", \"data\": {\"v\": \n" +
          "not json at all\n" +
          "[{\"key\": \"arr1\"}, {\"key\": \"arr2\", \"data\": {\"v\": 3}}]\n" +
          "42\n\"str\"\nnull\n" +
          "{\"key\": \"n3\", \"data\": {\"v\": 4}} trailing\n" +
          "{\"key\": \"n4\", \"data\": {\"v\": 5}}"),
      write("pretty-array.json",
        """
          |  [
          |    {
          |      "key": "p1",
          |      "data": {
          |        "ttl": 1
          |      }
          |    },
          |    {
          |      "key": "p2",
          |      "data": {
          |        "ttl": 2.5
          |      }
          |    }
          |  ]
          |""".stripMargin),
      write("empty-array.json", "[]"),
      write("empty-array-ws.json", " \n [ \n ] \n"),
      write("empty.json", ""),
      write("blank.json", "\n  \n\t\n"),
      write("feed.json.gz", gzip(
        "{\"key\": \"g1\", \"data\": {\"ttl\": 1}}\n" +
          "{\"key\": \"g2\", \"data\": {\"ttl\": 2.5}}\n")),
      dir("jparts",
        "part-00000.json" -> "{\"key\": \"p0\", \"data\": {\"n\": 0}}\n",
        "part-00001.json" ->
          ("{\"key\": \"p1\", \"data\": {\"n\": 1}}\n" +
            "{\"key\": \"p2\", \"data\": {\"n\": 2}}\n" +
            "{\"key\": \"p3\", \"data\": {\"n\": 3}}\n"),
        "_SUCCESS" -> ""),
      dir("aparts",
        "part-00000.json" -> "[{\"key\": \"a0\"}]\n",
        "part-00001.json" ->
          "[{\"key\": \"a1\", \"data\": {\"n\": 1}},\n {\"key\": \"a2\"}]\n",
        "_SUCCESS" -> ""),
      dir("jmixed",
        "part-a.json" ->
          ("[\n  {\"key\": \"arr1.com\",\n   \"data\": {\"n\": 1}},\n" +
            "  {\n   \"key\": \"arr2.com\"\n  }\n]\n"),
        "part-b.json" ->
          ("{\"key\": \"nd1.com\", \"data\": {\"n\": 2.5}}\n" +
            "{\"key\": \"nd2.com\"}\n{\"key\": \"nd3.com\"}\n"),
        ".hidden.json" -> "[{\"key\": \"hidden.com\"}]\n",
        "_SUCCESS" -> ""),
      write("array.json.gz", gzip(
        "[\n {\"key\": \"gz1.com\"},\n {\"key\": \"gz2.com\"}\n]\n")),
      lines("bad-confidence.json",
        """{"key": "ok.com", "data": {"confidence": 5, "x": 1}}""",
        """{"key": "bad.com", "data": {"confidence": "high"}}"""),
      lines("bad-to-ids.json",
        """{"key": "ok.com", "data": {"to_ids": true, "x": 1}}""",
        """{"key": "bad.com", "data": {"to_ids": "garbage"}}"""),
      lines("bad-timestamp.json",
        """{"key": "ok.com", "data": {"attr_timestamp": 1, "x": 1}}""",
        """{"key": "bad.com", "data": {"attr_timestamp": "12:00"}}"""),
      lines("bad-dropped-row.json",
        """{"key": "ok.com", "data": {"confidence": 5, "x": 1}}""",
        """{"key": null, "data": {"confidence": "high"}}"""),
      write("fixed-only.json",
        """[{"key": "a.com", "data": {"threat_level": "high",
          |   "confidence": 90.5, "to_ids": 1, "attr_timestamp": 7}},
          | {"key": "b.com", "data": {"threat_level": 3,
          |   "confidence": 80, "to_ids": false}}]""".stripMargin),
      write("dotted.json",
        """[{"key": "a.com", "data": {"a.b": 2, "ttl": 2}},
          | {"key": "b.com", "data": {"ttl": 2.5, "q'uote": "x"}}]""".stripMargin)
    ) ++ casts.zipWithIndex.map { case ((field, cell), i) =>
      write(s"cast-$i.json",
        s"""{"key": "c.com", "data": {"$field": $cell, "x": 1}}""")
    }
  }

  /** `IngestDifferentialSpec`'s text feeds. */
  private lazy val textFeeds: Seq[String] = Seq(
    write("feed.txt", bytes(
      "# comment\n  1.2.3.4  \n\tevil.com\t\n\n   # indented comment\n#\n",
      "bad.org\r\nx.net\ry.net\n  nbsp.com  \n", 0xFF,
      " z.com \n\n\nlast.com")),
    write("bom.txt", bytes(0xEF, 0xBB, 0xBF, "first.com\r\nsecond.com\n")),
    write("feed.txt.gz", gzip("g1.com\n# c\ng2.com\n")),
    write("empty.txt", ""),
    dir("tparts",
      "part-00000.txt" -> "t0.com\n",
      "part-00001.txt" -> "t1.com\nt2.com\n",
      "_SUCCESS" -> "",
      ".part-00000.txt.crc" -> bytes(0xFF, 0x00),
      "_log" -> "hidden.com\n"))

  private def readers: Seq[(String, (SparkSession, String) => DataFrame,
      Seq[String])] = Seq(
    ("csv", IntelIngest.readCsv, csvFeeds),
    ("json", IntelIngest.readJson, jsonFeeds),
    ("text", IntelIngest.readText, textFeeds))

  /** The entries, or the error class (else the exception class) of the
    * first Spark error in the cause chain.
    */
  private def outcome(f: => Seq[IntelEntry]): Either[String, Seq[IntelEntry]] =
    try Right(f)
    catch {
      case e: Exception =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq
        Left(chain.collectFirst {
          case t: SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(chain.last.getClass.getName))
    }

  /** Each entry's extras in their iteration order, which `metaRows`' map
    * column and the NDJSON `extra` object follow.
    */
  private def extrasInOrder(es: Seq[IntelEntry]) =
    es.map(e => (e.extra.toSeq, e.extra_types.toSeq))

  /** A database's metadata rows as Scala values, map columns as their
    * (keys, values) in order.
    */
  private def metaView(db: IntelDb): Seq[Seq[Any]] = db.metaRows.toSeq.map {
    r =>
      IntelMetaRows.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        if (r.isNullAt(i)) null
        else f.dataType match {
          case m: MapType =>
            val d = r.getMap(i)
            def strings(a: Seq[UTF8String]) =
              a.map(s => if (s == null) null else s.toString)
            (strings(d.keyArray.toSeq[UTF8String](m.keyType)),
              strings(d.valueArray.toSeq[UTF8String](m.valueType)))
          case t => r.get(i, t) match {
            case s: UTF8String => s.toString
            case v => v
          }
        }
      }
  }

  test("toEntries of a reader's frame equals collecting a derived frame, " +
      "extras in the same order, with equal database rows") {
    readers.foreach { case (kind, read, feeds) =>
      feeds.foreach { p =>
        val fast = outcome(IntelIngest.toEntries(read(spark, p)))
        val derived = outcome(
          IntelIngest.toEntries(read(spark, p).select("*")))
        assert(fast == derived, s"$kind $p")
        (fast, derived) match {
          case (Right(f), Right(d)) =>
            assert(extrasInOrder(f) == extrasInOrder(d), s"$kind $p")
            assert(metaView(IntelDb.build("db", f)) ==
              metaView(IntelDb.build("db", d)), s"$kind $p")
          case _ =>
        }
      }
    }
    // the corpus reaches entries with several extras and errors
    val extras = IntelIngest.toEntries(IntelIngest.readCsv(spark, csvFeeds(9)))
    assert(extras.head.extra.size == 7)
    assert(outcome(IntelIngest.toEntries(IntelIngest.readJson(spark,
      root.resolve("bad-confidence.json").toString))) ==
      Left("CAST_INVALID_INPUT"))
  }

  test("a transformed reader frame is collected, never short-cut") {
    readers.foreach { case (kind, read, feeds) =>
      feeds.foreach { p =>
        outcome(IntelIngest.toEntries(read(spark, p))) match {
          case Right(all) =>
            assert(IntelIngest.toEntries(
              read(spark, p).where(col("entry").startsWith("a"))) ==
              all.filter(_.entry.startsWith("a")), s"$kind $p")
            assert(IntelIngest.toEntries(read(spark, p).limit(1)) ==
              all.take(1), s"$kind $p")
            assert(IntelIngest.toEntries(read(spark, p).where(lit(false)))
              .isEmpty, s"$kind $p")
          case Left(_) =>
        }
      }
    }
    val (a, b) = (csvFeeds(1), csvFeeds(5))
    def entries(p: String) = IntelIngest.toEntries(IntelIngest.readCsv(spark, p))
    assert(IntelIngest.toEntries(IntelIngest.readCsv(spark, a)
      .union(IntelIngest.readCsv(spark, b))) == entries(a) ++ entries(b))
    // a cached reader frame answers from the cache with the same rows
    val cached = IntelIngest.readCsv(spark, a).cache()
    try {
      assert(cached.count() == entries(a).size)
      val derived = cached.select("*")
      assert(derived.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.nonEmpty, derived.queryExecution.withCachedData.treeString)
      assert(IntelIngest.toEntries(derived) == entries(a))
      assert(IntelIngest.toEntries(cached) == entries(a))
    } finally cached.unpersist()
  }

  test("guard: toEntries of a reader's frame runs no query and no job; " +
      "the frame itself still collects with no job") {
    val csv = csvFeeds(1)
    val json = lines("guard.json",
      """{"key": "a.com", "data": {"confidence": 9, "note": 1e3}}""",
      """{"key": "b.com"}""")
    val txt = textFeeds.head
    Seq[(String, () => DataFrame)](
      "csv" -> (() => IntelIngest.readCsv(spark, csv)),
      "json" -> (() => IntelIngest.readJson(spark, json)),
      "text" -> (() => IntelIngest.readText(spark, txt))).foreach {
      case (kind, read) =>
        val ((entries, jobs), queries) = QueryCounter.count(spark)(
          JobCounter.count(spark)(IntelIngest.toEntries(read())))
        assert(entries.nonEmpty, kind)
        assert(queries == 0, s"$kind: toEntries ran $queries queries")
        assert(jobs == 0, s"$kind: toEntries started $jobs jobs")
        val (rows, collectJobs) = JobCounter.count(spark)(read().collect())
        assert(rows.length == entries.size, kind)
        assert(collectJobs == 0, s"$kind: collect started $collectJobs jobs")
        // the listener sees a query over the same frame
        val (_, seen) = QueryCounter.count(spark)(
          read().select("*").collect())
        assert(seen >= 1, s"$kind: the listener saw no query")
    }
  }
}

/** Counts the query executions a block of driver code runs. */
private object QueryCounter {

  /** `body`'s result and the number of query executions that finished
    * during it. Listener events arrive asynchronously but in order, so a
    * marker query runs after `body`: once it is seen, every earlier query
    * has been counted.
    */
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val marker = s"query-counter-${java.util.UUID.randomUUID()}"
    val seen = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    def done(qe: QueryExecution): Unit =
      if (qe.logical.toString.contains(marker)) markerSeen.countDown()
      else seen.incrementAndGet()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        done(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = done(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(1).select(lit(marker)).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "the marker query never arrived")
      (result, seen.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
