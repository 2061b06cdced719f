package graft.sources

import graft.SparkTestBase
import graft.model.IntelEntry
import org.apache.spark.SparkThrowable
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/** `IntelIngest.readJson` over a hostile corpus, ANSI casts on and off.
  * The expected entries were recorded from the Spark-side route this
  * driver-side reader replaced (Spark's JSON reader, a variant re-read of
  * the feed, then a DataFrame normalization). Where the reader answers
  * differently on purpose, a comment gives the old answer and why.
  * Entries are compared in order, rendered as
  * `entry|threat_level|category|source|confidence|to_ids|comment|
  * attr_type|attr_timestamp|tags {extra=value:tag, ...}`.
  */
class JsonIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val root = Files.createTempDirectory("json-ingest")

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
  private def gzip(text: String): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new GZIPOutputStream(bytes)
    out.write(text.getBytes(UTF_8))
    out.close()
    bytes.toByteArray
  }

  private def render(e: IntelEntry): String =
    Seq(e.entry, e.threat_level, e.category, e.source, e.confidence,
      e.to_ids.fold("-")(_.toString), e.comment, e.attr_type,
      e.attr_timestamp, e.tags).mkString("|") +
      e.extra.toSeq.sortBy(_._1).map { case (k, v) =>
        s"$k=$v:${e.extra_types.getOrElse(k, "?")}"
      }.mkString(" {", ", ", "}")

  /** The rendered entries, or the error class (else the exception class)
    * of the first Spark error in the cause chain.
    */
  private def outcome(path: String): Either[String, Seq[String]] =
    try Right(IntelIngest.toEntries(IntelIngest.readJson(spark, path))
      .map(render))
    catch {
      case e: Exception =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq
        Left(chain.collectFirst {
          case t: SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(chain.last.getClass.getName))
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def check(path: String, ansiOn: Either[String, Seq[String]],
      ansiOff: Either[String, Seq[String]]): Unit =
    Seq(true -> ansiOn, false -> ansiOff).foreach { case (ansi, want) =>
      val got = withAnsi(ansi)(outcome(path))
      assert(got == want, s"$path (ansi=$ansi)")
    }
  private def check(path: String, want: String*): Unit =
    check(path, Right(want), Right(want))

  private val bare = "|unknown|unknown|unknown|0|-|||-1|"

  test("numbers keep their own variant type and string form") {
    def num(k: String, v: String) = s"""{"key": "$k", "data": {"v": $v}}"""
    check(lines("numbers.json",
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
      s"int$bare {v=2:i32}",
      s"dec$bare {v=2.5:f64}",
      s"one$bare {v=1:u64}",
      s"tenth$bare {v=0.1:f64}",
      s"exp$bare {v=1000.0:f64}",
      s"EXP$bare {v=100.0:f64}",
      s"small$bare {v=-0.0015:f64}",
      s"negzero$bare {v=0:i32}",
      s"i64max$bare {v=9223372036854775807:i32}",
      s"two63$bare {v=9223372036854775808:u64}",
      s"u64max$bare {v=18446744073709551615:u64}",
      s"two64$bare {v=18446744073709551616:f64}",
      s"negbig$bare {v=-9223372036854775809:f64}",
      s"huge$bare {v=Infinity:f64}",
      s"long-dec$bare {v=3.141592653589793:f64}",
      s"big-int$bare {v=1.2345678901234568E41:f64}",
      s"true$bare {v=true:bool}",
      s"false$bare {v=false:bool}",
      s"mixed$bare {a=2:i32, b=2.5:f64, c=-7:i32}")
  }

  test("objects and arrays become their JSON text, nulls are absent, and " +
      "any non-empty key is kept") {
    check(write("nested.json",
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
      // `eo` was dropped before: Spark's schema inference drops a column
      // whose every value is an empty object; values are now read one by
      // one, so `{}` is an extra like any other object
      "obj" + bare + " {arr=[1,\"a\",null,{\"z\":true}]:str, ea=[]:str, " +
        "eo={}:str, o={\"x\":1,\"y\":[1,2.5,\"s\"]}:str, s=plain:str}",
      "fixed-obj|unknown|{\"a\":1}|[1,2]|0|-|5|2.5|-1|true {}",
      "42|unknown|num-key|unknown|0|-|||-1| {}",
      "{\"k\":1}|unknown|obj-key|unknown|0|-|||-1| {}",
      "[\"a\"]|unknown|arr-key|unknown|0|-|||-1| {}",
      "true|unknown|bool-key|unknown|0|-|||-1| {}",
      " |unknown|space-key|unknown|0|-|||-1| {}")
  }

  test("strings stay strings, escapes decode and non-ASCII text survives") {
    check(lines("strings.json",
      """{"key": "s1", "data": {"port": "0443", "exp": "1e3", "t": "true", "n": "-5", "f": "2.5"}}""",
      """{"key": "s2", "data": {"u": "é☃😀", "q": "a\"b\\c", "ctl": "x\ny\tz"}}""",
      "{\"key\": \"\\u00fcber.example\", \"data\": {\"lone\": \"a\\ud800b\", " +
        "\"esc\": \"\\u00e9\\u2603\\ud83d\\ude00\"}}",
      """{"key": "s3", "data": {"ttl": 3}}"""),
      s"s1$bare {exp=1e3:str, f=2.5:str, n=-5:str, port=0443:str, t=true:str}",
      // non-ASCII text read "\ufffd" per byte before: Spark's variant
      // accessors decode UTF-8 with the JVM's default charset, which is
      // not UTF-8 on every host
      s"s2$bare {ctl=x\ny\tz:str, q=a\"b\\c:str, u=\u00e9\u2603\ud83d\ude00:str}",
      s"\u00fcber.example$bare {esc=\u00e9\u2603\ud83d\ude00:str, lone=a?b:str}",
      s"s3$bare {ttl=3:i32}")
    // non-ASCII member names, which the variant path lookups missed there
    check(lines("names.json",
      """{"key": "ru.example", "data": {"страна": "ru", "category": "c"}}"""),
      "ru.example|unknown|c|unknown|0|-|||-1| {страна=ru:str}")
  }

  test("a record with a duplicate key drops only itself") {
    // both feeds failed whole before (COLUMN_ALREADY_EXISTS from the
    // inferred schema); the variant parser rejects the record, as Spark's
    // PERMISSIVE variant read did
    check(lines("dup-data.json",
      """{"key": "dup", "data": {"ttl": 1, "ttl": 2}}""",
      """{"key": "after-dup", "data": {"ttl": 3}}"""),
      s"after-dup$bare {ttl=3:i32}")
    check(lines("dup-top.json",
      """{"key": "dup-top", "key": "dup-top-2", "data": {"x": 1}}""",
      """{"key": "after-dup", "data": {"ttl": 3}}"""),
      s"after-dup$bare {ttl=3:i32}")
  }

  test("structure: data members are the columns, the key is entry, else " +
      "key, else the first column in name order") {
    // top-level members beside `data` are ignored
    check(lines("toplevel.json",
      """{"key": "t1", "source": "top", "ttl": 9, "data": {"category": "c"}}""",
      """{"key": "t2", "category": "no-data"}""",
      """{"key": "t3", "data": null}""",
      """{"key": "t4", "data": {"source": "inner", "ttl": 1}}"""),
      "t1|unknown|c|unknown|0|-|||-1| {}",
      s"t2$bare {}",
      s"t3$bare {}",
      "t4|unknown|unknown|inner|0|-|||-1| {ttl=1:i32}")
    check(write("entry-in-data.json",
      """[{"key": "k1", "data": {"entry": "e1.com", "category": "c"}},
        | {"key": "k2", "data": {"category": "no-entry"}}]
        |""".stripMargin),
      "e1.com|unknown|c|unknown|0|-|||-1| {key=k1:str}")
    // failed before (DUPLICATED_MAP_KEY: `key` came both from the top
    // level and from `data`); the top-level key is the column now
    check(write("inner-key.json",
      """[{"key": "k3", "data": {"entry": "e3.com", "key": "inner"}}]"""),
      s"e3.com$bare {key=k3:str}")
    // failed before (AMBIGUOUS_REFERENCE: the first column, `category`, was
    // both the key and a fixed field); it is only the key now, as in CSV
    check(lines("no-key.json",
      """{"indicator": "x.com", "category": "c2", "ttl": 5}""",
      """{"indicator": "y.com", "ttl": 6}"""),
      s"c2$bare {indicator=x.com:str, ttl=5:i32}")
    check(lines("no-key-extra-first.json",
      """{"indicator": "x.com", "zone": "z", "ttl": 5}""",
      """{"indicator": "y.com", "threat_level": "high"}""",
      """{"ttl": 7}"""),
      s"x.com$bare {ttl=5:i32, zone=z:str}",
      "y.com|high|unknown|unknown|0|-|||-1| {}")
    check(lines("flat-entry.json",
      """{"entry": "a.com", "key": "ka", "threat_level": "high", "n": 1}""",
      """{"entry": "b.com", "confidence": 70}"""),
      "a.com|high|unknown|unknown|0|-|||-1| {key=ka:str, n=1:i32}",
      "b.com|unknown|unknown|unknown|70|-|||-1| {}")
    check(write("flat-key.json",
      """[{"key": "a.com", "category": "c", "ttl": 2},
        | {"key": "b.com", "ttl": 2.5}]""".stripMargin),
      "a.com|unknown|c|unknown|0|-|||-1| {ttl=2:i32}",
      s"b.com$bare {ttl=2.5:f64}")
    check(lines("extra-named.json",
      """{"key": "x.com", "data": {"extra": "note", "extra_types": "t"}}""",
      """{"key": "y.com", "data": {"extra": {"a": 1}}}"""),
      s"x.com$bare {extra=note:str, extra_types=t:str}",
      s"y.com$bare {extra={\"a\":1}:str}")
  }

  test("file shapes: NDJSON lines, arrays, empty feeds, gzip and parts") {
    // blank lines skipped, malformed lines dropped alone, trailing text
    // after a record ignored; array elements come after object records
    check(write("ndjson-shape.json",
      "\n\n{\"key\": \"n1\", \"data\": {\"v\": 1}}\r\n" +
        "   \n\t\n{\"key\": \"n2\", \"data\": {\"v\": 2}}\n" +
        "{\"key\": \"bad\", \"data\": {\"v\": \n" +
        "not json at all\n" +
        "[{\"key\": \"arr1\"}, {\"key\": \"arr2\", \"data\": {\"v\": 3}}]\n" +
        "42\n\"str\"\nnull\n" +
        "{\"key\": \"n3\", \"data\": {\"v\": 4}} trailing\n" +
        "{\"key\": \"n4\", \"data\": {\"v\": 5}}"),
      s"n1$bare {v=1:i32}", s"n2$bare {v=2:i32}", s"n3$bare {v=4:i32}",
      s"n4$bare {v=5:i32}", s"arr1$bare {}", s"arr2$bare {v=3:i32}")
    check(write("pretty-array.json",
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
      s"p1$bare {ttl=1:i32}", s"p2$bare {ttl=2.5:f64}")
    check(write("empty-array.json", "[]"))
    check(write("empty-array-ws.json", " \n [ \n ] \n"))
    check(write("empty.json", ""))
    check(write("blank.json", "\n  \n\t\n"))
    check(write("feed.json.gz", gzip(
      "{\"key\": \"g1\", \"data\": {\"ttl\": 1}}\n" +
        "{\"key\": \"g2\", \"data\": {\"ttl\": 2.5}}\n")),
      s"g1$bare {ttl=1:i32}", s"g2$bare {ttl=2.5:f64}")
    // largest file first, as Spark's file splits come back
    write("parts/part-00000.json", "{\"key\": \"p0\", \"data\": {\"n\": 0}}\n")
    write("parts/part-00001.json",
      "{\"key\": \"p1\", \"data\": {\"n\": 1}}\n" +
        "{\"key\": \"p2\", \"data\": {\"n\": 2}}\n" +
        "{\"key\": \"p3\", \"data\": {\"n\": 3}}\n")
    write("parts/_SUCCESS", "")
    check(root.resolve("parts").toString,
      s"p1$bare {n=1:i32}", s"p2$bare {n=2:i32}", s"p3$bare {n=3:i32}",
      s"p0$bare {n=0:i32}")
    write("aparts/part-00000.json", "[{\"key\": \"a0\"}]\n")
    write("aparts/part-00001.json",
      "[{\"key\": \"a1\", \"data\": {\"n\": 1}},\n {\"key\": \"a2\"}]\n")
    write("aparts/_SUCCESS", "")
    check(root.resolve("aparts").toString,
      s"a1$bare {n=1:i32}", s"a2$bare {}", s"a0$bare {}")
  }

  test("a directory's shape is decided per file, hidden files skipped") {
    // an array part, an NDJSON part and a non-empty hidden file: one
    // shape guessed from whichever file the listing gave first lost the
    // records of one part or the other
    write("mixed/part-a.json",
      "[\n  {\"key\": \"arr1.com\",\n   \"data\": {\"n\": 1}},\n" +
        "  {\n   \"key\": \"arr2.com\"\n  }\n]\n")
    write("mixed/part-b.json",
      "{\"key\": \"nd1.com\", \"data\": {\"n\": 2.5}}\n" +
        "{\"key\": \"nd2.com\"}\n{\"key\": \"nd3.com\"}\n")
    write("mixed/.hidden.json", "[{\"key\": \"hidden.com\"}]\n")
    write("mixed/_SUCCESS", "")
    check(root.resolve("mixed").toString,
      s"nd1.com$bare {n=2.5:f64}", s"nd2.com$bare {}", s"nd3.com$bare {}",
      s"arr1.com$bare {n=1:i32}", s"arr2.com$bare {}")
    // the shape is read after decompression
    check(write("array.json.gz", gzip(
      "[\n {\"key\": \"gz1.com\"},\n {\"key\": \"gz2.com\"}\n]\n")),
      s"gz1.com$bare {}", s"gz2.com$bare {}")
  }

  test("fixed-field casts take the value's string in the session's eval " +
      "mode") {
    val err = Left("CAST_INVALID_INPUT")
    def entry(f: IntelEntry => IntelEntry) = Right(Seq(render(f(
      IntelEntry("c.com", "unknown", "unknown", "unknown", 0,
        extra = Map("x" -> "1"), extra_types = Map("x" -> "i32"))))))
    // (field, cell, ANSI on, ANSI off); None is CAST_INVALID_INPUT
    val cells: Seq[(String, String, Option[Any], Any)] = Seq(
      ("confidence", "90.5", None, 90),
      ("confidence", "\"90.5\"", None, 90),
      ("confidence", "\"1e2\"", None, 0),
      ("confidence", "1e2", None, 100),
      ("confidence", "2147483648", None, 0),
      ("confidence", "true", None, 0),
      ("confidence", "\" 7 \"", Some(7), 7),
      ("confidence", "-3", Some(-3), -3),
      ("confidence", "null", Some(0), 0),
      ("confidence", "{\"a\": 1}", None, 0),
      ("to_ids", "\"TRUE\"", Some(Some(true)), Some(true)),
      ("to_ids", "\" true \"", Some(Some(true)), Some(true)),
      ("to_ids", "\"N\"", Some(Some(false)), Some(false)),
      ("to_ids", "\"yes\"", Some(Some(true)), Some(true)),
      ("to_ids", "1", Some(Some(true)), Some(true)),
      ("to_ids", "0", Some(Some(false)), Some(false)),
      ("to_ids", "2", None, None),
      ("to_ids", "0.5", None, None),
      ("to_ids", "null", Some(None), None),
      ("to_ids", "[true]", None, None),
      ("attr_timestamp", "1.5", None, 1L),
      ("attr_timestamp", "\"1.5\"", None, 1L),
      ("attr_timestamp", "9223372036854775808", None, -1L),
      ("attr_timestamp", "-0", Some(0L), 0L),
      ("attr_timestamp", "\"42\"", Some(42L), 42L),
      ("attr_timestamp", "1e3", None, 1000L),
      ("attr_timestamp", "true", None, -1L),
      ("attr_timestamp", "null", Some(-1L), -1L))
    cells.zipWithIndex.foreach { case ((field, cell, on, off), i) =>
      def set(v: Any)(e: IntelEntry) = field match {
        case "confidence" => e.copy(confidence = v.asInstanceOf[Int])
        case "to_ids" =>
          e.copy(to_ids = v.asInstanceOf[Option[Boolean]])
        case _ => e.copy(attr_timestamp = v.asInstanceOf[Long])
      }
      check(write(s"cast-$i.json",
        s"""{"key": "c.com", "data": {"$field": $cell, "x": 1}}"""),
        on.fold[Either[String, Seq[String]]](err)(v => entry(set(v))),
        entry(set(off)))
    }
    check(lines("bad-confidence.json",
      """{"key": "ok.com", "data": {"confidence": 5, "x": 1}}""",
      """{"key": "bad.com", "data": {"confidence": "high"}}"""),
      err, Right(Seq("ok.com|unknown|unknown|unknown|5|-|||-1| {x=1:i32}",
        s"bad.com$bare {}")))
    check(lines("bad-to-ids.json",
      """{"key": "ok.com", "data": {"to_ids": true, "x": 1}}""",
      """{"key": "bad.com", "data": {"to_ids": "garbage"}}"""),
      err, Right(Seq("ok.com|unknown|unknown|unknown|0|true|||-1| {x=1:i32}",
        s"bad.com$bare {}")))
    check(lines("bad-timestamp.json",
      """{"key": "ok.com", "data": {"attr_timestamp": 1, "x": 1}}""",
      """{"key": "bad.com", "data": {"attr_timestamp": "12:00"}}"""),
      err, Right(Seq("ok.com|unknown|unknown|unknown|0|-|||1| {x=1:i32}",
        s"bad.com$bare {}")))
    // a row without a key never reaches the cast
    check(lines("bad-dropped-row.json",
      """{"key": "ok.com", "data": {"confidence": 5, "x": 1}}""",
      """{"key": null, "data": {"confidence": "high"}}"""),
      "ok.com|unknown|unknown|unknown|5|-|||-1| {x=1:i32}")
  }

  test("feeds once typed by column get per-value typing like every feed") {
    // A feed with no extra column, or with a member name holding one of
    // . ' " [ ] $ \ , was typed by Spark's inferred columns before. Here
    // `confidence` was a double column, cast to 90 under ANSI too; its
    // value "90.5" now fails the ANSI cast exactly as in a feed with
    // extras (cast table above)
    check(write("fixed-only.json",
      """[{"key": "a.com", "data": {"threat_level": "high",
        |   "confidence": 90.5, "to_ids": 1, "attr_timestamp": 7}},
        | {"key": "b.com", "data": {"threat_level": 3,
        |   "confidence": 80, "to_ids": false}}]""".stripMargin),
      Left("CAST_INVALID_INPUT"),
      Right(Seq("a.com|high|unknown|unknown|90|true|||7| {}",
        "b.com|3|unknown|unknown|80|false|||-1| {}")))
    // `ttl` 2 next to 2.5 rendered "2.0" (a double column) before
    check(write("dotted.json",
      """[{"key": "a.com", "data": {"a.b": 2, "ttl": 2}},
        | {"key": "b.com", "data": {"ttl": 2.5, "q'uote": "x"}}]""".stripMargin),
      s"a.com$bare {a.b=2:i32, ttl=2:i32}",
      s"b.com$bare {q'uote=x:str, ttl=2.5:f64}")
  }
}
