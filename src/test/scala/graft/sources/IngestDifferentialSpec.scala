package graft.sources

import graft.{JobCounter, SparkTestBase}
import graft.intel.DataValues
import graft.model.IntelEntry
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** `IntelIngest.readCsv`/`readText` parse on the driver; every feed of a
  * hostile corpus must give exactly the entries, in order, of the Spark
  * route they replace: `spark.read.option("header", "true").csv` →
  * `normalize` → `DataValues.inferTag` on each extra (CSV), and
  * `spark.read.text` → `trim` → the `#` filter → `normalize` (text).
  * Casts that fail must fail with the same error class.
  */
class IngestDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val root = Files.createTempDirectory("ingest-diff")

  private def write(name: String, bytes: Array[Byte]): String = {
    val p = root.resolve(name)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    p.toString
  }
  private def write(name: String, text: String): String =
    write(name, text.getBytes(UTF_8))
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

  private def sparkCsv(path: String): Seq[IntelEntry] =
    IntelIngest.toEntries(IngestDifferentialSpec.normalize(
      spark.read.option("header", "true").csv(path)))
      .map(e => e.copy(extra_types =
        e.extra.map { case (k, v) => k -> DataValues.inferTag(v) }))

  private def sparkText(path: String): Seq[IntelEntry] =
    IntelIngest.toEntries(IngestDifferentialSpec.normalize(
      spark.read.text(path).select(trim(col("value")).as("entry"))
        .where(length(col("entry")) > 0 && !col("entry").startsWith("#"))))

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

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def assertSameCsv(path: String): Either[String, Seq[IntelEntry]] = {
    val got = outcome(IntelIngest.toEntries(IntelIngest.readCsv(spark, path)))
    val want = outcome(sparkCsv(path))
    assert(got == want, s"$path\n driver: $got\n spark:  $want")
    got
  }

  // a feed per hostile shape; all but the cast files ingest in both modes
  private lazy val corpus: Seq[String] = Seq(
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
    {
      write("parts/part-00000.csv", "entry,category,n\np0.com,c,0\n")
      write("parts/part-00001.csv",
        "entry,category,n\np1.com,c,1\np2.com,c,2\np3.com,c,3\n")
      write("parts/_SUCCESS", "")
      write("parts/.part-00000.csv.crc", bytes(0x63, 0x72, 0x63, 0x00, 0xFF))
      write("parts/_committed_1", "entry\nhidden.com\nhidden.org\n")
      write("parts/.staged.csv", "entry\nhidden.net\nhidden.io\n")
      root.resolve("parts").toString
    },
    {
      // a later file's own header is dropped; its rows take the
      // first file's columns
      write("mixed/a.csv", "entry,category,x\n1.com,c,1\n2.com,c,2\n")
      write("mixed/b.csv", "\n\nentry,x\n3.com,9\n")
      root.resolve("mixed").toString
    })

  test("csv: every feed of the hostile corpus equals Spark's route, " +
      "in order, with ANSI casts on and off") {
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      corpus.foreach { p =>
        val got = assertSameCsv(p)
        assert(got.isRight, s"$p (ansi=$ansi): $got")
      }
    }
    // the corpus reaches what it means to
    val quoted = IntelIngest.toEntries(
      IntelIngest.readCsv(spark, root.resolve("quoted.csv").toString))
    assert(quoted.map(_.entry) ==
      Seq("quoted,entry.com", "esc\"aped.org", " ", "plain.net"))
    val cells = IntelIngest.toEntries(
      IntelIngest.readCsv(spark, root.resolve("cells.csv").toString))
    assert(cells.map(_.confidence).take(4) == Seq(90, 0, 7, 5))
    assert(cells.map(_.to_ids).take(3) == Seq(Some(true), Some(true),
      Some(false)))
    val extras = IntelIngest.toEntries(
      IntelIngest.readCsv(spark, root.resolve("extras.csv").toString))
    assert(extras.head.extra_types("big") == "i32" &&
      extras.head.extra_types("huge") == "str" &&
      extras.head.extra_types("flag") == "bool")
    val parts = IntelIngest.toEntries(
      IntelIngest.readCsv(spark, root.resolve("parts").toString))
    assert(parts.map(_.entry) == Seq("p1.com", "p2.com", "p3.com", "p0.com"))
    assert(IntelIngest.toEntries(IntelIngest.readCsv(spark,
      root.resolve("header-only.csv").toString)).isEmpty)
  }

  test("csv: invalid casts fail with Spark's error class under ANSI and " +
      "fall back to the defaults without it") {
    val badConfidence = write("bad-confidence.csv",
      "entry,confidence\nok.com,5\nbad.com,high\n")
    val badToIds = write("bad-to-ids.csv",
      "entry,to_ids\nok.com,true\nbad.com,garbage\n")
    val badTimestamp = write("bad-timestamp.csv",
      "entry,attr_timestamp\nok.com,1\nbad.com,12:00\n")
    // a row the key filter drops never reaches the cast
    val droppedRow = write("bad-dropped-row.csv",
      "entry,confidence\nok.com,5\n,high\n")
    val uncertain = write("uncertain-casts.csv",
      "entry,confidence,to_ids,attr_timestamp\n" +
        "a.com,90.5,TRUE,1.5\nb.com,1e2, true ,9223372036854775808\n" +
        "c.com,2147483648,N,-0\n")
    withAnsi(true) {
      Seq(badConfidence, badToIds, badTimestamp).foreach { p =>
        assert(assertSameCsv(p) == Left("CAST_INVALID_INPUT"), p)
      }
      assert(assertSameCsv(droppedRow).isRight)
      assertSameCsv(uncertain)
    }
    withAnsi(false) {
      assert(assertSameCsv(badConfidence).map(_.map(_.confidence)) ==
        Right(Seq(5, 0)))
      assert(assertSameCsv(badToIds).map(_.map(_.to_ids)) ==
        Right(Seq(Some(true), None)))
      assert(assertSameCsv(badTimestamp).map(_.map(_.attr_timestamp)) ==
        Right(Seq(1L, -1L)))
      assertSameCsv(droppedRow)
      assertSameCsv(uncertain)
    }
  }

  test("csv: an empty file gives zero entries (Spark's route infers no " +
      "columns for it)") {
    val empty = write("empty.csv", "")
    val blank = write("blank.csv", "\n \n\r\n")
    Seq(empty, blank).foreach { p =>
      assert(IntelIngest.toEntries(IntelIngest.readCsv(spark, p)).isEmpty)
      assert(spark.read.option("header", "true").csv(p).columns.isEmpty)
    }
  }

  test("text: every feed equals Spark's text route, in order") {
    val feeds = Seq(
      write("feed.txt", bytes(
        "# comment\n  1.2.3.4  \n\tevil.com\t\n\n   # indented comment\n#\n",
        "bad.org\r\nx.net\ry.net\n  nbsp.com  \n", 0xFF,
        " z.com \n\n\nlast.com")),
      write("bom.txt", bytes(0xEF, 0xBB, 0xBF, "first.com\r\nsecond.com\n")),
      write("feed.txt.gz", gzip("g1.com\n# c\ng2.com\n")),
      write("empty.txt", ""),
      {
        write("tparts/part-00000.txt", "t0.com\n")
        write("tparts/part-00001.txt", "t1.com\nt2.com\n")
        write("tparts/_SUCCESS", "")
        write("tparts/.part-00000.txt.crc", bytes(0xFF, 0x00))
        write("tparts/_log", "hidden.com\n")
        root.resolve("tparts").toString
      })
    feeds.foreach { p =>
      val got = IntelIngest.toEntries(IntelIngest.readText(spark, p))
      assert(got == sparkText(p), p)
    }
    val first = IntelIngest.toEntries(IntelIngest.readText(spark, feeds.head))
    assert(first.map(_.entry).take(3) == Seq("1.2.3.4", "\tevil.com\t",
      "bad.org"))
  }

  test("no Spark job: readCsv and readText collect as local relations " +
      "with normalize's columns") {
    val csv = write("jobs.csv",
      "entry,confidence,to_ids,note\na.com, 9 ,yes,1e3\nb.com,,,\n")
    val txt = write("jobs.txt", "a.com\nb.com\n")
    val json = write("jobs.json",
      "{\"key\": \"a.com\", \"data\": {\"confidence\": 9, \"note\": 1e3}}\n" +
        "[{\"key\": \"b.com\"}]\n")
    val (entries, jobs) = JobCounter.count(spark)(
      IntelIngest.toEntries(IntelIngest.readCsv(spark, csv)))
    assert(entries.nonEmpty && jobs == 0, s"readCsv started $jobs jobs")
    val (lines, textJobs) = JobCounter.count(spark)(
      IntelIngest.toEntries(IntelIngest.readText(spark, txt)))
    assert(lines.size == 2 && textJobs == 0,
      s"readText started $textJobs jobs")
    val (records, jsonJobs) = JobCounter.count(spark)(
      IntelIngest.toEntries(IntelIngest.readJson(spark, json)))
    assert(records.size == 2 && jsonJobs == 0,
      s"readJson started $jsonJobs jobs")
    // the counter does see the jobs of Spark's CSV reader
    assert(JobCounter.count(spark)(sparkCsv(csv))._2 > 0)

    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    assert(shape(IntelIngest.readCsv(spark, csv)) ==
      shape(IngestDifferentialSpec.normalize(
        spark.read.option("header", "true").csv(csv))))
    assert(shape(IntelIngest.readText(spark, txt)) ==
      shape(IntelIngest.readCsv(spark, csv)))
    assert(shape(IntelIngest.readJson(spark, json)) ==
      shape(IntelIngest.readCsv(spark, csv)))
  }
}

/** The Spark-side feed normalization that the driver-side readers
  * replace, kept as the reference they are checked against.
  */
private object IngestDifferentialSpec {

  private val defaults = Map(
    "threat_level" -> "unknown", "category" -> "unknown",
    "source" -> "unknown")

  /** Normalize a Spark-read feed DataFrame (the JSON path) into the
    * IntelEntry shape. Accepts `entry` or `key` as the key column; fills
    * ThreatDB defaults.
    */
  def normalize(df: DataFrame): DataFrame = {
    val keyCol =
      if (df.columns.contains("entry")) "entry"
      else if (df.columns.contains("key")) "key"
      else df.columns.head
    var out = df.withColumnRenamed(keyCol, "entry")
    defaults.foreach { case (c, d) =>
      out =
        if (out.columns.contains(c)) out.withColumn(c, coalesce(col(c).cast("string"), lit(d)))
        else out.withColumn(c, lit(d))
    }
    out = if (out.columns.contains("confidence"))
      out.withColumn("confidence", coalesce(col("confidence").cast("int"), lit(0)))
    else out.withColumn("confidence", lit(0))
    // optional attribute-level metadata (MISP fidelity fields): honored when
    // the feed carries them, defaulted to "absent" otherwise
    out = if (out.columns.contains("to_ids"))
      out.withColumn("to_ids", col("to_ids").cast("boolean"))
    else out.withColumn("to_ids", lit(null).cast("boolean"))
    Seq("comment" -> "", "attr_type" -> "", "tags" -> "").foreach {
      case (c, d) =>
        out =
          if (out.columns.contains(c))
            out.withColumn(c, coalesce(col(c).cast("string"), lit(d)))
          else out.withColumn(c, lit(d))
    }
    out = if (out.columns.contains("attr_timestamp"))
      out.withColumn("attr_timestamp",
        coalesce(col("attr_timestamp").cast("long"), lit(-1L)))
    else out.withColumn("attr_timestamp", lit(-1L))
    // dynamic metadata passthrough (reference: arbitrary per-entry
    // HashMap<String, DataValue>, matchy-data-format/src/lib.rs:49-77):
    // every feed column OUTSIDE the fixed shape survives as a string
    // key/value in `extra` (null values dropped) instead of being lost,
    // with its DataValue type captured in `extra_types` (S6 per-VALUE JSON
    // types — graft.intel.DataValues).
    // A feed that arrives with `extra`/`extra_types` ALREADY built (the
    // variant-based readJson path) passes them through untouched. The
    // prebuilt check is TYPE-gated: a feed whose own column happens to be
    // NAMED "extra" (a plain string) must keep the legacy behavior of
    // being stringified into the extra map, not crash toEntries' upcast.
    val prebuilt = df.schema.fields.exists(f =>
      f.name == "extra" &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    val known = fixedColumns ++
      (if (prebuilt) Set("extra", "extra_types") else Set.empty)
    val extraCols = df.columns.filterNot(c =>
      known.contains(c) || c == keyCol).sorted
    val fieldType: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    val extraExpr =
      if (prebuilt) col("extra")
      else if (extraCols.isEmpty)
        map().cast("map<string,string>")
      else
        map_filter(
          map(extraCols.flatMap(c =>
            Seq(lit(c), col(s"`$c`").cast("string"))): _*),
          (_, v) => v.isNotNull)
    val typesExpr =
      if (prebuilt)
        (if (df.columns.contains("extra_types")) col("extra_types")
         else map().cast("map<string,string>"))
      else if (extraCols.isEmpty)
        map().cast("map<string,string>")
      else
        map_filter(
          map(extraCols.flatMap(c =>
            Seq(lit(c), tagExpr(col(s"`$c`"), fieldType(c)))): _*),
          (_, v) => v.isNotNull)
    // ONE withColumns call: both expressions must resolve against the
    // ORIGINAL columns — sequential withColumn would make typesExpr see
    // the already-replaced map when the feed has its own "extra" column
    out = out.withColumns(Map("extra" -> extraExpr,
      "extra_types" -> typesExpr))
    out.select("entry", "threat_level", "category", "source", "confidence",
      "to_ids", "comment", "attr_type", "attr_timestamp", "tags", "extra",
      "extra_types")
      .where(col("entry").isNotNull && length(col("entry")) > 0)
  }

  /** The columns of the fixed IntelEntry shape; every other feed column
    * is an extra.
    */
  private val fixedColumns = Set("entry", "threat_level", "category",
    "source", "confidence", "to_ids", "comment", "attr_type",
    "attr_timestamp", "tags")

  /** DataValue tag for one natively typed extra cell (null when the cell
    * is null — matching the absent-key rule of `extra`). Spark types map
    * the way cli_utils.rs:213-243 maps serde_json values: integrals →
    * Int32 (truncating), decimals beyond i64 → Uint64, floats → Double,
    * booleans → Bool. Strings, and nested arrays/structs (flattened to
    * their string cast), are tagged String.
    */
  private def tagExpr(c: org.apache.spark.sql.Column,
      dt: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        when(c.isNotNull, lit(DataValues.I32))
      case d: DecimalType if d.scale == 0 =>
        // beyond-i64 integrals: in [0, u64::MAX] → Uint64 (as_u64 path),
        // negative or beyond u64 → Double (as_f64 fallback,
        // cli_utils.rs:218-223 — as_u64 fails past 2^64-1 too)
        when(c.isNull, lit(null).cast("string"))
          .when(c >= 0 && c <= lit(new java.math.BigDecimal(DataValues.U64Max)),
            lit(DataValues.U64))
          .otherwise(lit(DataValues.F64))
      case FloatType | DoubleType | _: DecimalType =>
        when(c.isNotNull, lit(DataValues.F64))
      case BooleanType => when(c.isNotNull, lit(DataValues.BOOL))
      case _ => when(c.isNotNull, lit(DataValues.STR))
    }
  }


}
