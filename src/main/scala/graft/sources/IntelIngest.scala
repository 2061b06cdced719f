package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException}
import com.univocity.parsers.csv.CsvParser
import graft.intel.DataValues
import graft.model.IntelEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.variant.SchemaOfVariant
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, FailureSafeParser, MapData}
import org.apache.spark.sql.execution.datasources.{CodecStreams, HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantBuilder, VariantUtil}
import org.apache.spark.types.variant.VariantUtil.Type
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}

import java.io.CharConversionException
import java.nio.charset.MalformedInputException
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.{AbstractSeq, ArraySeq, IndexedSeq}
import scala.collection.mutable.ArrayBuffer

/** Intel feed ingestion (SURVEY.md §2.1 S5-S7): CSV with an entry/key
  * column, JSON array of {key, data}, and plain text (one entry per line,
  * '#' comments skipped) — the auto-build inputs of the reference
  * (bin/commands/match_cmd.rs:38-155). The builder's "schema" analog is the
  * typed IntelEntry projection with ThreatDB defaults for missing fields.
  *
  * Every feed is parsed on the driver in one pass, with Spark's own
  * readers' parsing code but no Spark job, and comes back as a local
  * relation: a feed is the small side every task uses, built into an
  * [[graft.intel.IntelDb]] on the driver right after, so it is never
  * distributed just to be collected again (the reference's `matchy build`
  * also reads its feed in one process). CSV and JSON rows become entries
  * through one normalization, [[FeedColumns]].
  */
object IntelIngest {

  private val defaults = Map(
    "threat_level" -> "unknown", "category" -> "unknown",
    "source" -> "unknown")

  /** The columns of the fixed IntelEntry shape; every other feed column
    * is an extra.
    */
  private val fixedColumns = Set("entry", "threat_level", "category",
    "source", "confidence", "to_ids", "comment", "attr_type",
    "attr_timestamp", "tags")

  /** CSV feed: header row, entry/key column + metadata columns (S5).
    *
    * Lines, header names, blank lines, each file's header, the empty-cell
    * null rule and ragged rows all go through Spark's own text-based CSV
    * reader code (`CSVOptions`, `UnivocityParser`), so the rows are those
    * of `spark.read.option("header", "true").csv(path)`; each row becomes
    * an entry through [[FeedColumns]], extra cells tagged by the
    * reference's per-cell inference (match_cmd.rs:83-93). A feed with no
    * header line gives zero entries.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val out = ArrayBuffer[IntelEntry]()
    var cols: FeedColumns = null
    var schema: StructType = null
    var parse: String => Iterator[InternalRow] = null
    eachFileLines(spark, path) { (file, lines) =>
      val strings = lines.map(t =>
        new String(t.getBytes, 0, t.getLength, options.charset))
      // every file drops its first non-blank line; the first one of all
      // names the columns (Spark's schema inference)
      CSVExprUtils.extractHeader(strings, options).foreach { header =>
        if (cols == null) {
          val names = CSVUtils.makeSafeHeader(
            new CsvParser(options.asParserSettings).parseLine(header),
            conf.caseSensitiveAnalysis, options)
          cols = new FeedColumns(names, conf)
          schema = StructType(names.map(StructField(_, StringType)))
          // the rows of one line as Spark's PERMISSIVE reader gives them
          // (a ragged row padded with nulls or cut short); rows share one
          // object
          val parser = new UnivocityParser(schema, schema, options)
          parse = new FailureSafeParser[String](parser.parse(_).toList,
            options.parseMode, schema,
            options.columnNameOfCorruptRecord).parse
        } else
          new CSVHeaderChecker(schema, options, file)
            .checkHeaderColumnNames(header)
        CSVExprUtils.filterCommentAndEmpty(strings, options)
          .flatMap(parse).foreach { row =>
            val e = cols.entry(row)
            if (e != null) out += e
          }
      }
    }
    entriesFrame(spark, out)
  }

  /** One feed's column names and the normalization of its rows, shared by
    * the CSV and JSON readers. A row holds each column's cell as a string
    * (null when absent). The key is `entry`, else `key`, else the first
    * column; the fixed fields are read by exact name with ThreatDB
    * defaults, `confidence`, `to_ids` and `attr_timestamp` through Spark's
    * `Cast` in the session's eval mode; every other column is an extra, in
    * name order, null cells dropped.
    */
  private final class FeedColumns(names: Array[String], conf: SQLConf) {
    private val keyIdx = Seq("entry", "key").map(names.indexOf(_))
      .find(_ >= 0).getOrElse(0)
    private def fixed(name: String): Int =
      names.indices.find(i => i != keyIdx && names(i) == name).getOrElse(-1)
    private def cast(name: String, to: DataType): Cast = {
      val i = fixed(name)
      if (i < 0) null
      else Cast(BoundReference(i, StringType, nullable = true), to,
        Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf))
    }
    private val threatLevel = fixed("threat_level")
    private val category = fixed("category")
    private val source = fixed("source")
    private val comment = fixed("comment")
    private val attrType = fixed("attr_type")
    private val tags = fixed("tags")
    private val confidence = cast("confidence", IntegerType)
    private val toIds = cast("to_ids", BooleanType)
    private val attrTimestamp = cast("attr_timestamp", LongType)
    private val extras = names.indices
      .filter(i => i != keyIdx && !fixedColumns.contains(names(i)))
      .sortBy(names(_)).toArray

    private def str(row: InternalRow, i: Int, default: String): String =
      if (i < 0 || row.isNullAt(i)) default
      else row.getUTF8String(i).toString

    /** The entry of one row, or null when its key is null or empty. Rows
      * are dropped before any cast, as the pushed-down key filter of a
      * Spark read would drop them. `types` holds each extra cell's
      * DataValue tag; without it the tag is inferred from the cell.
      */
    def entry(row: InternalRow, types: Array[String] = null): IntelEntry = {
      if (row.isNullAt(keyIdx) || row.getUTF8String(keyIdx).numBytes == 0)
        return null
      val extra = Map.newBuilder[String, String]
      val extraTypes = Map.newBuilder[String, String]
      extras.foreach { i =>
        if (!row.isNullAt(i)) {
          val v = row.getUTF8String(i).toString
          extra += names(i) -> v
          extraTypes += names(i) ->
            (if (types == null) DataValues.inferTag(v) else types(i))
        }
      }
      IntelEntry(
        entry = row.getUTF8String(keyIdx).toString,
        threat_level = str(row, threatLevel, defaults("threat_level")),
        category = str(row, category, defaults("category")),
        source = str(row, source, defaults("source")),
        confidence =
          if (confidence == null) 0
          else Option(confidence.eval(row)).fold(0)(_.asInstanceOf[Int]),
        to_ids =
          if (toIds == null) None
          else Option(toIds.eval(row)).map(_.asInstanceOf[Boolean]),
        comment = str(row, comment, ""),
        attr_type = str(row, attrType, ""),
        attr_timestamp =
          if (attrTimestamp == null) -1L
          else Option(attrTimestamp.eval(row)).fold(-1L)(_.asInstanceOf[Long]),
        tags = str(row, tags, ""),
        extra = extra.result(),
        extra_types = extraTypes.result())
    }
  }

  /** JSON feed: [{"key": ..., "data": {...}}] or NDJSON of the same (S6).
    *
    * Each file's shape comes from its first non-blank byte: a `[` file is
    * one JSON value, any other file has one record per line, and a line
    * that does not parse drops only itself (Spark's PERMISSIVE mode).
    * Records parse with Spark's JSON options into Spark's variant
    * (`VariantBuilder`); a top-level array gives one record per element,
    * and those come after the object records. A feed with a `data`
    * member anywhere is nested: its columns are `key` plus the `data`
    * members; otherwise they are the top-level members. Columns are
    * sorted by name, the way Spark's JSON schema inference orders them.
    *
    * DataValue typing is per VALUE, not per column (cli_utils.rs:213-243):
    * {"ttl": 2} and {"ttl": 2.5} stay Int32(2) and Double(2.5). Each cell's
    * string is its variant cast to string (an object or array gives its
    * JSON text) and its tag follows the variant's type: integral → i32,
    * an integral decimal in [0, u64::MAX] → u64, other numbers → f64,
    * boolean → bool, anything else → str (numeric-looking strings STAY
    * strings); JSON null is an absent cell.
    */
  def readJson(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val factory = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      .buildJsonFactory()
    val allowDuplicateKeys = conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS)
    val objects, elements = ArrayBuffer[Variant]()
    def parse(parser: JsonParser): Unit =
      try {
        if (parser.nextToken() != null) {
          val v = VariantBuilder.parseJson(parser, allowDuplicateKeys)
          if (v.getType == Type.ARRAY)
            elements ++= (0 until v.arraySize).map(v.getElementAtIndex)
          else objects += v
        }
      } catch {
        case _: JsonProcessingException | _: RuntimeException |
            _: CharConversionException | _: MalformedInputException =>
      } finally parser.close()
    val hadoopConf = spark.sessionState.newHadoopConf()
    feedFiles(hadoopConf, path).foreach { st =>
      if (firstNonBlank(hadoopConf, st) == '[')
        parse(CreateJacksonParser.inputStream(factory,
          CodecStreams.createInputStream(hadoopConf, st.getPath)))
      else fileLines(hadoopConf, st)(
        _.foreach(t => parse(CreateJacksonParser.text(factory, t))))
    }

    val records = (objects ++ elements).map(members)
    val nested = records.exists(_.contains("data"))
    val rows = if (!nested) records else records.map(r =>
      members(r.getOrElse("data", null))
        .updated("key", r.getOrElse("key", null)))
    val names = {
      val all = rows.flatMap(_.keys).distinct.sorted
      if (nested) "key" +: all.filter(_ != "key") else all
    }.toArray
    if (names.isEmpty) return entriesFrame(spark, Nil)
    val cols = new FeedColumns(names, conf)
    val toText = Cast(BoundReference(0, VariantType, nullable = true),
      StringType, Some(conf.sessionLocalTimeZone))
    val zone = java.time.ZoneId.of(conf.sessionLocalTimeZone)
    val out = ArrayBuffer[IntelEntry]()
    rows.foreach { r =>
      val values = new Array[Any](names.length)
      val types = new Array[String](names.length)
      names.indices.foreach { i =>
        val v = r.getOrElse(names(i), null)
        if (v != null && v.getType != Type.NULL) {
          values(i) = UTF8String.fromString(v.getType match {
            case Type.STRING => utf8String(v)
            case Type.OBJECT | Type.ARRAY =>
              jsonText(v, zone)
            case _ => toText.eval(InternalRow(
              new VariantVal(v.getValue, v.getMetadata))).toString
          })
          types(i) = jsonTag(v)
        }
      }
      val e = cols.entry(new GenericInternalRow(values), types)
      if (e != null) out += e
    }
    entriesFrame(spark, out)
  }

  private val U64Max = new java.math.BigDecimal(DataValues.U64Max)

  /** DataValue tag of one non-null JSON value (the variant type as Spark's
    * `schema_of_variant` names it).
    */
  private def jsonTag(v: Variant): String = SchemaOfVariant.schemaOf(v) match {
    case ByteType | ShortType | IntegerType | LongType => DataValues.I32
    case d: DecimalType if d.scale == 0 =>
      // beyond-i64 integrals: in [0, u64::MAX] → Uint64 (as_u64 path),
      // negative or beyond u64 → Double (as_f64 fallback,
      // cli_utils.rs:218-223 — as_u64 fails past 2^64-1 too)
      val x = v.getDecimal
      if (x.signum >= 0 && x.compareTo(U64Max) <= 0) DataValues.U64
      else DataValues.F64
    case _: DecimalType | FloatType | DoubleType => DataValues.F64
    case BooleanType => DataValues.BOOL
    case _ => DataValues.STR
  }

  /** A record's members by name; empty unless it is an object. */
  private def members(v: Variant): Map[String, Variant] =
    if (v == null || v.getType != Type.OBJECT) Map.empty
    else (0 until v.objectSize).map(i =>
      utf8Key(v, i) -> v.getFieldAtIndex(i).value).toMap

  // A variant holds its strings and member names as UTF-8, but Spark's
  // accessors (`getString`, `ObjectField.key`, `toJson`) decode them with
  // the JVM's default charset, which garbles non-ASCII text wherever that
  // is not UTF-8. These read them as UTF-8 from the variant binary format.

  /** A string variant's text. */
  private def utf8String(v: Variant): String = {
    val b = v.getValue
    if ((b(0) & VariantUtil.BASIC_TYPE_MASK) == VariantUtil.SHORT_STR)
      new String(b, 1, (b(0) & 0xff) >> VariantUtil.BASIC_TYPE_BITS, UTF_8)
    else new String(b, 5, VariantUtil.readUnsigned(b, 1, 4), UTF_8)
  }

  /** The name of an object variant's `i`-th member. */
  private def utf8Key(v: Variant, i: Int): String = {
    val m = v.getMetadata
    val width = ((m(0) >> 6) & 3) + 1
    def offset(id: Int) =
      VariantUtil.readUnsigned(m, 1 + (id + 1) * width, width)
    val strings = 1 + (VariantUtil.readUnsigned(m, 1, width) + 2) * width
    val id = v.getDictionaryIdAtIndex(i)
    new String(m, strings + offset(id), offset(id + 1) - offset(id), UTF_8)
  }

  private lazy val jsonFactory = new JsonFactory()

  /** `Variant.toJson` with UTF-8 strings and member names. */
  private def jsonText(v: Variant, zone: java.time.ZoneId): String = {
    val out = new java.io.StringWriter
    val g = jsonFactory.createGenerator(out)
    def write(v: Variant): Unit = v.getType match {
      case Type.OBJECT =>
        g.writeStartObject()
        (0 until v.objectSize).foreach { i =>
          g.writeFieldName(utf8Key(v, i))
          write(v.getFieldAtIndex(i).value)
        }
        g.writeEndObject()
      case Type.ARRAY =>
        g.writeStartArray()
        (0 until v.arraySize).foreach(i => write(v.getElementAtIndex(i)))
        g.writeEndArray()
      case Type.STRING => g.writeString(utf8String(v))
      case _ => g.writeRawValue(v.toJson(zone))
    }
    write(v)
    g.close()
    out.toString
  }

  /** The first byte after leading blanks of a feed file, decompressed; -1
    * when there is none.
    */
  private def firstNonBlank(hadoopConf: Configuration, st: FileStatus): Int = {
    val in = CodecStreams.createInputStream(hadoopConf, st.getPath)
    try Iterator.continually(in.read())
      .find(b => b != ' ' && b != '\n' && b != '\r' && b != '\t').get
    finally in.close()
  }

  /** Text feed: one entry per line, '#' comments and blanks skipped (S7).
    * Each line is trimmed of spaces the way Spark's `trim` does; like
    * [[readCsv]] it is read on the driver with no Spark job.
    */
  def readText(spark: SparkSession, path: String): DataFrame = {
    val hash = UTF8String.fromString("#")
    val out = ArrayBuffer[IntelEntry]()
    eachFileLines(spark, path) { (_, lines) =>
      lines.foreach { t =>
        val v = UTF8String.fromBytes(t.getBytes, 0, t.getLength).trim()
        if (v.numBytes > 0 && !v.startsWith(hash))
          out += IntelEntry(v.toString, defaults("threat_level"),
            defaults("category"), defaults("source"), 0)
      }
    }
    entriesFrame(spark, out)
  }

  /** Every line of every file a Spark read of `path` scans, file by file
    * in [[feedFiles]] order. `f` gets the file's path and its lines.
    */
  private def eachFileLines(spark: SparkSession, path: String)(
      f: (String, Iterator[Text]) => Unit): Unit = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    feedFiles(hadoopConf, path).foreach(st =>
      fileLines(hadoopConf, st)(f(st.getPath.toString, _)))
  }

  /** The lines of one feed file through Spark's own line reader (Hadoop's
    * `LineRecordReader`: `\n`, `\r` and `\r\n` line ends, a leading UTF-8
    * BOM dropped, compression codecs by file suffix); the reader reuses
    * one `Text` for every line.
    */
  private def fileLines(hadoopConf: Configuration, st: FileStatus)(
      f: Iterator[Text] => Unit): Unit = {
    val reader = new HadoopFileLinesReader(
      PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0,
        st.getLen),
      None, hadoopConf)
    try f(reader) finally reader.close()
  }

  /** The files a Spark file-source read of `path` scans, in the order its
    * rows come back. `path` is a file, a directory (hidden `_`/`.` files
    * skipped, as Spark's file index does) or a glob. Spark packs its
    * splits largest first, so the rows come back largest file first.
    */
  private def feedFiles(hadoopConf: Configuration,
      path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val roots = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    if (roots.isEmpty)
      throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    roots.flatMap { s =>
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hiddenName(c.getPath.getName))
        .map { c =>
          if (c.isDirectory) throw new IllegalArgumentException(
            s"feed $path: nested directory ${c.getPath} is not supported")
          c
        }
    }.sortBy(-_.getLen)
  }

  /** Spark's file-index rule for names a directory read skips
    * (HadoopFSUtils.shouldFilterOutPathName).
    */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** Built once: deriving the encoder costs ~10 ms per call. */
  private lazy val entryEncoder: ExpressionEncoder[IntelEntry] =
    ExpressionEncoder[IntelEntry]()

  /** Entries as a local relation with the normalized columns, the plan
    * `spark.createDataset(entries)` builds, but whose rows are the entries
    * themselves ([[EntryRows]]): [[toEntries]] of this frame returns them
    * as parsed, and their Catalyst rows are rendered only if the frame is
    * queried. Collecting it runs no Spark job.
    */
  private def entriesFrame(spark: SparkSession,
      entries: Iterable[IntelEntry]): DataFrame =
    FrameBridge.ofLocalRelation(spark, LocalRelation(
      DataTypeUtils.toAttributes(entryEncoder.schema),
      new EntryRows(ArraySeq.from(entries))))

  /** A feed's entries as the rows of a local relation. The rows are
    * rendered with the entry encoder's serializer, all at once, the first
    * time a field of any of them is read, so a frame that only goes back
    * to [[toEntries]] never renders them; the entries live as long as the
    * frame's plan.
    */
  private final class EntryRows(val entries: ArraySeq[IntelEntry])
      extends AbstractSeq[InternalRow] with IndexedSeq[InternalRow]
      with Serializable {
    lazy val rendered: Array[InternalRow] = {
      val toRow = entryEncoder.createSerializer()
      entries.map(toRow(_).copy()).toArray
    }
    def apply(i: Int): InternalRow = new EntryRow(this, i)
    def length: Int = entries.length
  }

  /** Row `i` of `rows`. Spark visits every element of a relation's data
    * whenever it builds a frame over it (`QueryPlan.expressions`), so an
    * element renders nothing until one of its fields is read.
    */
  private final class EntryRow(rows: EntryRows, i: Int) extends InternalRow {
    private def row: InternalRow = rows.rendered(i)
    def numFields: Int = row.numFields
    def setNullAt(o: Int): Unit = row.setNullAt(o)
    def update(o: Int, v: Any): Unit = row.update(o, v)
    def copy(): InternalRow = row.copy()
    def isNullAt(o: Int): Boolean = row.isNullAt(o)
    def getBoolean(o: Int): Boolean = row.getBoolean(o)
    def getByte(o: Int): Byte = row.getByte(o)
    def getShort(o: Int): Short = row.getShort(o)
    def getInt(o: Int): Int = row.getInt(o)
    def getLong(o: Int): Long = row.getLong(o)
    def getFloat(o: Int): Float = row.getFloat(o)
    def getDouble(o: Int): Double = row.getDouble(o)
    def getDecimal(o: Int, p: Int, s: Int): Decimal = row.getDecimal(o, p, s)
    def getUTF8String(o: Int): UTF8String = row.getUTF8String(o)
    def getBinary(o: Int): Array[Byte] = row.getBinary(o)
    def getGeography(o: Int): GeographyVal = row.getGeography(o)
    def getGeometry(o: Int): GeometryVal = row.getGeometry(o)
    def getInterval(o: Int): CalendarInterval = row.getInterval(o)
    def getVariant(o: Int): VariantVal = row.getVariant(o)
    def getStruct(o: Int, n: Int): InternalRow = row.getStruct(o, n)
    def getArray(o: Int): ArrayData = row.getArray(o)
    def getMap(o: Int): MapData = row.getMap(o)
    def get(o: Int, t: DataType): AnyRef = row.get(o, t)
    override def equals(o: Any): Boolean = o match {
      case e: EntryRow => row == e.row
      case r => row == r
    }
    override def hashCode: Int = row.hashCode
    override def toString: String = row.toString
  }

  /** Collect a normalized feed to typed entries (driver-side: feeds are
    * small by design — the broadcast side of the pipeline). A reader's
    * frame, unchanged, gives back the entries the reader parsed and runs
    * no query; any other frame (a `where`, a `select`, a union, a Spark
    * read) is collected.
    */
  def toEntries(df: DataFrame): Seq[IntelEntry] =
    FrameBridge.logicalPlan(df) match {
      case LocalRelation(_, rows: EntryRows, _, _) => rows.entries
      case _ => df.as(entryEncoder).collect().toSeq
    }
}
