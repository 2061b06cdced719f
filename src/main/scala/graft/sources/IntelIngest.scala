package graft.sources

import com.univocity.parsers.csv.CsvParser
import graft.intel.DataValues
import graft.model.IntelEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Intel feed ingestion (SURVEY.md §2.1 S5-S7): CSV with an entry/key
  * column, JSON array of {key, data}, and plain text (one entry per line,
  * '#' comments skipped) — the auto-build inputs of the reference
  * (bin/commands/match_cmd.rs:38-155). The builder's "schema" analog is the
  * typed IntelEntry projection with ThreatDB defaults for missing fields.
  *
  * CSV and text feeds are parsed on the driver in one pass and come back
  * as a local relation: a feed is the small side every task uses, built
  * into an [[graft.intel.IntelDb]] on the driver right after, so it is
  * never distributed just to be collected again (the reference's
  * `matchy build` also reads its feed in one process). JSON feeds go
  * through Spark's JSON reader for their per-value variant typing.
  */
object IntelIngest {

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

  /** CSV feed: header row, entry/key column + metadata columns (S5).
    *
    * The rows equal `normalize(spark.read.option("header", "true")
    * .csv(path))` with every extra cell tagged by the reference's per-cell
    * inference (match_cmd.rs:83-93), but no Spark job runs: lines, header
    * names, blank lines, each file's header, the empty-cell null rule and
    * ragged rows all go through Spark's own text-based CSV reader code
    * (`CSVOptions`, `UnivocityParser`), and `confidence`, `to_ids` and
    * `attr_timestamp` through Spark's `Cast` in the session's eval mode.
    * A feed with no header line gives zero entries.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val out = ArrayBuffer[IntelEntry]()
    var cols: CsvColumns = null
    eachFileLines(spark, path) { (file, lines) =>
      val strings = lines.map(t =>
        new String(t.getBytes, 0, t.getLength, options.charset))
      // every file drops its first non-blank line; the first one of all
      // names the columns (Spark's schema inference)
      CSVExprUtils.extractHeader(strings, options).foreach { header =>
        if (cols == null)
          cols = new CsvColumns(
            CSVUtils.makeSafeHeader(
              new CsvParser(options.asParserSettings).parseLine(header),
              conf.caseSensitiveAnalysis, options),
            options, EvalMode.fromSQLConf(conf))
        else
          new CSVHeaderChecker(cols.schema, options, file)
            .checkHeaderColumnNames(header)
        CSVExprUtils.filterCommentAndEmpty(strings, options)
          .flatMap(cols.parse).foreach { row =>
            val e = cols.entry(row)
            if (e != null) out += e
          }
      }
    }
    entriesFrame(spark, out.toSeq)
  }

  /** One CSV feed's columns (Spark's header names) and the per-row
    * normalization: the key is `entry`, else `key`, else the first column;
    * the fixed fields are read by exact name with ThreatDB defaults; every
    * other column is an extra, in name order, null cells dropped.
    */
  private final class CsvColumns(names: Array[String], options: CSVOptions,
      evalMode: EvalMode.Value) {
    val schema = StructType(names.map(StructField(_, StringType)))
    private val parser = new UnivocityParser(schema, schema, options)
    private val safeParser = new FailureSafeParser[String](
      parser.parse(_).toList, options.parseMode, schema,
      options.columnNameOfCorruptRecord)

    /** The rows of one line, as Spark's PERMISSIVE reader gives them (a
      * ragged row padded with nulls or cut short). Rows share one object.
      */
    def parse(line: String): Iterator[InternalRow] = safeParser.parse(line)

    private val keyIdx = Seq("entry", "key").map(names.indexOf(_))
      .find(_ >= 0).getOrElse(0)
    private def fixed(name: String): Int =
      names.indices.find(i => i != keyIdx && names(i) == name).getOrElse(-1)
    private def cast(name: String, to: DataType): Cast = {
      val i = fixed(name)
      if (i < 0) null
      else Cast(BoundReference(i, StringType, nullable = true), to,
        Some(options.zoneId.getId), evalMode)
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

    /** The entry of one parsed row, or null when its key is null or
      * empty. Rows are dropped before any cast, as the pushed-down key
      * filter of the Spark read did.
      */
    def entry(row: InternalRow): IntelEntry = {
      if (row.isNullAt(keyIdx) || row.getUTF8String(keyIdx).numBytes == 0)
        return null
      val extra = Map.newBuilder[String, String]
      val extraTypes = Map.newBuilder[String, String]
      extras.foreach { i =>
        if (!row.isNullAt(i)) {
          val v = row.getUTF8String(i).toString
          extra += names(i) -> v
          extraTypes += names(i) -> DataValues.inferTag(v)
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
    * DataValue typing is per VALUE, not per column (round-5 fix): Spark's
    * schema inference assigns one type per COLUMN, so a feed carrying
    * {"ttl": 2} and {"ttl": 2.5} would widen the column to double and
    * serialize the first entry's ttl as 2.0 — the reference types each
    * serde value independently (Int32(2) vs Double(2.5),
    * cli_utils.rs:213-243). The feed is therefore re-read as ONE VARIANT
    * per entry (`singleVariantColumn`; array feeds are split with
    * `variant_explode`), and every extra cell's string value AND DataValue
    * tag derive from its own variant member: BIGINT-family → i32
    * (as_i64 → truncating Int32), DECIMAL(p,0) in [0, u64::MAX] → u64,
    * negative/beyond-u64 integrals and all fractionals → f64,
    * BOOLEAN → bool, STRING → str (numeric-looking strings STAY strings),
    * nested OBJECT/ARRAY → `to_json` text tagged str (the flattened
    * passthrough form). The inferred read still provides the COLUMN SET;
    * dynamic keys containing '.' or quotes are not addressable by the
    * variant path and keep column-level typing via the legacy path.
    */
  def readJson(spark: SparkSession, path: String): DataFrame = {
    // multiLine selection by FILE SHAPE (round-5 review find): with
    // multiLine=true Spark parses each file as ONE json value, so an
    // NDJSON feed (one {key,data} object per line) would yield only its
    // FIRST record and the scan would silently miss every other
    // indicator. Array feeds (possibly pretty-printed across lines) need
    // multiLine=true; everything else is line-per-record NDJSON and must
    // use the default per-line parser. Peek at the first non-whitespace
    // byte to decide — feeds are driver-side small by design.
    val multiLine = firstNonWsByte(spark, path) == '['
    val reader = spark.read.option("multiLine", multiLine.toString)
    // empty feeds are legitimate (automation delivering an empty file or
    // '[]'; IntelStore builds empty databases fine) — json schema
    // inference throws on them, and '[]' infers zero columns; both become
    // an empty normalized frame instead of a crash (round-5 review find)
    val raw =
      try reader.json(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("infer") =>
          return entriesFrame(spark, Nil)
      }
    if (raw.columns.isEmpty) return entriesFrame(spark, Nil)
    val nested = raw.columns.contains("data")
    val flat = if (nested) raw.select(col("key"), col("data.*")) else raw
    val keyCol =
      if (flat.columns.contains("entry")) "entry"
      else if (flat.columns.contains("key")) "key"
      else flat.columns.head
    val known = Set("threat_level", "category", "source", "confidence",
      "to_ids", "comment", "attr_type", "attr_timestamp", "tags")
    val extraCols =
      flat.columns.filterNot(c => known.contains(c) || c == keyCol).sorted
    // keys the variant JSON-path grammar cannot address safely (the path
    // is interpolated into a SQL string literal, so '\' would be
    // re-escaped by the SQL parser and silently corrupt the path)
    val pathSafe = (keyCol +: extraCols).forall(c =>
      !c.exists(ch => ch == '.' || ch == '\'' || ch == '"' || ch == '[' ||
        ch == ']' || ch == '$' || ch == '\\'))
    if (extraCols.isEmpty || !pathSafe)
      return normalize(flat)

    val v0 = spark.read.format("json")
      .option("multiLine", multiLine.toString)
      .option("singleVariantColumn", "__v").load(path)
    val view = s"graft_feed_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    v0.createOrReplaceTempView(view)
    // one variant per ENTRY: array files parse as a single ARRAY variant
    // (split it); NDJSON files parse as one OBJECT variant per line
    val vRows = spark.sql(
      s"""SELECT __v AS v FROM $view
         |WHERE schema_of_variant(__v) NOT LIKE 'ARRAY%'
         |UNION ALL
         |SELECT e.value AS v FROM $view,
         |LATERAL variant_explode(__v) AS e
         |WHERE schema_of_variant(__v) LIKE 'ARRAY%'""".stripMargin)
    spark.catalog.dropTempView(view)

    def vpath(c: String): String =
      if (nested && c != "key") s"$$.data.$c" else s"$$.$c"
    def member(c: String) = expr(s"variant_get(v, '${vpath(c)}')")
    def vschema(c: String) = expr(s"schema_of_variant(variant_get(v, '${vpath(c)}'))")
    def valueOf(c: String): org.apache.spark.sql.Column = {
      val sv = vschema(c)
      when(sv.startsWith("OBJECT") || sv.startsWith("ARRAY"),
        to_json(member(c)))
        .otherwise(member(c).cast("string"))
    }
    def tagOf(c: String): org.apache.spark.sql.Column = {
      val sv = vschema(c)
      when(sv.isNull || sv === "VOID", lit(null).cast("string"))
        .when(sv.isin("TINYINT", "SMALLINT", "INT", "BIGINT"),
          lit(graft.intel.DataValues.I32))
        .when(sv === "BOOLEAN", lit(graft.intel.DataValues.BOOL))
        .when(sv.isin("DOUBLE", "FLOAT"), lit(graft.intel.DataValues.F64))
        .when(sv.startsWith("DECIMAL") && sv.endsWith(",0)"),
          when(member(c).cast("decimal(38,0)") >= 0 &&
            member(c).cast("decimal(38,0)") <=
              lit(new java.math.BigDecimal(graft.intel.DataValues.U64Max)),
            lit(graft.intel.DataValues.U64))
            .otherwise(lit(graft.intel.DataValues.F64)))
        .when(sv.startsWith("DECIMAL"), lit(graft.intel.DataValues.F64))
        .otherwise(lit(graft.intel.DataValues.STR))
    }
    val fixed = flat.columns.filter(known.contains).toSeq
    val assembled = vRows.select(
      (valueOf(keyCol).as(keyCol) +:
        fixed.map(c => valueOf(c).as(c))) :+
        map_filter(
          map(extraCols.toSeq.flatMap(c => Seq(lit(c), valueOf(c))): _*),
          (_, x) => x.isNotNull).as("extra") :+
        map_filter(
          map(extraCols.toSeq.flatMap(c => Seq(lit(c), tagOf(c))): _*),
          (_, x) => x.isNotNull).as("extra_types"): _*)
    normalize(assembled)
  }

  /** First non-whitespace byte of `path` (a file, or the first file of a
    * directory) via the Hadoop FS API — works for any Spark-readable
    * location. 0 when empty/unreadable (callers treat that as NDJSON).
    */
  private def firstNonWsByte(spark: SparkSession, path: String): Byte = {
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).find(s => s.isFile && s.getLen > 0)
            .map(_.getPath).orNull
        else p
      if (file == null) return 0
      val in = fs.open(file)
      try {
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) {
            val b = buf(i)
            if (b != ' ' && b != '\n' && b != '\r' && b != '\t') return b
            i += 1
          }
          n = in.read(buf)
        }
        0
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => 0 }
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
    entriesFrame(spark, out.toSeq)
  }

  /** Every line of every file a Spark read of `path` scans, file by file
    * in [[feedFiles]] order, through Spark's own line reader (Hadoop's
    * `LineRecordReader`: `\n`, `\r` and `\r\n` line ends, a leading UTF-8
    * BOM dropped, compression codecs by file suffix). `f` gets the file's
    * path and its lines; the reader reuses one `Text` for every line.
    */
  private def eachFileLines(spark: SparkSession, path: String)(
      f: (String, Iterator[Text]) => Unit): Unit = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    feedFiles(hadoopConf, path).foreach { st =>
      val reader = new HadoopFileLinesReader(
        PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0,
          st.getLen),
        None, hadoopConf)
      try f(st.getPath.toString, reader) finally reader.close()
    }
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
  private lazy val entryEncoder: Encoder[IntelEntry] =
    ExpressionEncoder[IntelEntry]()

  /** Entries as a local relation with the normalized columns: collecting
    * it runs no Spark job.
    */
  private def entriesFrame(spark: SparkSession,
      entries: Seq[IntelEntry]): DataFrame =
    spark.createDataset(entries)(entryEncoder).toDF()

  /** Collect a normalized feed to typed entries (driver-side: feeds are
    * small by design — the broadcast side of the pipeline).
    */
  def toEntries(df: DataFrame): Seq[IntelEntry] =
    df.as(entryEncoder).collect().toSeq
}
