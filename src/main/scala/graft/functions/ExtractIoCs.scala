package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression: `extract_iocs(text)` returns
  * `array<struct<indicator_type, value, matched_text, span_start, span_end>>`
  * — the generator/UDTF analog of the reference extractor (SURVEY.md §2.8),
  * evaluated as ONE single-pass scan per row (the reference's
  * extract_from_chunk shape) instead of eight regex passes.
  *
  * Stays inside whole-stage codegen: doGenCode emits a direct static call,
  * so the surrounding operators keep their codegen span.
  */
case class ExtractIoCs(child: Expression, config: ScanConfig)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val scanner = new IocScanner(config)

  override def dataType: DataType = ExtractIoCs.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "extract_iocs"

  override def nullSafeEval(input: Any): Any =
    ExtractIoCs.scanToArrayData(scanner, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExtractIoCs.scanToArrayData($scannerRef, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractIoCs =
    copy(child = newChild)
}

object ExtractIoCs {
  val elementSchema: StructType = StructType(Seq(
    StructField("indicator_type", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("matched_text", StringType, nullable = false),
    StructField("span_start", IntegerType, nullable = false),
    StructField("span_end", IntegerType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val EMPTY: ArrayData = new GenericArrayData(Array.empty[Any])
  // interned indicator-type UTF8Strings by IocScanner.Kind (12 constants;
  // avoids a per-candidate conversion + allocation). SHARED single source
  // for every scan expression — a new indicator type is interned in
  // exactly one place.
  private[functions] val typeInterned: Array[UTF8String] =
    IocScanner.Kind.names.map(UTF8String.fromString)

  /** Shared match_type constants (ip vs pattern/literal/glob families). */
  private[functions] val IP = UTF8String.fromString("ip")
  private[functions] val PATTERN = UTF8String.fromString("pattern")

  /** Per-row thread scratch behind ONE ThreadLocal (text-copy buffer,
    * scanner spans, probe key, ScanTurn's hit and row buffers): the per-row copies/
    * buffers were the dominant allocations at 32 scan threads (GC-bound
    * scaling), and each separate ThreadLocal costs a hash probe in a
    * collision-prone per-thread map (JFR: getEntryAfterMiss).
    */
  final class RowScratch {
    var buf: Array[Byte] = new Array[Byte](1024)
    // ScanTurn.probe's string-path key, set from a candidate's span
    val key = new graft.intel.ProbeKey
    // ScanTurn.probe's hits as (db_idx, entry_idx, prefix_len) columns
    var hitDb: Array[Int] = new Array[Int](16)
    var hitEntry: Array[Int] = new Array[Int](16)
    var hitPrefix: Array[Int] = new Array[Int](16)
    // each database's probe state, held only during one call (see
    // ScanTurn.resolveStates)
    var states: Array[graft.intel.IntelDb.ProbeState] =
      new Array[graft.intel.IntelDb.ProbeState](4)
    // ScanTurn.scanFlat's rows for the current turn
    var rows: Array[Any] = new Array[Any](16)
    // direct-mapped value-intern cache (see internSpan): ~16 KB of refs
    val intern: Array[UTF8String] = new Array[UTF8String](InternSize)
    // scanner anchor and span scratch, carried here so one ThreadLocal
    // probe serves the whole row
    val scan = new graft.extract.IocScanner.ScanScratch
  }
  val tlScratch = new ThreadLocal[RowScratch] {
    override def initialValue(): RowScratch = new RowScratch
  }

  private final val InternSize = 2048 // power of two
  private final val InternMask = InternSize - 1
  // covers every fixed-width candidate class (sha512 = 128 bytes, monero
  // = 95): above this, values are assumed effectively unique and bypass
  private final val InternMaxLen = 128

  /** Per-thread direct-mapped intern cache for candidate value strings.
    *
    * The set of DISTINCT matched values in a scan is tiny compared to the
    * row count — it is bounded by the feed (plus CIDR-matched IPs and
    * glob-matched names, which still repeat heavily in real transcripts) —
    * yet the extractors allocated a fresh copyOfRange + UTF8String per
    * candidate (JFR: fromBytes ~11% of the 8-core matched loop). A
    * direct-mapped, content-hashed table (FNV-1a, overwrite-on-collision,
    * no probing) returns ONE owned immutable UTF8String per hot value.
    * UTF8Strings are immutable and rows only ever read them, so sharing an
    * instance across output rows is safe; each thread owns its table.
    */
  def internSpan(scr: RowScratch, buf: Array[Byte], start: Int,
      end: Int): UTF8String = {
    val len = end - start
    if (len > InternMaxLen)
      return UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, start, end))
    var h = -2128831035 // FNV-1a offset basis
    var i = start
    while (i < end) { h = (h ^ buf(i)) * 16777619; i += 1 }
    val slot = h & InternMask
    val cached = scr.intern(slot)
    if (cached != null && cached.numBytes == len &&
      org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
        cached.getBaseObject, cached.getBaseOffset,
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, len))
      return cached
    val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, start, end))
    scr.intern(slot) = s
    s
  }

  /** Intern an (ASCII) canonicalized value String — the non-span path
    * (RFC-5952 IPv6, refanged text). Hashing chars-as-bytes matches
    * internSpan's byte hash for ASCII, so both paths share slots; non-ASCII
    * falls back to a plain conversion.
    */
  def internString(scr: RowScratch, s: String): UTF8String = {
    val n = s.length
    if (n > InternMaxLen) return UTF8String.fromString(s)
    var h = -2128831035
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 128) return UTF8String.fromString(s)
      h = (h ^ c) * 16777619
      i += 1
    }
    val slot = h & InternMask
    val cached = scr.intern(slot)
    if (cached != null && cached.numBytes == n && charsEqual(cached, s, n))
      return cached
    val u = UTF8String.fromString(s)
    scr.intern(slot) = u
    u
  }

  private def charsEqual(u: UTF8String, s: String, n: Int): Boolean = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    var i = 0
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) != s.charAt(i).toByte)
        return false
      i += 1
    }
    true
  }

  /** Copy the UTF8String's bytes into the scratch buffer (grown
    * geometrically, never shrunk); read with text.numBytes().
    */
  def copyToScratch(scr: RowScratch, text: UTF8String): Array[Byte] = {
    val len = text.numBytes()
    var buf = scr.buf
    if (buf.length < len) {
      var cap = buf.length
      // overflow clamp: past 2^30 the doubling would wrap to MIN_VALUE
      // then 0 and the loop would spin forever on a > 1 GiB row — clamp
      // to the exact length instead
      while (cap < len) {
        cap <<= 1
        if (cap <= 0) cap = len
      }
      buf = new Array[Byte](cap)
      scr.buf = buf
    }
    org.apache.spark.unsafe.Platform.copyMemory(
      text.getBaseObject, text.getBaseOffset,
      buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
    buf
  }

  def copyToScratch(text: UTF8String): Array[Byte] =
    copyToScratch(tlScratch.get(), text)

  /** Candidate i's value: its matched text (the span's interned bytes),
    * except that an IPv6 value is its canonical form.
    */
  private[functions] def valueOf(scr: RowScratch, sp: IocScanner.Spans,
      i: Int, matched: UTF8String): UTF8String =
    if (sp.kind(i) == IocScanner.Kind.Ipv6) internString(scr, sp.canon(i))
    else matched

  /** Static entry point shared by interpreted eval and generated code. */
  def scanToArrayData(scanner: IocScanner, text: UTF8String): ArrayData = {
    val len = text.numBytes()
    val scr = tlScratch.get()
    val buf = copyToScratch(scr, text)
    val sp = scanner.scanSpans(buf, len, scr.scan)
    val n = sp.n
    if (n == 0) return EMPTY
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
      row.update(0, typeInterned(sp.kind(i)))
      val matched = internSpan(scr, buf, sp.start(i), sp.end(i))
      row.update(1, valueOf(scr, sp, i, matched))
      row.update(2, matched)
      row.update(3, sp.start(i))
      row.update(4, sp.end(i))
      rows(i) = row
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** Column-level API for the graft engine's custom expressions. */
object GraftFunctions {
  def extract_iocs(text: Column): Column =
    ExpressionUtils.column(
      ExtractIoCs(ExpressionUtils.expression(text), ScanConfig()))

  def extract_iocs(text: Column, config: ScanConfig): Column =
    ExpressionUtils.column(
      ExtractIoCs(ExpressionUtils.expression(text), config))

  def redact_iocs(text: Column): Column =
    ExpressionUtils.column(
      RedactIoCs(ExpressionUtils.expression(text), ScanConfig()))

  def redact_iocs(text: Column, config: ScanConfig): Column =
    ExpressionUtils.column(
      RedactIoCs(ExpressionUtils.expression(text), config))

  def refang_text(text: Column): Column =
    ExpressionUtils.column(RefangText(ExpressionUtils.expression(text)))

  /** One-match grok parse (see [[graft.ops.LogParse]] for the
    * field-splaying DataFrame form).
    */
  def grok_parse(text: Column, pattern: String): Column =
    ExpressionUtils.column(
      GrokParse(ExpressionUtils.expression(text), pattern))

  /** Register SQL-callable functions on a session (used by tests/jobs).
    * Shares GraftExtensions' builders so the temp-function path gets the
    * SAME analysis-time arity errors as the extension path — a bare
    * `exprs.head` here would NoSuchElementException on zero args and
    * silently IGNORE extra ones.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.descriptions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
}
