package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import graft.intel.{BcHandle, CleanPreScreen, IntelDb}
import graft.model.{IndicatorType => T}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The MATCH-ONLY flattening of ScanTurn: one array element per
  * (candidate x database hit), hitless candidates and clean turns omitted —
  * `array<struct<indicator_type, value, matched_text, span_start, span_end,
  * db_idx, entry_idx, prefix_len, match_type>>`.
  *
  * ScanJob.matched previously exploded ScanTurn's per-candidate rows,
  * filtered `sink = 'cand' AND size(hits) > 0`, projected the struct
  * fields, then exploded `hits` AGAIN — a Generate -> Filter -> Project ->
  * Generate chain whose intermediate rows are all materialized per
  * candidate. The flat form emits exactly the surviving rows from inside
  * the expression, so the plan is ONE Generate feeding the metadata read.
  * ScanJob.run keeps full ScanTurn (it needs the clean rows and the
  * per-candidate stats observer).
  */
case class ScanTurnFlat(child: Expression, dbs: BcHandle[Array[IntelDb]],
    config: ScanConfig, screen: BcHandle[CleanPreScreen] = null)
    extends UnaryExpression with ImplicitCastInputTypes {

  @transient private lazy val scanner = new IocScanner(config)

  // analysis-time input check, like every sibling scan expression: a
  // non-string child must fail analysis, not ClassCastException per task
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ScanTurnFlat.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String =
    s"scan_turn_flat_${dbs.get.map(_.databaseId).mkString("_")}"

  override def nullSafeEval(input: Any): Any =
    ScanTurnFlat.scan(scanner, dbs.get,
      if (screen == null) null else screen.get,
      input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    // broadcast HANDLES, not the structures: the compiled dbs (and screen)
    // deserialize once per executor, not once per task (see BcHandle)
    val dbsRef = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    val screenRef =
      if (screen == null) "null"
      else s"(graft.intel.CleanPreScreen) ${
        ctx.addReferenceObj("prescreen", screen, "graft.intel.BcHandle")}.get()"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScanTurnFlat.scan($scannerRef, " +
        s"(graft.intel.IntelDb[]) $dbsRef.get(), $screenRef, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ScanTurnFlat =
    copy(child = newChild)
}

object ScanTurnFlat {
  val elementSchema: StructType = StructType(Seq(
    StructField("indicator_type", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("matched_text", StringType, nullable = false),
    StructField("span_start", IntegerType, nullable = false),
    StructField("span_end", IntegerType, nullable = false),
    StructField("db_idx", IntegerType, nullable = false),
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("prefix_len", IntegerType, nullable = false),
    StructField("match_type", StringType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val IP = ExtractIoCs.IP
  private val PATTERN = ExtractIoCs.PATTERN
  private val EMPTY: ArrayData = new GenericArrayData(Array.empty[Any])
  private def typeInterned = ExtractIoCs.typeInterned

  private def matchRow(tpe: UTF8String, value: UTF8String,
      matchedText: UTF8String, spanStart: Int, spanEnd: Int, d: Int,
      entryIdx: Int, prefixLen: Int, matchType: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val r = new GenericInternalRow(9)
    r.update(0, tpe)
    r.update(1, value)
    r.update(2, matchedText)
    r.update(3, spanStart)
    r.update(4, spanEnd)
    r.update(5, d)
    r.update(6, entryIdx)
    r.update(7, prefixLen)
    r.update(8, matchType)
    r
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def scan(scanner: IocScanner, dbs: Array[IntelDb], screen: CleanPreScreen,
      text: UTF8String): ArrayData = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    if (screen != null && !screen.mightMatch(buf, len)) return EMPTY
    val iocs = scanner.scanInto(buf, len, scr.iocs, scr.scan)
    val n = iocs.length
    if (n == 0) return EMPTY
    // reuse the RowScratch hit buffer to accumulate the flat rows of the
    // whole turn (grow-only, copied to exact size at the end)
    var rows = scr.hits
    var nRows = 0
    var i = 0
    while (i < n) {
      val m = iocs(i)
      val isV6 = m.indicator_type == T.Ipv6
      val isIp = isV6 || (m.indicator_type == T.Ipv4)
      var tpe: UTF8String = null
      var valueU8: UTF8String = null
      var matchedU8: UTF8String = null
      // NOTE the first-hit init block below appears TWICE (ip branch and
      // string branch) and must stay byte-identical: a nested def would
      // box the captured vars (ObjectRef allocation per candidate — this
      // is the hot path), so the duplication is deliberate. Edit BOTH.
      var d = 0
      while (d < dbs.length) {
        val db = dbs(d)
        if (isIp) {
          val hit = db.lookupIp(m.value, isV6)
          if (hit != null) {
            if (tpe == null) {
              tpe = typeInterned.get(m.indicator_type)
              valueU8 = valueBytes(m, buf, scr)
              matchedU8 =
                if (m.matched_text eq m.value) valueU8
                else ExtractIoCs.internString(scr, m.matched_text)
            }
            if (nRows == rows.length) rows = grow(scr)
            rows(nRows) = matchRow(tpe, valueU8, matchedU8, m.span_start,
              m.span_end, d, hit._1, hit._2, IP)
            nRows += 1
          }
        } else {
          val ids = db.lookupString(m.value)
          var k = 0
          while (k < ids.length) {
            if (tpe == null) {
              tpe = typeInterned.get(m.indicator_type)
              valueU8 = valueBytes(m, buf, scr)
              matchedU8 =
                if (m.matched_text eq m.value) valueU8
                else ExtractIoCs.internString(scr, m.matched_text)
            }
            if (nRows == rows.length) rows = grow(scr)
            rows(nRows) = matchRow(tpe, valueU8, matchedU8, m.span_start,
              m.span_end, d, ids(k), -1, PATTERN)
            nRows += 1
            k += 1
          }
        }
        d += 1
      }
      i += 1
    }
    if (nRows == 0) EMPTY
    else {
      val exact = new Array[Any](nRows)
      System.arraycopy(rows, 0, exact, 0, nRows)
      new GenericArrayData(exact)
    }
  }

  @inline private def valueBytes(m: graft.model.Ioc, buf: Array[Byte],
      scr: ExtractIoCs.RowScratch): UTF8String =
    if (m.matched_text eq m.value)
      ExtractIoCs.internSpan(scr, buf, m.span_start, m.span_end)
    else ExtractIoCs.internString(scr, m.value)

  private def grow(scr: ExtractIoCs.RowScratch): Array[Any] =
    ExtractIoCs.growHits(scr)

  /** fastScreen: OPTIONAL embedded clean-turn pre-screen, built at plan
    * time and broadcast. Output-identical (superset filter; IntelStoreSpec
    * + CleanPreScreenSpec assert soundness) and only valid here: the
    * match-only flat form never reports hitless candidates, so skipping
    * extraction on screened turns is invisible. ScanTurn (the stats path)
    * must NOT screen — its candidate counts (A2-A6) require extracting
    * clean turns too. Default OFF: measured on the bench corpus
    * (ScanFnBench), the screen pass costs ~12% while the single-pass byte
    * scanner's own anchor sweep already rejects clean turns at the same
    * cost — the reference needs the AC screen because its per-type regex
    * extraction is expensive; this engine absorbed that fast path into the
    * extractor. The screen stays for extraction configs where scanning IS
    * expensive (many databases, case-folded globs) and for the explicit
    * `matched(prescreen = true)` filter form.
    */
  def column(text: Column, dbs: Seq[IntelDb],
      config: ScanConfig = ScanConfig(), fastScreen: Boolean = false): Column =
    ExpressionUtils.column(
      ScanTurnFlat(ExpressionUtils.expression(text),
        BcHandle.dbs(dbs), config,
        if (fastScreen) BcHandle.auto(CleanPreScreen.build(dbs)) else null))
}
