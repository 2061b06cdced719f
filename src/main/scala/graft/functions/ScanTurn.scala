package graft.functions

import graft.extract.{IocScanner, Ipv6Format, ScanConfig}
import graft.extract.IocScanner.Kind
import graft.intel.{BcHandle, IntelDb, LpmIndex, ProbeKey}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

/** Whole-turn scan in ONE expression: extraction (E1-E8) + multi-database
  * lookup (L2/L3/L4 x L8) per text value, as `array<struct<indicator_type,
  * value, matched_text, span_start, span_end, db_idx, entry_idx,
  * prefix_len, match_type>>` — one element per (candidate x database hit),
  * hitless candidates omitted (`scanFlat`). A turn with no hit gives an
  * empty array, so `explode_outer` turns it into the one null row that is
  * its clean-sink row: a turn's cleanliness is row-local, and the matched
  * and clean sinks fan out from ONE pass with no per-turn aggregation,
  * anti-join or second scan. This mirrors the reference worker loop, which
  * knows a line is clean the moment its candidate loop ends
  * (processing/parallel.rs:494-700).
  *
  * With `counts`, every extracted candidate, hit or not, is counted per
  * extractor kind into that accumulator (`ScanJob.run`'s
  * `candidates_<type>` stats).
  *
  * `scanFlat` and IntelLookupMulti share ScanTurn's probe loops, which
  * probe from the candidate's bytes in the scan buffer (the string path)
  * or its parsed address (the IP path); UTF8Strings are built only for
  * emitted rows. Codegen emits a direct static call, keeping the stage in
  * whole-stage codegen. The nested emitter `scan` (one row per candidate
  * plus a clean marker) is no longer planned; it stays as the reference
  * the shape tests and the benchmark's checks compare against.
  */
case class ScanTurn(child: Expression, dbs: BcHandle[Array[IntelDb]],
    config: ScanConfig, counts: CandidateCounts = null)
    extends UnaryExpression with ImplicitCastInputTypes {

  @transient private lazy val scanner = new IocScanner(config)

  // analysis-time input check, like every sibling scan expression: a
  // non-string child must fail analysis, not ClassCastException per task
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ScanTurn.flatSchema
  override def nullable: Boolean = child.nullable
  override def prettyName: String =
    "scan_turn_flat_" + dbs.get.map(_.databaseId).mkString("_")
  override protected def stringArgs: Iterator[Any] = Iterator(child, dbs, config)

  override def nullSafeEval(input: Any): Any =
    ScanTurn.scanFlat(scanner, dbs.get, input.asInstanceOf[UTF8String], counts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    // broadcast HANDLE: dbs deserialize once per executor, not per task
    val dbsRef = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    val countsRef =
      if (counts == null) "null"
      else ctx.addReferenceObj("candcounts", counts, classOf[CandidateCounts].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScanTurn.scanFlat($scannerRef, " +
        s"(graft.intel.IntelDb[]) $dbsRef.get(), $c, $countsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ScanTurn =
    copy(child = newChild)
}

object ScanTurn {
  val flatElementSchema: StructType = StructType(
    ExtractIoCs.elementSchema.fields ++ IntelLookupMulti.elementSchema.fields)
  val flatSchema: DataType = ArrayType(flatElementSchema, containsNull = false)

  private val CAND = UTF8String.fromString("cand")
  private val CLEAN = UTF8String.fromString("clean")
  private val IP = ExtractIoCs.IP
  private val PATTERN = ExtractIoCs.PATTERN
  private val EMPTY: ArrayData = new GenericArrayData(Array.empty[Any])
  // one immutable clean-marker row shared by all threads (read-only)
  private val CLEAN_ROW: InternalRow = {
    val row = new GenericInternalRow(7)
    row.update(0, CLEAN)
    row.update(6, EMPTY)
    row
  }
  private val CLEAN_ONLY: ArrayData = new GenericArrayData(Array[Any](CLEAN_ROW))
  private def typeInterned = ExtractIoCs.typeInterned

  /** Each database's probe state for this thread, resolved once into
    * `scr.states` for one call's probes ([[IntelDb.probeState]]: one
    * ThreadLocal probe per database per call instead of one per lookup).
    * The caller must [[releaseStates]] before it returns, so no database
    * stays reachable from the thread's scratch.
    */
  private[functions] def resolveStates(scr: ExtractIoCs.RowScratch,
      dbs: Array[IntelDb]): Unit = {
    if (scr.states.length < dbs.length)
      scr.states = new Array[IntelDb.ProbeState](dbs.length)
    var d = 0
    while (d < dbs.length) { scr.states(d) = dbs(d).probeState; d += 1 }
  }

  private[functions] def releaseStates(scr: ExtractIoCs.RowScratch,
      dbs: Array[IntelDb]): Unit = {
    var d = 0
    while (d < dbs.length) { scr.states(d) = null; d += 1 }
  }

  /** Probe every database for candidate i of a scan of `buf`, with the
    * states of [[resolveStates]]. Hit k is left in `scr.hitDb(k)`,
    * `scr.hitEntry(k)`, `scr.hitPrefix(k)` (prefix -1 for string hits);
    * returns the hit count. The triples are valid until the next probe on
    * this thread.
    */
  private def probe(scr: ExtractIoCs.RowScratch, dbs: Array[IntelDb],
      sp: IocScanner.Spans, i: Int, buf: Array[Byte]): Int =
    sp.kind(i) match {
      case Kind.Ipv4 => probeIp(scr, dbs, sp.ipv4(i), null)
      case Kind.Ipv6 => probeIp(scr, dbs, -1L, Ipv6Format.parse(sp.canon(i)))
      case _ => probeString(scr, dbs, scr.key.set(buf, sp.start(i), sp.end(i)))
    }

  /** [[probe]] on the IP path: the IPv6 address `v6` (its groups) if not
    * null, else the IPv4 address `v4` (negative = not an address).
    */
  private[functions] def probeIp(scr: ExtractIoCs.RowScratch,
      dbs: Array[IntelDb], v4: Long, v6: Array[Int]): Int = {
    val states = scr.states
    var n = 0
    var d = 0
    while (d < dbs.length) {
      val hit =
        if (v6 != null) dbs(d).lookupIpv6(states(d), v6)
        else dbs(d).lookupIpv4(states(d), v4)
      if (hit >= 0) {
        putHit(scr, n, d, LpmIndex.entryOf(hit), LpmIndex.prefixOf(hit))
        n += 1
      }
      d += 1
    }
    n
  }

  /** [[probe]] on the string path. */
  private[functions] def probeString(scr: ExtractIoCs.RowScratch,
      dbs: Array[IntelDb], key: ProbeKey): Int = {
    val states = scr.states
    var n = 0
    var d = 0
    while (d < dbs.length) {
      val ids = dbs(d).lookupString(states(d), key)
      var k = 0
      while (k < ids.length) {
        putHit(scr, n, d, ids(k), -1)
        n += 1
        k += 1
      }
      d += 1
    }
    n
  }

  private def putHit(scr: ExtractIoCs.RowScratch, k: Int, d: Int,
      entryIdx: Int, prefixLen: Int): Unit = {
    if (k == scr.hitDb.length) {
      val cap = k * 2
      scr.hitDb = java.util.Arrays.copyOf(scr.hitDb, cap)
      scr.hitEntry = java.util.Arrays.copyOf(scr.hitEntry, cap)
      scr.hitPrefix = java.util.Arrays.copyOf(scr.hitPrefix, cap)
    }
    scr.hitDb(k) = d
    scr.hitEntry(k) = entryIdx
    scr.hitPrefix(k) = prefixLen
  }

  /** The `n` hits of the last probe as `array<struct<db_idx, entry_idx,
    * prefix_len, match_type>>`.
    */
  private[functions] def hitArray(scr: ExtractIoCs.RowScratch, n: Int,
      isIp: Boolean): ArrayData = {
    if (n == 0) return EMPTY
    val matchType = if (isIp) IP else PATTERN
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      val r = new GenericInternalRow(4)
      r.update(0, scr.hitDb(k))
      r.update(1, scr.hitEntry(k))
      r.update(2, scr.hitPrefix(k))
      r.update(3, matchType)
      out(k) = r
      k += 1
    }
    new GenericArrayData(out)
  }

  private def isIp(kind: Int): Boolean = kind == Kind.Ipv4 || kind == Kind.Ipv6

  /** Nested rows `struct<sink, indicator_type, value, matched_text,
    * span_start, span_end, hits array<struct<db_idx, entry_idx, prefix_len,
    * match_type>>>`: one per candidate (sink "cand", `hits` possibly empty)
    * plus one "clean" marker row iff no candidate hit. No query plans it;
    * it is the reference `scanFlat` is checked against.
    */
  def scan(scanner: IocScanner, dbs: Array[IntelDb],
      text: UTF8String): ArrayData = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    val sp = scanner.scanSpans(buf, len, scr.scan)
    val n = sp.n
    if (n == 0) return CLEAN_ONLY
    val rows = new Array[Any](n)
    var anyHit = false
    resolveStates(scr, dbs)
    try {
      var i = 0
      while (i < n) {
        val nHits = probe(scr, dbs, sp, i, buf)
        if (nHits > 0) anyHit = true
        val row = new GenericInternalRow(7)
        row.update(0, CAND)
        row.update(1, typeInterned(sp.kind(i)))
        val matched = ExtractIoCs.internSpan(scr, buf, sp.start(i), sp.end(i))
        row.update(2, ExtractIoCs.valueOf(scr, sp, i, matched))
        row.update(3, matched)
        row.update(4, sp.start(i))
        row.update(5, sp.end(i))
        row.update(6, hitArray(scr, nHits, isIp(sp.kind(i))))
        rows(i) = row
        i += 1
      }
    } finally releaseStates(scr, dbs)
    if (anyHit) new GenericArrayData(rows)
    else {
      // candidates but zero hits anywhere -> still a clean turn: append the
      // clean marker row
      val withClean = Array.copyOf(rows, n + 1)
      withClean(n) = CLEAN_ROW
      new GenericArrayData(withClean)
    }
  }

  /** Flat rows; static entry point shared by interpreted eval and
    * generated code. Adds each candidate's kind to `counts` if not null.
    */
  def scanFlat(scanner: IocScanner, dbs: Array[IntelDb], text: UTF8String,
      counts: CandidateCounts = null): ArrayData = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    val sp = scanner.scanSpans(buf, len, scr.scan)
    // the turn's rows accumulate in the grow-only scratch buffer and are
    // copied to exact size at the end; UTF8Strings are built only for the
    // candidates that hit
    if (sp.n == 0) return EMPTY
    var rows = scr.rows
    var nRows = 0
    resolveStates(scr, dbs)
    try {
      var i = 0
      while (i < sp.n) {
        if (counts != null) counts.add(sp.kind(i))
        val nHits = probe(scr, dbs, sp, i, buf)
        if (nHits > 0) {
          val tpe = typeInterned(sp.kind(i))
          val matchedU8 = ExtractIoCs.internSpan(scr, buf, sp.start(i), sp.end(i))
          val valueU8 = ExtractIoCs.valueOf(scr, sp, i, matchedU8)
          val matchType = if (isIp(sp.kind(i))) IP else PATTERN
          if (nRows + nHits > rows.length) {
            rows = Array.copyOf(rows, Integer.highestOneBit(nRows + nHits) * 2)
            scr.rows = rows
          }
          var k = 0
          while (k < nHits) {
            val r = new GenericInternalRow(9)
            r.update(0, tpe)
            r.update(1, valueU8)
            r.update(2, matchedU8)
            r.update(3, sp.start(i))
            r.update(4, sp.end(i))
            r.update(5, scr.hitDb(k))
            r.update(6, scr.hitEntry(k))
            r.update(7, scr.hitPrefix(k))
            r.update(8, matchType)
            rows(nRows) = r
            nRows += 1
            k += 1
          }
        }
        i += 1
      }
    } finally releaseStates(scr, dbs)
    if (nRows == 0) EMPTY
    else new GenericArrayData(Array.copyOf(rows, nRows))
  }

  def column(text: Column, dbs: Seq[IntelDb],
      config: ScanConfig = ScanConfig(),
      counts: CandidateCounts = null): Column =
    ExpressionUtils.column(
      ScanTurn(ExpressionUtils.expression(text), BcHandle.dbs(dbs), config,
        counts))
}

/** Extracted candidates per extractor kind ([[IocScanner.Kind]]), summed
  * over the tasks of a scan. Spark merges a task's counts only when the
  * task succeeds, and for a result stage once per partition, so a retried
  * task is not counted twice.
  */
final class CandidateCounts extends AccumulatorV2[Int, Array[Long]] {
  private val n = new Array[Long](Kind.names.length)

  override def isZero: Boolean = n.forall(_ == 0L)
  override def copy(): CandidateCounts = {
    val c = new CandidateCounts
    System.arraycopy(n, 0, c.n, 0, n.length)
    c
  }
  override def reset(): Unit = java.util.Arrays.fill(n, 0L)
  override def add(kind: Int): Unit = n(kind) += 1
  override def merge(other: AccumulatorV2[Int, Array[Long]]): Unit = {
    val o = other.asInstanceOf[CandidateCounts].n
    var k = 0
    while (k < n.length) { n(k) += o(k); k += 1 }
  }
  override def value: Array[Long] = n.clone()

  /** `candidates_<type>` -> count, for the kinds that had candidates. */
  def byType: Map[String, Long] =
    Kind.names.indices.collect {
      case k if n(k) > 0 => s"candidates_${Kind.names(k)}" -> n(k)
    }.toMap
}
