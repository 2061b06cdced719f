package graft.functions

import graft.extract.Ipv6Format
import graft.intel.{BcHandle, Cidr, IntelDb}
import graft.model.{IndicatorType => T}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-database lookup in ONE pass (L8): each candidate is probed against
  * every database inside a single generator, so the input is scanned and
  * extracted exactly once — a per-database union would duplicate the whole
  * scan+extract subtree (Spark does not dedupe common subplans across union
  * branches). Returns array<struct<db_idx, entry_idx, prefix_len,
  * match_type>>; (db_idx, entry_idx) keys the entry metadata (EntryMeta).
  * The probe loop is ScanTurn's, so a value gets the same hits here as in
  * a scan.
  */
case class IntelLookupMulti(left: Expression, right: Expression,
    dbs: BcHandle[Array[IntelDb]])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntelLookupMulti.schema
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String =
    s"intel_lookup_multi_${dbs.get.map(_.databaseId).mkString("_")}"

  override def nullSafeEval(value: Any, itype: Any): Any =
    IntelLookupMulti.lookup(dbs.get, value.asInstanceOf[UTF8String],
      itype.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the reference object is the small broadcast HANDLE (BcHandle) — the
    // compiled dbs deserialize once per executor, not once per task.
    // NOTE: classOf[Array[IntelDb]].getName is the JVM binary name
    // ("[Lgraft.intel.IntelDb;") which is NOT valid Java source — it would
    // break whole-stage codegen for the entire stage and silently fall back
    // to interpreted execution (~70x slower scans)
    val ref = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, (v, t) =>
      s"${ev.value} = graft.functions.IntelLookupMulti.lookup(" +
        s"(graft.intel.IntelDb[]) $ref.get(), $v, $t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntelLookupMulti =
    copy(left = newLeft, right = newRight)
}

object IntelLookupMulti {
  val elementSchema: StructType = StructType(Seq(
    StructField("db_idx", IntegerType, nullable = false),
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("prefix_len", IntegerType, nullable = false),
    StructField("match_type", StringType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val IPV4 = UTF8String.fromString(T.Ipv4)
  private val IPV6 = UTF8String.fromString(T.Ipv6)

  def lookup(dbs: Array[IntelDb], value: UTF8String,
      itype: UTF8String): ArrayData = {
    val isV6 = itype.equals(IPV6)
    val isIp = isV6 || itype.equals(IPV4)
    val scr = ExtractIoCs.tlScratch.get()
    val s = value.toString
    ScanTurn.resolveStates(scr, dbs)
    val n =
      try {
        if (isV6) ScanTurn.probeIp(scr, dbs, -1L, Ipv6Format.parse(s))
        else if (isIp) ScanTurn.probeIp(scr, dbs, Cidr.parseV4(s), null)
        else ScanTurn.probeString(scr, dbs, scr.key.set(s))
      } finally ScanTurn.releaseStates(scr, dbs)
    ScanTurn.hitArray(scr, n, isIp)
  }

  def column(value: Column, indicatorType: Column, dbs: Seq[IntelDb]): Column =
    ExpressionUtils.column(IntelLookupMulti(
      ExpressionUtils.expression(value),
      ExpressionUtils.expression(indicatorType), BcHandle.dbs(dbs)))
}
