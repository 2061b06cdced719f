package graft.functions

import graft.intel.{BcHandle, IntelDb, IntelMetaRows}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `intel_meta(db_idx, entry_idx)` — a hit's entry metadata
  * ([[IntelMetaRows.schema]]) read in place from the broadcast databases
  * the scan already carries: no metadata relation, no exchange, no join.
  * The matchy analog is reading a hit's data by offset from the compiled
  * `.mxy` data section. Null keys (a routed clean row) give null.
  */
case class EntryMeta(left: Expression, right: Expression,
    dbs: BcHandle[Array[IntelDb]])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(IntegerType, IntegerType)

  override def dataType: DataType = IntelMetaRows.schema
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "intel_meta"

  override def nullSafeEval(dbIdx: Any, entryIdx: Any): Any =
    EntryMeta.row(dbs.get, dbIdx.asInstanceOf[Int], entryIdx.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, (d, e) =>
      s"${ev.value} = graft.functions.EntryMeta.row(" +
        s"(graft.intel.IntelDb[]) $ref.get(), $d, $e);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): EntryMeta =
    copy(left = newLeft, right = newRight)
}

object EntryMeta {
  /** The shared, read-only metadata row of one hit. */
  def row(dbs: Array[IntelDb], dbIdx: Int, entryIdx: Int): InternalRow =
    dbs(dbIdx).metaRows(entryIdx)

  def column(dbIdx: Column, entryIdx: Column, dbs: Seq[IntelDb]): Column =
    ExpressionUtils.column(EntryMeta(ExpressionUtils.expression(dbIdx),
      ExpressionUtils.expression(entryIdx), BcHandle.dbs(dbs)))
}
