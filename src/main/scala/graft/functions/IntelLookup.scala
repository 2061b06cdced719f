package graft.functions

import graft.intel.{BcHandle, IntelDb}
import graft.model.{IndicatorType => T}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression: `intel_lookup(value, indicator_type)` against one
  * compiled intel database, carried via a Broadcast handle (BcHandle) so it
  * deserializes once per EXECUTOR — the analog of the reference's
  * one-mmap-per-process sharing (DEVELOPMENT.md:202-206). Embedding the db
  * in the expression directly would ride the task binary and deserialize
  * once per TASK (2.1 s/task at 100k globs; BENCH.md, "Capability bench").
  *
  * Dispatch follows the reference (database.rs:760-764, 889-901): ipv4/ipv6
  * candidates walk the LPM trie; everything else takes the string path
  * (literal exact + paraglob; database.rs:911-981). Returns
  * `array<struct<entry_idx, prefix_len, match_type>>` — empty array = no
  * match (F1 filters it), so `NotFound` never materializes a row.
  */
case class IntelLookup(left: Expression, right: Expression,
    db: BcHandle[IntelDb])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntelLookup.schema
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = s"intel_lookup_${db.get.databaseId}"

  override def nullSafeEval(value: Any, itype: Any): Any =
    IntelLookup.lookup(db.get, value.asInstanceOf[UTF8String],
      itype.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dbRef = ctx.addReferenceObj("inteldb", db, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, (v, t) =>
      s"${ev.value} = graft.functions.IntelLookup.lookup(" +
        s"(graft.intel.IntelDb) $dbRef.get(), $v, $t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntelLookup =
    copy(left = newLeft, right = newRight)
}

object IntelLookup {
  val elementSchema: StructType = StructType(Seq(
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("prefix_len", IntegerType, nullable = false),
    StructField("match_type", StringType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val IP = ExtractIoCs.IP
  private val PATTERN = ExtractIoCs.PATTERN
  private val EMPTY = new GenericArrayData(Array.empty[Any])

  def lookup(db: IntelDb, value: UTF8String, itype: UTF8String): ArrayData = {
    val t = itype.toString
    if (t == T.Ipv4 || t == T.Ipv6) {
      val hit = db.lookupIp(value.toString, isV6 = t == T.Ipv6)
      if (hit == null) EMPTY
      else new GenericArrayData(
        Array[Any](InternalRow(hit._1, hit._2, IP)))
    } else {
      val ids = db.lookupString(value.toString)
      if (ids.isEmpty) EMPTY
      else {
        val rows = new Array[Any](ids.length)
        var i = 0
        while (i < ids.length) {
          rows(i) = InternalRow(ids(i), -1, PATTERN)
          i += 1
        }
        new GenericArrayData(rows)
      }
    }
  }

  def column(value: Column, indicatorType: Column, db: IntelDb): Column =
    ExpressionUtils.column(IntelLookup(
      ExpressionUtils.expression(value),
      ExpressionUtils.expression(indicatorType), BcHandle.auto(db)))
}
