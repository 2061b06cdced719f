package graft.intel

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._

/** The per-entry intel metadata columns every matched row carries — ONE
  * field list that both renderings derive from, so they cannot drift:
  *  - [[IntelDb.metaRows]]: Catalyst rows indexed by entry_idx, read in
  *    place by the scan's `intel_meta(db_idx, entry_idx)` expression
  *    (graft.functions.EntryMeta) — the analog of matchy reading a hit's
  *    data by offset from the compiled database;
  *  - `ScanJob.intelMetaDf`: the same rows as a (db_idx, entry_idx)-keyed
  *    DataFrame, for queries that join metadata relationally.
  */
object IntelMetaRows {

  private def field(name: String, dataType: DataType,
      nullable: Boolean = true)(value: (IntelDb, IntelMeta) => Any) =
    (StructField(name, dataType, nullable), value)

  private val fields: Seq[(StructField, (IntelDb, IntelMeta) => Any)] = Seq(
    field("database_id", StringType)((db, _) => db.databaseId),
    field("entry", StringType)((_, m) => m.entry),
    field("entry_type", StringType)((_, m) => m.entryType),
    field("threat_level", StringType)((_, m) => m.threatLevel),
    field("category", StringType)((_, m) => m.category),
    field("source", StringType)((_, m) => m.source),
    field("confidence", IntegerType, nullable = false)((_, m) => m.confidence),
    field("to_ids", BooleanType)((_, m) => m.toIds.map(Boolean.box).orNull),
    field("comment", StringType)((_, m) => m.comment),
    field("attr_type", StringType)((_, m) => m.attrType),
    field("attr_timestamp", LongType, nullable = false)(
      (_, m) => m.attrTimestamp),
    field("tags", StringType)((_, m) => m.tags),
    // NULL instead of an empty map: a null costs one bit in the output
    // UnsafeRow where an empty MapData costs a 16-byte body plus per-row
    // serialization (JFR: getMap + row-copy tax on the extra-less common
    // case). Consumers are null-safe (element_at(null)=null; size(null)
    // keeps the NDJSON guard off).
    field("extra", MapType(StringType, StringType, valueContainsNull = true))(
      (_, m) => if (m.extra.isEmpty) null else m.extra),
    // typed rendering of the same extras (DataValue fidelity): a key-sorted
    // JSON object fragment rendered ONCE per entry — the NDJSON sink parses
    // it to a variant so numbers/bools emit unquoted
    // (matchy-data-format/src/lib.rs:49-77)
    field("extra_json", StringType)(
      (_, m) => DataValues.typedJsonObject(m.extra, m.extraTypes).orNull),
    // the COMPLETE data object with dynamic keys inlined at the top level —
    // the reference's own NDJSON shape, for the opt-in byte-parity sink
    // mode (Sinks.ndjsonMatched inlineExtra)
    field("data_json", StringType)((_, m) =>
      DataValues.dataObjectJson(m.category, m.confidence, m.source,
        m.threatLevel, m.extra, m.extraTypes))
  )

  /** Column names, types and nullability, in output order. */
  val schema: StructType = StructType(fields.map(_._1))

  /** One entry's metadata as an external Row (Scala values). */
  def row(db: IntelDb, m: IntelMeta): Row =
    Row.fromSeq(fields.map(_._2(db, m)))

  /** Every entry of `db` as Catalyst rows, indexed by entry_idx. The rows
    * are shared read-only by all scan threads.
    */
  def render(db: IntelDb): Array[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    db.entries.map(m => toCatalyst(row(db, m)).asInstanceOf[InternalRow])
  }
}
