package graft.intel

/** Typed dynamic metadata (the reference's DataValue system,
  * matchy-data-format/src/lib.rs:49-77) for the `extra` feed columns.
  *
  * The engine stores dynamic metadata as `(value: String, tag: String)`
  * pairs — the value is the logical string (what lookups and filters
  * compare against) and the tag records the DataValue type the reference
  * would have assigned at build time:
  *
  *  - CSV feeds infer per cell (bin/commands/match_cmd.rs:83-93):
  *    i64 parse → `Int32` (NOTE the reference's TRUNCATING `as i32` cast —
  *    mirrored here), else u64 → `Uint64`, else f64 → `Double`, else
  *    "true"/"false" → `Bool`, else `String`. Empty cells are absent keys.
  *  - JSON feeds carry native JSON types (bin/cli_utils.rs:213-243), with
  *    the same i64→Int32 truncation for integral numbers; a JSON string
  *    that looks numeric STAYS a string — which is why the tag is captured
  *    at ingest rather than re-inferred at render time.
  *
  * Rendering turns the pair back into a JSON literal so the NDJSON match
  * sink emits `"ttl":3600` / `"verified":true` exactly like the reference's
  * serde_json DataValue serialization, instead of quoting everything.
  *
  * Deliberate JSON-safety deviation: the Rust f64 parser accepts
  * inf/infinity/nan spellings, which serde_json cannot serialize — such
  * cells are tagged String here so the sink always emits valid JSON.
  */
object DataValues {

  /** Type tags. Stable short strings: persisted by IntelStore. */
  val I32 = "i32"
  val U64 = "u64"
  val F64 = "f64"
  val BOOL = "bool"
  val STR = "str"

  /** u64::MAX as a decimal string (the as_u64 upper bound). */
  val U64Max = "18446744073709551615"

  // Rust's from_str grammars are stricter than Java's parse* (no
  // whitespace, no trailing type suffix, no hex floats) — gate with the
  // exact grammar before delegating to the JDK parser.
  private val IntRe = "^[+-]?[0-9]+$".r
  private val UIntRe = "^\\+?[0-9]+$".r
  private val FloatRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$".r

  private def parsesI64(v: String): Boolean =
    IntRe.matches(v) && (try { java.lang.Long.parseLong(v); true }
    catch { case _: NumberFormatException => false })

  private def parsesU64(v: String): Boolean =
    UIntRe.matches(v) && (try { java.lang.Long.parseUnsignedLong(v); true }
    catch { case _: NumberFormatException => false })

  private def parsesFiniteF64(v: String): Boolean =
    FloatRe.matches(v) && (try {
      java.lang.Double.isFinite(java.lang.Double.parseDouble(v))
    } catch { case _: NumberFormatException => false })

  /** Per-cell CSV inference (match_cmd.rs:83-93 order: i64, u64, f64,
    * bool, string). Null-safe: null stays null (absent key).
    */
  def inferTag(v: String): String =
    if (v == null) null
    else if (parsesI64(v)) I32
    else if (parsesU64(v)) U64
    else if (parsesFiniteF64(v)) F64
    else if (v == "true" || v == "false") BOOL
    else STR

  /** JSON escape per RFC 8259 (what serde_json / to_json emit). */
  def escapeJson(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }

  /** Render one (value, tag) pair as a JSON literal. A tag that does not
    * parse against its value (hand-edited legacy store) degrades to the
    * string rendering rather than emitting broken JSON.
    */
  def renderJson(v: String, tag: String): String = tag match {
    case I32 if parsesI64(v) =>
      // the reference's `i as i32` truncating cast (match_cmd.rs:85,
      // cli_utils.rs:219)
      java.lang.Long.parseLong(v).toInt.toString
    case U64 if parsesU64(v) =>
      java.lang.Long.toUnsignedString(java.lang.Long.parseUnsignedLong(v))
    case F64 if parsesFiniteF64(v) =>
      // JDK shortest-roundtrip rendering; "3600.0" keeps its ".0" like
      // serde_json's Ryu (exponent FORM can differ: 1.0E21 vs 1e21 — both
      // valid JSON, value-identical)
      java.lang.Double.toString(java.lang.Double.parseDouble(v))
    case BOOL if v == "true" || v == "false" => v
    case _ => escapeJson(v)
  }

  /** Key-sorted JSON object fragment for one entry's extras — the typed
    * `"extra"` member of the NDJSON data object. None when empty (the
    * sink omits the member entirely, keeping extra-less feeds byte-exact).
    * Keys absent from `tags` (legacy broadcast structures) are re-inferred
    * CSV-style — the closest analog of how such stores were built.
    */
  def typedJsonObject(extra: Map[String, String],
      tags: Map[String, String]): Option[String] =
    if (extra == null || extra.isEmpty) None
    else Some(extra.toSeq.sortBy(_._1).map { case (k, v) =>
      escapeJson(k) + ":" +
        renderJson(v, tags.getOrElse(k, inferTag(v)))
    }.mkString("{", ",", "}"))

  /** The COMPLETE NDJSON `data` object for one entry with dynamic keys
    * INLINED at the top level — the reference's own shape (the .mxy data
    * section is one flat DataValue map per entry; category/confidence/
    * source/threat_level are just conventional keys in it, serialized
    * alphabetically by serde_json's BTreeMap — sequential.rs:154-187).
    * Used by the opt-in byte-parity NDJSON mode; the default sink nests
    * dynamic keys under "extra" (schema-stable for parquet/SQL consumers).
    * Key collisions cannot occur: ingest excludes the fixed names from
    * `extra` (IntelIngest's `fixedColumns`).
    */
  def dataObjectJson(category: String, confidence: Int, source: String,
      threatLevel: String, extra: Map[String, String],
      tags: Map[String, String]): String = {
    val fixed = Seq(
      "category" -> escapeJson(category),
      "confidence" -> confidence.toString,
      "source" -> escapeJson(source),
      "threat_level" -> escapeJson(threatLevel))
    val dyn =
      if (extra == null) Seq.empty
      else extra.toSeq.map { case (k, v) =>
        k -> renderJson(v, tags.getOrElse(k, inferTag(v)))
      }
    (fixed ++ dyn).sortBy(_._1)
      .map { case (k, v) => escapeJson(k) + ":" + v }
      .mkString("{", ",", "}")
  }
}
