package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output sinks beyond the parquet fan-out (SURVEY.md §2.1):
  * S10 NDJSON match sink, S11 extract sink (json/csv/text, optional
  * --unique dedup).
  */
object Sinks {

  /** Generic NDJSON dump: every column of the frame as one JSON object per
    * row (debug/interop sink, not the reference format — see ndjsonMatched).
    */
  def ndjson(matched: DataFrame, path: String): Unit =
    matched
      // matched.col, not functions.col: a column literally named
      // "data.json" would otherwise parse as a nested-field path and fail
      // resolution
      .select(to_json(struct(matched.columns.map(matched.col): _*))
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** NDJSON match sink with the reference's EXACT field shape
    * (bin/match_processor/sequential.rs:154-187): one line per extracted
    * candidate per database —
    *  - pattern match: {"data":[{category,confidence,source,threat_level}...],
    *    "match_type":"pattern","matched_text":v,"pattern_count":N,
    *    "source":path,"timestamp":"s.mmm"}
    *  - ip match: {"cidr":"v/len","data":{...},"match_type":"ip",
    *    "matched_text":v,"prefix_len":L,"source":path,"timestamp":"s.mmm"}
    * Keys are alphabetical (serde_json's BTreeMap order); `data` entries
    * follow ascending pattern id (the reference's sorted-dedup id order);
    * `matched_text` is the candidate's canonical value (ExtractedItem::
    * as_value). `tsSeconds` supplies the reference's per-line timestamp
    * (epoch seconds; batch jobs pass the turn's event time — deterministic,
    * unlike the reference's wall clock).
    *
    * Dynamic metadata: when the matched frame carries an `extra`
    * map<string,string> column (feed columns outside the fixed ThreatDB
    * shape — reference matchy-data-format/src/lib.rs:49-77 carries an
    * arbitrary DataValue map per entry), each data object gains an
    * "extra":{...} member with key-sorted entries, omitted when empty so
    * extra-less feeds keep the reference-exact byte shape. (The reference
    * inlines unknown keys at the data top level; nesting under one typed
    * key is the schema-stable Spark translation — a fixed struct stays
    * codegen- and parquet-friendly where a per-row dynamic schema would
    * not.) "extra" sorts between "confidence" and "source", preserving the
    * alphabetical key order rule.
    *
    * `inlineExtra = true` (requires the `data_json` metadata column,
    * graft.intel.IntelMetaRows) switches to the reference's OWN shape instead:
    * the whole data object is the flat per-entry DataValue map with
    * dynamic keys inlined at the top level, alphabetical across fixed and
    * dynamic keys alike — byte parity for a consumer that reads custom
    * feed columns at `data.<key>` (sequential.rs:154-187).
    */
  def ndjsonMatched(matched: DataFrame, sourcePath: String,
      tsSeconds: Column, path: String,
      inlineExtra: Boolean = false): Unit = {
    // Each entry's data object becomes its JSON text here, and the typed
    // renderings (`extra_json`, `data_json`: per-entry DataValue JSON —
    // `"ttl":3600`, `"verified":true` — matching the reference's serde
    // DataValue serialization) are spliced in as text. Read back through
    // a variant (`to_json(parse_json(..))`) their strings would decode
    // with the JVM's default charset and garble non-ASCII text wherever
    // that is not UTF-8. The map fallback keeps pre-round-5 frames
    // (all-string extras) working.
    val dataText =
      if (inlineExtra) {
        require(matched.columns.contains("data_json"),
          "inlineExtra needs the data_json metadata column")
        col("data_json")
      } else if (matched.columns.contains("extra_json"))
        splice(to_json(struct(col("category"), col("confidence"),
          placeholder(col("extra_json")).as("extra"), col("source"),
          col("threat_level"))), "extra", col("extra_json"))
      else {
        val extra =
          if (matched.columns.contains("extra"))
            when(size(col("extra")) > 0, col("extra"))
          else lit(null).cast("map<string,string>")
        to_json(struct(col("category"), col("confidence"), extra.as("extra"),
          col("source"), col("threat_level")))
      }
    val grouped = matched.withColumn("__ts", tsSeconds)
      .groupBy(col("conv_id"), col("turn_idx"), col("span_start"),
        col("value"), col("database_id"), col("match_type"),
        col("prefix_len"), col("cidr"), col("__ts"))
      .agg(count(lit(1)).cast("int").as("pattern_count"),
        transform(
          array_sort(collect_list(struct(col("entry_idx").as("i"),
            dataText.as("d")))),
          x => x.getField("d")).as("data_arr"))
    val ts = format_string("%.3f", col("__ts").cast("double"))
    val ipData = element_at(col("data_arr"), 1)
    val ipJson = splice(to_json(struct(
      col("cidr"),
      placeholder(ipData).as("data"),
      col("match_type"),
      col("value").as("matched_text"),
      col("prefix_len"),
      lit(sourcePath).as("source"),
      ts.as("timestamp"))), "data", ipData)
    val patData =
      concat(lit("["), array_join(col("data_arr"), ",", "null"), lit("]"))
    val patJson = splice(to_json(struct(
      placeholder(patData).as("data"),
      col("match_type"),
      col("value").as("matched_text"),
      col("pattern_count"),
      lit(sourcePath).as("source"),
      ts.as("timestamp"))), "data", patData)
    grouped
      .select(when(col("match_type") === "ip", ipJson).otherwise(patJson)
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** A string member's stand-in for JSON text spliced in later: U+0001,
    * which `to_json` writes as `\u0001`; null (member omitted) where the
    * text is null.
    */
  private def placeholder(text: Column): Column =
    when(text.isNotNull, lit("\u0001"))

  /** `json` with its `field` member's [[placeholder]] replaced by the JSON
    * text in `text`. The placeholder cannot occur elsewhere in the line:
    * inside a JSON string every quote is escaped.
    */
  private def splice(json: Column, field: String, text: Column): Column =
    replace(json, lit(s""""$field":"\\u0001""""),
      concat(lit(s""""$field":"""), coalesce(text, lit(""))))

  /** Extract sink (S11): candidate dump as json/csv/text with optional
    * dedup on value (extract_cmd.rs:133-137, 241-271).
    */
  def extractDump(cands: DataFrame, path: String, format: String,
      unique: Boolean): Unit = {
    val base = cands.select(col("indicator_type").as("type"), col("value"))
    val out = if (unique) base.dropDuplicates("value") else base
    format match {
      case "json" =>
        out.select(to_json(struct(col("type"), col("value"))).as("v"))
          .write.mode(SaveMode.Overwrite).text(path)
      case "csv" =>
        out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      case "text" =>
        out.select(col("value")).write.mode(SaveMode.Overwrite).text(path)
      case other => throw new IllegalArgumentException(other)
    }
  }
}
