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
    val extraField =
      // typed path: `extra_json` (the per-entry DataValue
      // rendering) parses to a VARIANT, which to_json serializes as raw
      // typed JSON — `"ttl":3600`, `"verified":true` — matching the
      // reference's serde DataValue serialization. The map fallback keeps
      // pre-round-5 frames (all-string extras) working.
      if (matched.columns.contains("extra_json"))
        when(col("extra_json").isNotNull, parse_json(col("extra_json")))
      else if (matched.columns.contains("extra"))
        when(size(col("extra")) > 0, col("extra"))
      else lit(null).cast("map<string,string>")
    val dataObj =
      if (inlineExtra) {
        require(matched.columns.contains("data_json"),
          "inlineExtra needs the data_json metadata column")
        parse_json(col("data_json"))
      } else struct(col("category"), col("confidence"),
        extraField.as("extra"), col("source"), col("threat_level"))
    val grouped = matched.withColumn("__ts", tsSeconds)
      .groupBy(col("conv_id"), col("turn_idx"), col("span_start"),
        col("value"), col("database_id"), col("match_type"),
        col("prefix_len"), col("cidr"), col("__ts"))
      .agg(count(lit(1)).cast("int").as("pattern_count"),
        transform(
          // array_sort with an explicit id comparator: the struct carries a
          // map (extra), which sort_array's natural ordering cannot order
          array_sort(collect_list(struct(col("entry_idx").as("i"),
            dataObj.as("d"))),
            (l, r) => when(l("i") < r("i"), -1)
              .when(l("i") > r("i"), 1).otherwise(0)),
          x => x.getField("d")).as("data_arr"))
    val ts = format_string("%.3f", col("__ts").cast("double"))
    val ipJson = to_json(struct(
      col("cidr"),
      element_at(col("data_arr"), 1).as("data"),
      col("match_type"),
      col("value").as("matched_text"),
      col("prefix_len"),
      lit(sourcePath).as("source"),
      ts.as("timestamp")))
    val patJson = to_json(struct(
      col("data_arr").as("data"),
      col("match_type"),
      col("value").as("matched_text"),
      col("pattern_count"),
      lit(sourcePath).as("source"),
      ts.as("timestamp")))
    grouped
      .select(when(col("match_type") === "ip", ipJson).otherwise(patJson)
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
  }

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
