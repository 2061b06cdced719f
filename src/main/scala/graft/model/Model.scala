package graft.model

import java.sql.Timestamp

/** Core data model of the pipeline (SURVEY.md §1.1).
  *
  * One matchy "log line" (reference: crates/matchy/src/processing/mod.rs:78-83)
  * corresponds to one row of the transcript table — the `text` field of a turn.
  * Schema fixed by the driver contract (BASELINE.json input_hint).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** One extracted IoC candidate: reference `Match{item, span}`
  * (crates/matchy-extractor/src/lib.rs:315-321). `value` is the canonical
  * form (IPs canonicalized, everything else verbatim); `matched_text` is the
  * raw span text. Spans are byte offsets into the UTF-8 encoding of `text`.
  */
final case class Ioc(
    indicator_type: String,
    value: String,
    matched_text: String,
    span_start: Int,
    span_end: Int
)

/** Candidate row: (turn × extracted indicator). */
final case class Candidate(
    conv_id: String,
    turn_idx: Int,
    role: String,
    indicator_type: String,
    value: String,
    matched_text: String,
    span_start: Int,
    span_end: Int
)

/** A threat-intel entry after classification (reference
  * matchy-format/src/mmdb_builder.rs:392-429): entry_type in
  * {ip, literal, glob}. For IPs, `network`/`prefix_len` carry the parsed
  * CIDR. Metadata mirrors the ThreatDB v1 required/optional fields
  * (schemas/threatdb-v1.schema.json).
  */
final case class IntelEntry(
    entry: String,
    threat_level: String,
    category: String,
    source: String,
    confidence: Int,
    // Attribute-level metadata fidelity (MISP S8, reference
    // misp_importer.rs:884-925): the to_ids actionability bit, analyst
    // comment, attribute type, attribute unix timestamp and merged
    // event+attribute tags ride the per-entry metadata (IntelMetaRows) into
    // the matched output, so downstream filters like to_ids=true work.
    // Defaults = "absent" for non-MISP sources.
    to_ids: Option[Boolean] = None,
    comment: String = "",
    attr_type: String = "",
    attr_timestamp: Long = -1L,
    tags: String = "",
    // Dynamic per-entry metadata (reference: arbitrary HashMap<String,
    // DataValue> per entry, matchy-data-format/src/lib.rs:49-77): any feed
    // column OUTSIDE the fixed ThreatDB/MISP shape above survives here as
    // string key/values instead of being silently dropped, and rides the
    // per-entry metadata into the matched output + NDJSON sink.
    extra: Map[String, String] = Map.empty,
    // DataValue type tag per extra key (intel.DataValues tags: i32/u64/
    // f64/bool/str) — captured at ingest (CSV per-cell inference,
    // match_cmd.rs:83-93; JSON native types, cli_utils.rs:213-243) so the
    // NDJSON sink can render `"ttl":3600` typed, not `"ttl":"3600"`.
    // A key absent here is rendered via CSV-style re-inference.
    extra_types: Map[String, String] = Map.empty
)

/** Matched output row: reference `MatchResult`
  * (crates/matchy/src/processing/mod.rs:131-145) + routing keys.
  * match_type is "ip" or "pattern" as in the NDJSON sink
  * (bin/match_processor/sequential.rs:154-187).
  */
final case class Matched(
    conv_id: String,
    turn_idx: Int,
    role: String,
    indicator_type: String,
    value: String,
    matched_text: String,
    span_start: Int,
    span_end: Int,
    database_id: String,
    match_type: String,
    prefix_len: Int, // -1 for pattern matches
    pattern_id: Int, // the matched entry's index within its database —
    // for BOTH match types (the reference reports a pattern id for string
    // matches; ip matches carry their entry index here, not -1)
    threat_level: String,
    category: String,
    source: String,
    confidence: Int
)

object IndicatorType {
  val Domain = "domain"
  val Email = "email"
  val Ipv4 = "ipv4"
  val Ipv6 = "ipv6"
  val Md5 = "md5"
  val Sha1 = "sha1"
  val Sha256 = "sha256"
  val Sha384 = "sha384"
  val Sha512 = "sha512"
  val Bitcoin = "bitcoin"
  val Ethereum = "ethereum"
  val Monero = "monero"

  val all: Seq[String] = Seq(Domain, Email, Ipv4, Ipv6, Md5, Sha1, Sha256,
    Sha384, Sha512, Bitcoin, Ethereum, Monero)
}
