package graft.pipeline

import graft.functions.IntelLookupMulti
import graft.intel.IntelDb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Allowlist suppression — the negative-feed composition every production
  * matcher deploys: a benign-infrastructure database (corporate CIDRs,
  * CDN domains, known-good hashes) whose entries VETO matches from the
  * threat feeds. The reference expresses this as a second database the
  * operator queries per hit; here it is one declarative filter over the
  * match stream — a matched row survives iff its observed VALUE has no
  * hit in any allowlist database (CIDR longest-prefix semantics for ips,
  * literal/glob semantics for strings — the full L2/L3/L4 lookup family,
  * so `10.15.0.0/16` suppresses every `10.15.x.y` match the way an ip
  * allowlist must).
  *
  * Shape: the allowlist probe is the SAME broadcast-compiled-db
  * expression the scan itself uses ([[graft.functions.IntelLookupMulti]]
  * over a [[graft.intel.BcHandle]]-broadcast [[IntelDb]]) — a map-side
  * codegen'd filter with ZERO shuffle and O(feed) broadcast bytes, so
  * suppression adds nothing to the flagship plan's exchange structure at
  * any scale. Suppression is VALUE-level by design: if a value is benign
  * it is benign at every span and in every turn (per-span suppression
  * would re-admit the same CDN domain found at a different offset —
  * never what an allowlist means).
  */
object Suppression {

  /** Matched rows whose value no allowlist database can answer.
    *
    * @param matched [[ScanJob.matched]]-shaped
    *                rows carrying (indicator_type, value)
    * @param allow   allowlist databases (entries veto by value)
    */
  def applyAllowlist(matched: DataFrame, allow: Seq[IntelDb]): DataFrame = {
    require(allow.nonEmpty, "at least one allowlist database")
    matched.where(size(IntelLookupMulti.column(
      col("value"), col("indicator_type"), allow)) === lit(0))
  }
}
