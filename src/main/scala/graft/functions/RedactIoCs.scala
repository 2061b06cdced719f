package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression: `redact_iocs(text)` returns the text with every
  * extracted indicator span replaced by a typed placeholder
  * (`[REDACTED:ipv4]`, `[REDACTED:email]`, …) — the scrubbing step a
  * training-data pipeline runs over transcripts before the text reaches a
  * model: ONE scanner pass (identical candidate semantics to
  * `extract_iocs`, so what gets redacted is exactly what gets extracted),
  * byte-exact splicing on the UTF-8 span offsets, everything else
  * preserved verbatim.
  *
  * Overlapping spans (the email/email-domain double extraction, e.g.
  * `a@b.org` emitting both the email and the contained `b.org` domain)
  * collapse under a greedy leftmost-longest rule: spans sorted by
  * (start asc, end desc), a span is kept iff it starts at or after the
  * previous kept span's end — deterministic, and the outermost indicator
  * wins the placeholder.
  *
  * Scale shape: map-side, zero shuffle, stays inside whole-stage codegen
  * (static-call doGenCode like the other scan expressions).
  */
case class RedactIoCs(child: Expression, config: ScanConfig)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val scanner = new IocScanner(config)

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "redact_iocs"

  override def nullSafeEval(input: Any): Any =
    RedactIoCs.redact(scanner, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RedactIoCs.redact($scannerRef, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RedactIoCs =
    copy(child = newChild)
}

object RedactIoCs {
  // placeholder bytes per IocScanner.Kind, precomputed (ASCII)
  private val placeholder: Array[Array[Byte]] =
    IocScanner.Kind.names.map(t => s"[REDACTED:$t]".getBytes("US-ASCII"))

  /** Static entry point shared by interpreted eval and generated code. */
  def redact(scanner: IocScanner, text: UTF8String): UTF8String = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    val sp = scanner.scanSpans(buf, len, scr.scan)
    val n = sp.n
    if (n == 0) return text
    // spans by (start asc, end desc), ties in emission order (a stable
    // sort): greedy keep => leftmost-longest, contained/overlapping later
    // spans dropped
    val order = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) =>
      if (sp.start(a) != sp.start(b)) Integer.compare(sp.start(a), sp.start(b))
      else Integer.compare(sp.end(b), sp.end(a)))
    val out = new java.io.ByteArrayOutputStream(len + 16 * n)
    var cur = 0
    var i = 0
    while (i < n) {
      val m: Int = order(i)
      if (sp.start(m) >= cur) {
        out.write(buf, cur, sp.start(m) - cur)
        out.write(placeholder(sp.kind(m)))
        cur = sp.end(m)
      } else if (sp.end(m) > cur) {
        // PARTIALLY-overlapping dropped span (reachable with word
        // boundaries off): its overhanging tail is still part of a
        // detected indicator — extend the redacted region instead of
        // copying those bytes verbatim into the "scrubbed" output
        cur = sp.end(m)
      }
      i += 1
    }
    out.write(buf, cur, len - cur)
    UTF8String.fromBytes(out.toByteArray)
  }
}
