package graft.props

/** A property report that sbt's JUnit XML listener can write: it stops
  * with `MalformedInputException` on an unpaired surrogate, so each one is
  * escaped (as `\uD83D`). Paired surrogates stay as they are.
  */
object PropReport {
  def apply(report: String): String =
    report.codePoints.toArray.map { cp =>
      if (Character.getType(cp) == Character.SURROGATE) f"\\u$cp%04X"
      else new String(Character.toChars(cp))
    }.mkString
}
