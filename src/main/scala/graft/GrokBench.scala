package graft

import graft.functions.GrokParse
import org.apache.spark.unsafe.types.UTF8String

/** Expression-level micro-benchmark for `grok_parse`: drives
  * GrokParse.matchGroups directly in a plain JVM loop (no Spark session,
  * no scheduling) to isolate the per-line parse cost: one anchored
  * java.util.regex match producing all fields, vs the m-matches-per-row
  * cost a per-field `regexp_extract` chain pays. Args: [nLines] [seconds].
  */
object GrokBench {
  private val Pat = "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} " +
    "user=%{INT:user} type=%{WORD:type} cents=%{INT:cents} " +
    "msg=%{QUOTEDSTRING:msg}"

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val secs = if (args.length > 1) args(1).toInt else 8
    val compiled = GrokParse.compile(Pat)
    val pattern = java.util.regex.Pattern.compile(compiled.regex)
    val texts = new Array[UTF8String](n)
    var bytes = 0L
    var i = 0
    while (i < n) {
      // 4/5 parse, 1/5 dead-letter — a realistic mixed stream
      val line =
        if (i % 5 == 4) s"malformed garbage line $i with no structure"
        else f"2024-01-${i % 28 + 1}%02dT12:34:${i % 60}%02d INFO " +
          f"user=${i % 1000} type=click cents=${i * 7 % 10000} " +
          f"""msg="evt-$i region-${i % 50}""""
      texts(i) = UTF8String.fromString(line)
      bytes += texts(i).numBytes()
      i += 1
    }
    println(f"corpus: $n lines, ${bytes / 1e6}%.1f MB, 20%% dead-letter")
    // warm
    var w = 0
    while (w < 2) {
      i = 0; while (i < n) { GrokParse.matchGroups(texts(i), pattern); i += 1 }
      w += 1
    }
    val t0 = System.nanoTime()
    var lines = 0L
    var matched = 0L
    var by = 0L
    while ((System.nanoTime() - t0) / 1e9 < secs) {
      i = 0
      while (i < n) {
        if (GrokParse.matchGroups(texts(i), pattern) != null) matched += 1
        by += texts(i).numBytes(); lines += 1; i += 1
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"grok_parse: ${lines / dt / 1e6}%.2f M lines/s, " +
      f"${by / dt / 1e6}%.1f MB/s single-thread " +
      f"(${100.0 * matched / lines}%.1f%% matched)")
  }
}
