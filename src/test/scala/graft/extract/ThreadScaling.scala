package graft.extract

import graft.pipeline.Fixtures
import java.util.concurrent.atomic.AtomicLong

/** Pure-JVM thread-scaling probe (no Spark): raw scanner throughput at T
  * threads over deterministic fixture texts. Separates "the machine/JVM
  * stops scaling past N threads" from "Spark overhead stops scaling".
  * Times the production scan (`scanSpans`, no candidate Strings).
  */
object ThreadScaling {
  def run(threads: Int, seconds: Double): Double = {
    val scanner = IocScanner.default
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val total = new AtomicLong(0)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val scr = new IocScanner.ScanScratch
        var i = t.toLong * 10000000L
        var n = 0L
        var found = 0L
        while (System.nanoTime() < stop) {
          val text = Fixtures.text(i)
          val bytes = text.getBytes("UTF-8")
          found += scanner.scanSpans(bytes, bytes.length, scr).n
          i += 1; n += 1
        }
        require(found >= 0)
        total.addAndGet(n)
        ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get() / seconds
  }

  /** Pure-arithmetic loop (no allocation, no memory traffic): isolates raw
    * CPU scaling from cache/memory/GC effects.
    */
  def runArith(threads: Int, seconds: Double): Double = {
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val total = new AtomicLong(0)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = t.toLong + 1
        var n = 0L
        while (System.nanoTime() < stop) {
          var k = 0
          while (k < 100000) { x = Fixtures.mix(x); k += 1 }
          n += 100000
        }
        require(x != 0)
        total.addAndGet(n)
        ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get() / seconds
  }

  def main(args: Array[String]): Unit = {
    // warm
    run(4, 3.0); runArith(4, 2.0)
    val a8 = runArith(8, 5.0)
    val a32 = runArith(32, 5.0)
    println(f"ARITH a8=$a8%.0f a32=$a32%.0f eff=${(a32 / a8) / 4.0}%.3f")
    val t8 = run(8, 6.0)
    val t32 = run(32, 6.0)
    val t8b = run(8, 6.0)
    val t32b = run(32, 6.0)
    val low = math.max(t8, t8b); val high = math.max(t32, t32b)
    println(f"THREADSCALE t8=$t8%.0f t8b=$t8b%.0f t32=$t32%.0f t32b=$t32b%.0f eff=${(high / low) / 4.0}%.3f")
  }
}
