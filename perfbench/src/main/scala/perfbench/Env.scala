package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark process: its Spark session (restartable at another core
  * count), its work directories, the tracer and the traced-run listener.
  */
final class Env(val root: File, val work: File, val cpus: Int, val seed: Long,
    val seconds: Double, val traced: Boolean) {

  val tracer = new Tracer(traced)
  val listener: Option[SparkTrace] = if (traced) Some(new SparkTrace) else None
  /** Jobs and stages of sessions that were already stopped. */
  val pastJobs = new ArrayBuffer[SparkTrace.Job]
  val pastStages = new ArrayBuffer[SparkTrace.Stage]
  var spark: SparkSession = _
  var cores: Int = 0

  def cacheDir: File = new File(work, "cache")
  def scratch(name: String): File = new File(new File(work, "scratch"), name)

  /** (Re)start the session with `n` cores; returns the seconds it took. */
  def start(n: Int): Double = {
    stop()
    val t0 = System.nanoTime
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val took = (System.nanoTime - t0) / 1e9
    cores = n
    listening = false
    listen(traced)
    tracer.attach(spark.sparkContext)
    took
  }

  private var listening = false

  /** Attach or detach the traced-run listener (a no-op when not traced). */
  def listen(on: Boolean): Unit = listener.foreach { l =>
    if (on && !listening) spark.sparkContext.addSparkListener(l)
    if (!on && listening) {
      Thread.sleep(200) // let the bus deliver the previous job's events
      spark.sparkContext.removeSparkListener(l)
    }
    listening = on
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    spark = null
    listener.foreach { l =>
      val (j, s) = l.snapshot()
      pastJobs ++= j; pastStages ++= s
      l.clear()
    }
  }

  /** Jobs and stages of all sessions so far, the live one included. */
  def allJobs: (Seq[SparkTrace.Job], Seq[SparkTrace.Stage]) = listener match {
    case None => (Nil, Nil)
    case Some(l) =>
      val (j, s) = l.snapshot()
      (pastJobs.toSeq ++ j, pastStages.toSeq ++ s)
  }
}

/** Heap in use just after a major GC, while `active`. A forced GC after
  * every timed operation gives one sample per operation; major collections
  * that happen on their own during an operation add theirs.
  */
object Heap {
  @volatile var active = false
  @volatile private var peak = 0L

  private val onGc = new NotificationListener {
    override def handleNotification(n: Notification, h: Any): Unit =
      if (active && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
            .map(_.getUsed).sum
          record(used)
        }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }

  private def record(used: Long): Unit = synchronized {
    if (used > peak) peak = used
  }

  def sample(): Unit = if (active) {
    System.gc()
    record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile over the sorted samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Seconds all collectors have spent, and seconds spent JIT-compiling. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}
