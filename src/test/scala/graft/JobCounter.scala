package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of driver code starts. */
object JobCounter {

  /** `body`'s result and the number of jobs it started. Listener events
    * arrive asynchronously but in order, so a marker job (in its own job
    * group) is run after `body`: once its start is seen, every earlier job
    * start has been counted.
    */
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"job-counter-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains(marker)) markerSeen.countDown()
        else started.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobGroup(marker, "job counter marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "the marker job's start event never arrived")
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
