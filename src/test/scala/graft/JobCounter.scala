package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Listener events arrive
  * asynchronously, so every reading runs a probe job and waits for the
  * count to settle; the probe's own job cost is measured first and
  * subtracted. */
object JobCounter {

  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var prev = -1; var cur = jobs.get; var spins = 0
      while (cur != prev && spins < 600) {
        prev = cur; Thread.sleep(25); cur = jobs.get; spins += 1
      }
      cur
    }
    def probe(): Int = { spark.range(3).count(); settled() }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = probe(); val b = probe()
      val probeCost = b - a
      assert(probeCost > 0, "listener sanity: a count() must launch jobs")
      val out = body
      val c = probe()
      (out, c - b - probeCost)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
