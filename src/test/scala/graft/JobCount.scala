package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches, for specs that bound a path's
  * job count. Jobs from other threads in the same window count too, so
  * those specs run their measured blocks alone.
  */
object JobCount {
  import TestSpark._

  private val jobs = new AtomicInteger(0)
  private lazy val listening: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  })

  def of(f: => Unit): Int = {
    listening
    TestBus.drain(spark.sparkContext)
    val j0 = jobs.get()
    f
    TestBus.drain(spark.sparkContext)
    jobs.get() - j0
  }
}
