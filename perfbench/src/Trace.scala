package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span tag. */
final class Work {
  val jobs, stages, tasks, shuffleBytes, spillBytes, runMs = new LongAdder
}

/** Benchmark-owned listener: counts jobs, stages, tasks, shuffle bytes
  * written, spilled bytes and task run time per span tag. A span tags the
  * Spark jobs its thread submits through the local property [[Tag]].
  */
final class SparkCounter extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Work]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def work(tag: String): Work = byTag.computeIfAbsent(tag, _ => new Work)
  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(SparkCounter.Tag)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { t =>
      work(t).jobs.increment()
      e.stageIds.foreach(stageTag.put(_, t))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tagOf(e.properties).foreach(t => work(t).stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val w = work(t)
      w.tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        w.runMs.add(m.executorRunTime)
        w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** Sum of the counts of every tag accepted by `p`. */
  def sum(p: String => Boolean)(f: Work => LongAdder): Long =
    byTag.asScala.collect { case (t, w) if p(t) => f(w).sum() }.sum
}

object SparkCounter {
  val Tag = "perfbench.span"
}

/** One timed statement: its kind (`write.create`, `read.readback`,
  * `search.vector`, `algo.pagerank`, …), wall time, per-phase times when
  * traced, and the span tag its Spark jobs carry.
  */
final case class Op(kind: String, ms: Double, phases: Map[String, Double],
    tag: String, failed: Boolean)

/** Span recorder. Untraced, a statement is timed as one call; traced, its
  * public phases are timed apart (parse, plan, Catalyst planning,
  * execution) and their Spark jobs are tagged `<op>:<phase>`.
  */
final class Tracer(val sc: SparkContext, val traced: Boolean) {
  val counter: Option[SparkCounter] =
    if (traced) { val c = new SparkCounter; sc.addSparkListener(c); Some(c) } else None
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

  def nextTag(kind: String): String = s"${seq.incrementAndGet()}.$kind"

  /** Run `f` with the calling thread's Spark jobs tagged `tag`. */
  def tagged[A](tag: String)(f: => A): A = {
    sc.setLocalProperty(SparkCounter.Tag, tag)
    try f finally sc.setLocalProperty(SparkCounter.Tag, null)
  }

  /** Time `f` as span `phase` of op `tag`; returns (result, ms). */
  def span[A](tag: String, phase: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tagged(s"$tag:$phase")(f)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def record(op: Op): Unit = ops.add(op)
  /** Count an op as failed after the fact: its answer was wrong in a way
    * the program gets wrong every time (see the workload's check).
    */
  def markFailed(tag: String): Unit = ops.asScala.find(_.tag == tag).foreach { o =>
    ops.remove(o); ops.add(o.copy(failed = true))
  }
  def all: Seq[Op] = ops.asScala.toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  private def opsOf(kindPrefix: String, withFailed: Boolean = false): Seq[Op] =
    all.filter(o => o.kind.startsWith(kindPrefix) && (withFailed || !o.failed))

  /** Spark counts of every phase of the ops whose kind starts with the
    * prefix (or of one phase, when given), failed ops included.
    */
  def work(kindPrefix: String, phase: String = "")(f: Work => LongAdder): Long =
    counter.map { c =>
      val tags = opsOf(kindPrefix, withFailed = true).map(_.tag).toSet
      c.sum(t => {
        val i = t.lastIndexOf(':')
        i > 0 && tags.contains(t.substring(0, i)) &&
          (phase.isEmpty || t.substring(i + 1) == phase)
      })(f)
    }.getOrElse(0L)

  def latencies(kindPrefix: String, withFailed: Boolean = false): Seq[Double] =
    opsOf(kindPrefix, withFailed).map(_.ms)
  def phase(kindPrefix: String, name: String): Seq[Double] =
    opsOf(kindPrefix).flatMap(_.phases.get(name))
}

object Stats {
  /** Median, the mean of the two middle samples for an even count; 0 for
    * no samples.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
