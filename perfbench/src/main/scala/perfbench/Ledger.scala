package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Interval arithmetic shared by the job ledger (driver gap) and the span
  * report (self time): how much of a window a set of possibly overlapping
  * intervals covers. Overlaps count once — the union, never the sum. */
object Intervals {
  /** Length of the union of `ivs` clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Wall time of [lo, hi) not covered by any of `ivs`: a span's driver gap
    * (jobs as `ivs`) or its self time (child spans as `ivs`). */
  def uncovered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - covered(ivs, lo, hi)
}

/** One Spark job as the ledger saw it. Times are epoch nanoseconds (the
  * listener's millisecond event times, scaled) so they compare directly
  * with span times. */
final case class JobRecord(jobId: Int, span: Option[Long], startNs: Long, endNs: Long,
    tasks: Long, taskNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

/** Benchmark-owned job accounting. The calling thread tags its jobs with
  * the Spark local property [[JobLedger.SpanKey]] (see [[Tracer]]); the
  * listener files each job, its tasks, task time and shuffle bytes under
  * that span. */
final class JobLedger extends SparkListener {
  private final class Open(val span: Option[Long], val startNs: Long) {
    val tasks = new AtomicLong
    val taskNs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
  }
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRecord]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val span = Option(j.properties).flatMap(p => Option(p.getProperty(JobLedger.SpanKey)))
      .flatMap(_.toLongOption)
    open.put(j.jobId, new Open(span, j.time * 1000000L))
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).flatMap(id => Option(open.get(id))).foreach { o =>
      o.tasks.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        o.taskNs.addAndGet(m.executorRunTime * 1000000L)
        o.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        o.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(open.remove(j.jobId)).foreach { o =>
      done.add(JobRecord(j.jobId, o.span, o.startNs, j.time * 1000000L, o.tasks.get,
        o.taskNs.get, o.shuffleRead.get, o.shuffleWrite.get))
    }

  /** Every finished job so far. Call [[JobLedger.drain]] first so that
    * the events of jobs that already ended have been delivered. */
  def jobs: Seq[JobRecord] = done.asScala.toSeq
}

object JobLedger {
  val SpanKey = "perfbench.span"

  /** Register `ledger` on the session's context once: a second call with
    * the same ledger is a no-op. */
  def install(sc: SparkContext, ledger: JobLedger): Unit =
    if (!org.apache.spark.PerfbenchBus.listeners(sc).contains(ledger)) sc.addSparkListener(ledger)

  /** Block until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def remove(sc: SparkContext, ledger: JobLedger): Unit = {
    drain(sc)
    sc.removeSparkListener(ledger)
  }
}
