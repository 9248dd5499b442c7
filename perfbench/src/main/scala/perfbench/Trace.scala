package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Epoch nanoseconds from a monotonic source, so span times line up with
  * the listener's epoch-millisecond job times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** One call the benchmark made into a layer. `parent` is 0 for a root
  * span; spans of one request share `trace`. `probe` marks spans recorded
  * by the traced run's layer probe rather than by the workload itself. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    probe: Boolean, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Off (`sc = None`), [[span]] only runs its body. On, it
  * records the span in memory and tags every Spark job the calling thread
  * (and any thread it starts) submits meanwhile with the span id. */
final class Tracer(sc: Option[SparkContext]) {
  val enabled: Boolean = sc.isDefined
  @volatile var probe = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      val prevTag = ctx.getLocalProperty(JobLedger.SpanKey)
      ctx.setLocalProperty(JobLedger.SpanKey, id.toString)
      stack.set((id, trace) :: outer)
      val t0 = Clock.nowNs
      try body
      finally {
        val t1 = Clock.nowNs
        stack.set(outer)
        ctx.setLocalProperty(JobLedger.SpanKey, prevTag)
        spans.add(Span(id, if (parent == 0L) id else trace, parent, name, probe, t0, t1))
      }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Per-span accounting: the span's own and its descendants' jobs, and the
  * time arithmetic on them. */
final case class SpanStats(span: Span, selfNs: Long, jobs: Int, tasks: Long, taskNs: Long,
    driverGapNs: Long, shuffleBytes: Long)

object SpanReport {
  /** Self time of `s`: its duration minus the part of it that its direct
    * children cover (overlapping children count once). */
  def selfNs(s: Span, children: Seq[Span]): Long =
    Intervals.uncovered(children.map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)

  /** Jobs are filed under the span tag they carried, but a tag can outlive
    * its span: a thread started inside a span inherits the tag for good.
    * A job counts only if it started while its span was open (the
    * listener's times are whole milliseconds, hence the slack). */
  private val SlackNs = 1000000L

  def stats(spans: Seq[Span], jobs: Seq[JobRecord]): (Seq[SpanStats], Seq[JobRecord]) = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.filter(_.parent != 0L).groupBy(_.parent)
    val (valid, stray) = jobs.partition(j => j.span.flatMap(byId.get).exists(s =>
      j.startNs >= s.startNs - SlackNs && j.startNs <= s.endNs + SlackNs))
    val direct = valid.groupBy(_.span.get)
    def subtree(id: Long): Seq[JobRecord] =
      direct.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val out = spans.map { s =>
      val js = subtree(s.id)
      SpanStats(s, selfNs(s, children.getOrElse(s.id, Nil)), js.size, js.map(_.tasks).sum,
        js.map(_.taskNs).sum, Intervals.uncovered(js.map(j => (j.startNs, j.endNs)), s.startNs, s.endNs),
        js.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum)
    }
    (out, stray)
  }

  /** The span file: one JSON object per line. */
  def write(path: String, stats: Seq[SpanStats]): Unit = {
    val lines = stats.map { st =>
      val s = st.span
      s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""probe":${s.probe},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${st.selfNs},""" +
        s""""jobs":${st.jobs},"tasks":${st.tasks},"task_ns":${st.taskNs},""" +
        s""""driver_gap_ns":${st.driverGapNs},"shuffle_bytes":${st.shuffleBytes}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}
