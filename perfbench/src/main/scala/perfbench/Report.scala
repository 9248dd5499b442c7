package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Linear-interpolated quantiles (numpy's default). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}

/** A latency sample stream shared by client threads. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[Double]()
  def add(v: Double): Unit = q.add(v)
  def values: Seq[Double] = q.asScala.toSeq
  def size: Int = q.size
}

/** What one invocation measured and checked. Operations count toward
  * `attempted`; an operation that threw or whose output failed a check
  * counts toward `failed`. Named checks are printed one per line. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val checks = new ConcurrentLinkedQueue[(String, Boolean, String)]()
  private val metrics = new ConcurrentLinkedQueue[(String, Double, String, Int)]()

  /** Record one operation's result. */
  def op(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
  }

  /** A named correctness check; it is also one attempted operation. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    op(ok)
    checks.add((name, ok, detail))
  }

  def metric(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics.add((name, value, unit, samples))

  def metricValues: Seq[(String, Double, String, Int)] = metrics.asScala.toSeq
  def checkValues: Seq[(String, Boolean, String)] = checks.asScala.toSeq
  def correct: Boolean = failed.get == 0

  /** Report lines, then the one-line JSON result with the `emit` metrics. */
  def print(emit: Seq[String]): Unit = {
    checkValues.foreach { case (n, ok, d) =>
      println(s"[perfbench] check $n ${if (ok) "PASS" else "FAIL"}${if (d.nonEmpty) " " + d else ""}")
    }
    metricValues.foreach { case (n, v, u, k) =>
      println(f"[perfbench] metric $n%-40s ${Json.num(v)}%s $u%s (n=$k%d)")
    }
    println(s"[perfbench] operations attempted=${attempted.get} failed=${failed.get}")
    val byName = metricValues.map(m => m._1 -> m).toMap
    val missing = emit.filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = emit.map { n =>
      val (_, v, u, _) = byName(n)
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    println(s"""{"correct": $correct, "attempted": ${attempted.get}, "failed": ${failed.get}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}
