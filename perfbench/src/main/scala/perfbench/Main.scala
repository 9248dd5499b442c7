package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer (a no-op in an
  * untraced run), its generated inputs and a scratch directory. */
final case class Ctx(spark: SparkSession, tracer: Tracer, inputs: String, work: String,
    seconds: Int, out: Outcome) {
  def traced: Boolean = tracer.enabled
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** What a workload hands the layer probe of a traced run. */
final case class WorkloadRun(opP50Ms: Double, opsPerS: Double, probe: ProbeInput)

/** Benchmark entry point, launched by run.py:
  * `perfbench.Main --workload W --seconds S --trace 0|1 --inputs DIR
  *   --work DIR --emit m1,m2,... [--spans FILE]`. The seed stays with the
  * input generator: this process sees only the generated inputs. */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val emit = opt("emit").split(",").filter(_.nonEmpty).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val ledger = new JobLedger
    if (traced) JobLedger.install(sc, ledger)
    val tracer = new Tracer(if (traced) Some(sc) else None)
    val ctx = Ctx(spark, tracer, opt("inputs"), opt("work"), opt("seconds").toInt, new Outcome)
    val gc0 = gcSeconds
    phase("session")
    try {
      val run = workload match {
        case "serve" => Serve.run(ctx)
        case "curate" => Curate.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.out.metric("jvm.peak_rss_mb", peakRssMb, "MB")
      phase("workload")
      if (traced) {
        Probe.run(ctx, run.probe)
        JobLedger.drain(sc)
        val (stats, stray) = SpanReport.stats(tracer.all, ledger.jobs)
        opt.get("spans").foreach(SpanReport.write(_, stats))
        Layers.report(ctx, stats, run)
        ctx.out.metric("jvm.gc_s", gcSeconds - gc0, "s")
        println(s"[perfbench] spans=${stats.size} jobs=${ledger.jobs.size} " +
          s"unattributed_jobs=${stray.size}")
      }
      ctx.out.print(emit)
    } finally {
      if (traced) JobLedger.remove(sc, ledger)
      spark.stop()
    }
  }

  /** A progress line: seconds since the JVM started. */
  def phase(name: String): Unit =
    println(f"[perfbench] phase $name ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** Heap still in use after a full collection, in MiB: what the
    * workload's serving state (pinned caches, staged tables) keeps. */
  def retainedHeap(ctx: Ctx): Unit = {
    System.gc(); System.gc()
    ctx.out.metric("jvm.heap_retained_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB")
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Run `body` and return its wall seconds with its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  def readJson(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}
