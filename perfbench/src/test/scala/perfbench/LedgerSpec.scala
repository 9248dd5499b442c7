package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  test("the ledger registers once, files jobs under the calling span, and drains before reading") {
    val spark = SparkSession.builder().master("local[2]").appName("ledger-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val sc = spark.sparkContext
      val ledger = new JobLedger
      JobLedger.install(sc, ledger)
      JobLedger.install(sc, ledger)
      assert(org.apache.spark.PerfbenchBus.listeners(sc).count(_ eq ledger) === 1)

      val tracer = new Tracer(Some(sc))
      tracer.span("outer") {
        tracer.span("inner")(spark.range(0, 1000, 1, 3).count())
        spark.range(10).count()
      }
      spark.range(5).count() // outside any span
      JobLedger.drain(sc)
      val (stats, _) = SpanReport.stats(tracer.all, ledger.jobs)
      val inner = stats.find(_.span.name == "inner").get
      val outer = stats.find(_.span.name == "outer").get
      assert(inner.jobs >= 1 && inner.tasks >= 3)
      assert(outer.jobs > inner.jobs)
      assert(outer.driverGapNs >= 0 && outer.driverGapNs <= outer.span.durNs)
      assert(ledger.jobs.exists(_.span.isEmpty))
      assert(sc.getLocalProperty(JobLedger.SpanKey) === null)

      JobLedger.remove(sc, ledger)
      assert(!org.apache.spark.PerfbenchBus.listeners(sc).exists(_ eq ledger))
    } finally spark.stop()
  }
}
