package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AccountingSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long, name: String = "s") =
    Span(id, if (parent == 0) id else 1L, parent, name, probe = false, start, end)
  private def job(id: Int, span: Long, start: Long, end: Long, tasks: Long = 1) =
    JobRecord(id, Some(span), start, end, tasks, 0L, 0L, 0L)

  test("covered length is the union of overlapping intervals, clipped to the window") {
    // [10,40) ∪ [30,60) ∪ [50,55) = [10,60); [80,90) separately; [95,200) clips to [95,100)
    val ivs = Seq((30L, 60L), (10L, 40L), (50L, 55L), (80L, 90L), (95L, 200L))
    assert(Intervals.covered(ivs, 0L, 100L) === 50L + 10L + 5L)
    assert(Intervals.covered(Nil, 0L, 100L) === 0L)
    assert(Intervals.covered(Seq((120L, 130L)), 0L, 100L) === 0L)
  }

  test("driver gap is wall time minus the union of job intervals, not their sum") {
    // three overlapping jobs inside a 100-unit call: their summed lengths
    // (30 + 30 + 10 = 70) overstate the covered 40 units
    val jobs = Seq((10L, 40L), (20L, 50L), (40L, 50L))
    assert(Intervals.uncovered(jobs, 0L, 100L) === 60L)
    // a job that started before the call only counts from its start
    assert(Intervals.uncovered(Seq((-50L, 20L)), 0L, 100L) === 80L)
    // touching intervals merge without double counting
    assert(Intervals.uncovered(Seq((0L, 50L), (50L, 100L)), 0L, 100L) === 0L)
  }

  test("self time subtracts nested and overlapping children once") {
    val root = span(1, 0, 0, 100)
    // two children overlapping each other on [30,40), a third disjoint one
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 70, 80))
    assert(SpanReport.selfNs(root, kids) === 100L - 50L - 10L)
    // a grandchild lies inside its parent: it does not reduce the root again
    val all = kids :+ span(5, 2, 15, 25)
    val (stats, _) = SpanReport.stats(root +: all, Nil)
    assert(stats.find(_.span.id == 1).get.selfNs === 40L)
    assert(stats.find(_.span.id == 2).get.selfNs === 20L)
  }

  test("jobs roll up to ancestors, and a job outside its span's lifetime is stray") {
    val ms = 1000000L
    val spans = Seq(span(1, 0, 0, 100 * ms), span(2, 1, 10 * ms, 50 * ms))
    val jobs = Seq(
      job(0, 2, 12 * ms, 30 * ms, tasks = 4),
      job(1, 2, 20 * ms, 40 * ms, tasks = 2),
      job(2, 1, 60 * ms, 70 * ms, tasks = 1),
      job(3, 2, 90 * ms, 95 * ms)) // tag inherited by a thread outliving span 2
    val (stats, stray) = SpanReport.stats(spans, jobs)
    assert(stray.map(_.jobId) === Seq(3))
    val child = stats.find(_.span.id == 2).get
    assert((child.jobs, child.tasks) === ((2, 6L)))
    assert(child.driverGapNs === 40 * ms - 28 * ms)
    val root = stats.find(_.span.id == 1).get
    assert((root.jobs, root.tasks) === ((3, 7L)))
    assert(root.driverGapNs === 100 * ms - 28 * ms - 10 * ms)
  }

  test("a search straddling an edge of the window counts by the share it ran inside") {
    assert(Serve.windowShare(20L, 50L, 10L, 100L) === 1.0)
    assert(Serve.windowShare(80L, 120L, 10L, 100L) === 0.5)
    assert(Serve.windowShare(0L, 40L, 10L, 100L) === 0.75)
    assert(Serve.windowShare(100L, 140L, 10L, 100L) === 0.0)
  }

  test("an untraced tracer only runs the body") {
    val t = new Tracer(None)
    assert(t.span("x")(41 + 1) === 42)
    assert(t.all.isEmpty)
  }
}
