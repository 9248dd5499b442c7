package perfbench

import scala.jdk.CollectionConverters._

import graft.api.Engine
import graft.model.{ScoredChunk, SearchOptions}

/** `serve`: a closed loop of two clients over a warm IVF workspace. Each
  * client replays its own generated script of searches, deep dives and
  * clicks until the run's time is up. */
object Serve {
  val Opts = SearchOptions(annMode = "ivf", annCells = 16, annProbes = 3, benchmarkMode = true)
  val K = 5
  val Setups = 3
  // the clients serve this long before the timed window opens, so that the
  // window does not time the serving path's first, still-compiling calls
  val WarmupS = 3

  final case class Op(kind: String, query: String, needle: Option[String], rank: Int)

  /** Results are well formed: ids of corpus documents, finite scores in
    * descending order. */
  def wellFormed(rs: Seq[ScoredChunk], docIds: Set[String]): Boolean =
    rs.size <= K && rs.forall(r => docIds.contains(r.docId) && !r.score.isNaN) &&
      rs.zip(rs.drop(1)).forall { case (a, b) => a.score >= b.score }

  /** The share of a search [startNs, endNs) that ran inside the window
    * [fromNs, toNs): throughput counts a search that straddles an edge of
    * the window by the part it ran inside. */
  def windowShare(startNs: Long, endNs: Long, fromNs: Long, toNs: Long): Double =
    math.max(0L, math.min(endNs, toNs) - math.max(startNs, fromNs)).toDouble /
      math.max(1L, endNs - startNs)

  /** Open a fresh IVF workspace, index `docsPath` and serve one search:
    * the set-up a user pays before the first answer. */
  def setUp(ctx: Ctx, root: String, name: String, docsPath: String, warmQuery: String): Engine = {
    val engine = ctx.span("api.open")(Engine.open(ctx.spark, root, name, Opts))
    ctx.span("api.index")(engine.index(ctx.spark.read.parquet(docsPath)))
    ctx.span("api.search")(engine.search(warmQuery, K))
    engine
  }

  /** Set up `Setups` times; keep the last engine, report the median. */
  def setUpRepeated(ctx: Ctx, tag: String, docsPath: String, warmQuery: String): (Engine, Seq[Double]) = {
    val root = s"${ctx.work}/$tag"
    var engine: Engine = null
    val times = (1 to Setups).map { i =>
      if (engine != null) engine.close(deleteWorkspace = true)
      val (t, e) = Main.timed(setUp(ctx, root, s"ws$i", docsPath, warmQuery))
      engine = e
      Main.phase(s"setup $i")
      t
    }
    ctx.out.metric("setup_s", Stats.median(times), "s", times.size)
    (engine, times)
  }

  def run(ctx: Ctx): WorkloadRun = {
    val spec = Main.readJson(s"${ctx.inputs}/serve.json")
    val needles = spec.get("needles").fields.asScala.map(e => e.getKey -> e.getValue.asLong.toString).toMap
    val scripts = spec.get("clients").elements.asScala.map(_.elements.asScala.map { o =>
      Op(o.get("op").asText, Option(o.get("query")).map(_.asText).getOrElse(""),
        Option(o.get("needle")).map(_.asText), Option(o.get("rank")).map(_.asInt).getOrElse(0))
    }.toVector).toVector
    val docsPath = s"${ctx.inputs}/corpus/documents.parquet"
    val docIds = ctx.spark.read.parquet(docsPath).select("doc_id").collect()
      .map(_.get(0).toString).toSet

    val (engine, _) = setUpRepeated(ctx, "serve", docsPath, "summary of the corpus")

    val search, deepDive, click, postClick = new Samples
    val inWindow = new java.util.concurrent.atomic.DoubleAdder
    var needleHits, needleQueries = 0
    val opens = System.nanoTime() + WarmupS * 1000000000L
    val deadline = opens + ctx.seconds * 1000000000L
    val clients = scripts.zipWithIndex.map { case (script, c) =>
      new Thread(() => {
        var prev: Option[(String, Seq[ScoredChunk])] = None
        var afterClick = false
        var i = 0
        while (System.nanoTime() < deadline) {
          val op = script(i % script.size)
          i += 1
          val timed = System.nanoTime() >= opens
          val ok = try op.kind match {
            case "search" =>
              val s = System.nanoTime()
              val rs = ctx.span("serve.request")(ctx.span("api.search")(engine.search(op.query, K)))
              val e = System.nanoTime()
              if (timed) search.add((e - s) / 1e6)
              if (afterClick) postClick.add((e - s) / 1e6)
              inWindow.add(Serve.windowShare(s, e, opens, deadline))
              afterClick = false
              prev = Some(op.query -> rs)
              val hit = op.needle.forall(n => rs.exists(_.docId == needles(n)))
              op.needle.foreach { _ => synchronized { needleQueries += 1; if (hit) needleHits += 1 } }
              wellFormed(rs, docIds) && hit
            case "deep_dive" =>
              val s = System.nanoTime()
              val claims = ctx.span("serve.request")(ctx.span("api.deep_dive")(engine.deepDive(op.query)))
              deepDive.add((System.nanoTime() - s) / 1e6)
              claims.forall(c => !c.confidence.isNaN)
            case "click" =>
              prev.filter(_._2.nonEmpty) match {
                case Some((q, rs)) =>
                  val s = System.nanoTime()
                  ctx.span("serve.request")(ctx.span("feedback.click")(
                    engine.recordClick(rs(op.rank % rs.size).id, q)))
                  click.add((System.nanoTime() - s) / 1e6)
                  afterClick = true
                  true
                case None => true // nothing to click yet: the op is skipped
              }
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] client $c ${op.kind} failed: $e")
              false
          }
          ctx.out.op(ok)
        }
      }, s"serve-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    Main.phase("serve")

    val s = search.values
    val out = ctx.out
    out.metric("op_p50_ms", Stats.median(s), "ms", s.size)
    out.metric("op_p90_ms", Stats.quantile(s, 0.9), "ms", s.size)
    val qps = inWindow.sum / ctx.seconds
    out.metric("ops_per_s", qps, "1/s", s.size)
    out.metric("search_p50_ms", Stats.median(s), "ms", s.size)
    out.metric("search_p90_ms", Stats.quantile(s, 0.9), "ms", s.size)
    out.metric("search_qps", qps, "1/s", s.size)
    if (deepDive.size > 0) out.metric("deep_dive_p50_ms", Stats.median(deepDive.values), "ms", deepDive.size)
    if (s.size < 100) println(s"[perfbench] note: ${s.size} searches, fewer than 10 beyond p90")
    out.check("serve.needles_found", needleHits == needleQueries, s"$needleHits/$needleQueries in top $K")
    if (ctx.traced) {
      if (needleQueries > 0) out.metric("search.needle_hit_ratio", needleHits.toDouble / needleQueries, "ratio", needleQueries)
      if (click.size > 0) out.metric("feedback.click_ms", Stats.median(click.values), "ms", click.size)
      if (postClick.size > 0) out.metric("feedback.post_click_search_ms", Stats.median(postClick.values), "ms", postClick.size)
    }
    Main.retainedHeap(ctx)
    if (!ctx.traced) engine.close(deleteWorkspace = true)
    WorkloadRun(Stats.median(s), qps,
      ProbeInput(docsPath, scripts.flatten.filter(_.kind == "search").map(_.query).take(200),
        if (ctx.traced) Some(engine) else None))
  }
}
