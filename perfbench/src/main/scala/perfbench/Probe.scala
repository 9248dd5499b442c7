package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit, size, sum, when}
import org.apache.spark.sql.streaming.Trigger

import graft.api.Engine
import graft.embed.{Embedder, HashNgramEmbedder}
import graft.ingest.TextChunker
import graft.search.{AnnIndex, IvfGenerator}
import graft.store.{ChunkStore, TokenIndex, Workspace}

/** What the traced run's layer probe works on: the workload's corpus, its
  * queries, and its engine when the workload ran one (left open for the
  * probe, which closes it). */
final case class ProbeInput(docsPath: String, queries: Seq[String], engine: Option[Engine],
    ranQueries: Boolean = false)

/** The traced run's layer probe. It times direct calls into the embed,
  * ingest, store and search layers over a slice of the workload's own
  * corpus; it drives a small engine of its own through the write path
  * (streamed wave, delete, compaction) and through each engine call or
  * batch query the workload itself did not make, so that a traced run of
  * any workload reports every layer. Its spans are marked
  * `probe`; a layer metric prefers the workload's own spans. */
object Probe {
  val SliceDocs = 300
  val Calls = 10
  val VisibleTimeoutS = 30

  def run(ctx: Ctx, in: ProbeInput): Unit = {
    ctx.tracer.probe = true
    val spark = ctx.spark
    import spark.implicits._
    val out = ctx.out
    val emb: Embedder = HashNgramEmbedder(dim = 64)
    val docs = spark.read.parquet(in.docsPath).orderBy("doc_id").limit(SliceDocs).cache()
    val texts = docs.select("text").as[String].collect().toSeq
    val queries = (if (in.queries.nonEmpty) in.queries else texts.map(_.split("\\s+").take(2).mkString(" ")))
      .take(Calls)

    // ingest: the chunker on the driver
    val (chunkS, chunks) = Main.timed(ctx.span("ingest.chunk")(texts.map(t => TextChunker.chunk(t))))
    out.metric("ingest.chunk_docs_per_s", texts.size / chunkS, "1/s", texts.size)
    // embed: one query at a time, and a chunk column through Spark
    val qus = queries.map { q =>
      val s = System.nanoTime(); ctx.span("embed.query")(emb.embed(q)); (System.nanoTime() - s) / 1e3
    }
    out.metric("embed.query_us", Stats.median(qus), "us", qus.size)
    val chunkDf = chunks.flatten.map(_.text).toDF("text")
    val (embS, _) = Main.timed(ctx.span("embed.chunks")(
      Embedder.embedText(chunkDf, "text", emb).agg(sum(size(col("embedding")))).head()))
    out.metric("embed.chunks_per_s", chunks.map(_.size).sum / embS, "1/s")

    // store: each build step on its own, on a scratch workspace
    val scratch = Workspace.open(spark, s"${ctx.work}/probe", "store")
    ctx.span("store.build_chunks")(ChunkStore.buildChunks(docs, emb).count())
    ctx.span("store.write_chunks")(scratch.writeChunks(ChunkStore.buildChunks(docs, emb)))
    val stored = scratch.readChunks()
    ctx.span("store.postings_build")(
      TokenIndex.write(TokenIndex.build(stored, "id", "text_chunk"), s"${ctx.work}/probe/postings"))
    ctx.span("store.ann_build")(AnnIndex.build(stored, "id", "embedding", Serve.Opts.annCells))

    val has = ctx.tracer.all.filterNot(_.probe).map(_.name).toSet
    val probeEngine = engineProbe(ctx, docs, has, queries)
    val engine = in.engine.getOrElse(probeEngine)

    // search: the candidate generators on their own over the persisted index
    val ws = engine.workspace
    ws.readAnnSnapshot().foreach { case (vectors, cents, codebook) =>
      val gen = new IvfGenerator(vectors, cents, Serve.Opts.annProbes, codebook)
      val ms = queries.map { q =>
        val qv = emb.embed(q)
        val s = System.nanoTime()
        ctx.span("search.ivf_candidates")(gen.candidates(qv, Serve.K * 4).collect())
        (System.nanoTime() - s) / 1e6
      }
      out.metric("search.ivf_candidates_ms", Stats.median(ms), "ms", ms.size)
    }
    val postings = ws.readPostings()
    val kms = queries.map { q =>
      val toks = q.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      val s = System.nanoTime()
      ctx.span("search.keyword_candidates")(TokenIndex.search(postings, toks, Serve.K * 4).collect())
      (System.nanoTime() - s) / 1e6
    }
    out.metric("search.keyword_candidates_ms", Stats.median(kms), "ms", kms.size)

    // the engine's own per-search audit, persisted in its retrieval log
    engine.flushRetrievalLog()
    val log = ws.readLog().select("latency_embed_ms", "latency_search_ms", "latency_fusion_ms")
      .as[(Double, Double, Double)].collect().toSeq
    out.metric("search.embed_ms", Stats.median(log.map(_._1)), "ms", log.size)
    out.metric("search.exec_ms", Stats.median(log.map(_._2)), "ms", log.size)
    out.metric("search.fusion_ms", Stats.median(log.map(_._3)), "ms", log.size)

    if (!in.ranQueries) Curate.names(ctx)
      .foreach(q => ctx.span(s"queries.$q")(Curate.call(spark, q, s"${ctx.inputs}/check")))

    in.engine.foreach(_.close(deleteWorkspace = true))
    probeEngine.close(deleteWorkspace = true)
    docs.unpersist()
    ctx.tracer.probe = false
  }

  /** A small IVF engine over the slice, driven through each facade call
    * the workload did not make, and through the write path no workload
    * times: a streamed wave (the generated `probe/wave.parquet`, whose
    * marker token is planted in one document), a delete and a compaction,
    * each checked. Planted probe tokens stand in for needles. */
  private def engineProbe(ctx: Ctx, docs: DataFrame, has: Set[String], queries: Seq[String]): Engine = {
    val spark = ctx.spark
    val out = ctx.out
    val spec = Main.readJson(s"${ctx.inputs}/probe/probe.json")
    val marker = spec.get("marker").asText
    val markerDoc = spec.get("marker_doc").asLong.toString
    val deletes = spec.get("deletes").elements.asScala.map(_.asLong.toString).toVector
    val needles = (0 until 5).map(i => s"pbneedle$i")
    val base = docs.withColumn("text", when(col("doc_id") % 60 === 0,
      concat(col("text"), lit(" pbneedle"), (col("doc_id") / 60).cast("long").cast("string")))
      .otherwise(col("text")))
    val engine = ctx.span("api.open")(Engine.open(spark, s"${ctx.work}/probe", "engine", Serve.Opts))
    ctx.span("api.index")(engine.index(base))
    val hits = needles.count { n =>
      val owner = (n.stripPrefix("pbneedle").toLong * 60).toString
      ctx.span("api.search")(engine.search(n, Serve.K)).exists(_.docId == owner)
    }
    if (!out.metricValues.exists(_._1 == "search.needle_hit_ratio"))
      out.metric("search.needle_hit_ratio", hits.toDouble / needles.size, "ratio", needles.size)
    queries.take(5).foreach(q => ctx.span("api.search")(engine.search(q, Serve.K)))
    queries.take(2).foreach(q => ctx.span("api.deep_dive")(engine.deepDive(q)))
    val first = ctx.span("api.search")(engine.search(queries.head, Serve.K))
    if (!has.contains("feedback.click") && first.nonEmpty) {
      val (c, _) = Main.timed(ctx.span("feedback.click")(engine.recordClick(first.head.id, queries.head)))
      val (p, _) = Main.timed(ctx.span("api.search")(engine.search(queries(1 % queries.size), Serve.K)))
      out.metric("feedback.click_ms", c * 1e3, "ms")
      out.metric("feedback.post_click_search_ms", p * 1e3, "ms")
    }

    // a wave lands atomically in the stream input directory (the stream
    // source skips dot files) and is ingested; its marker must be served
    val dir = Paths.get(ctx.work, "probe", "stream_in")
    Files.createDirectories(dir)
    val landing = dir.resolve(".wave.parquet")
    Files.copy(Paths.get(ctx.inputs, "probe", "wave.parquet"), landing)
    Files.move(landing, dir.resolve("wave.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val (w, _) = Main.timed(ctx.span("streaming.wave")(
      engine.startStreamingIngest(dir.toString, Trigger.AvailableNow()).awaitTermination()))
    val (p, firstRs) = Main.timed(ctx.span("api.search")(engine.search(marker, Serve.K)))
    out.metric("streaming.wave_s", w, "s")
    out.metric("search.post_wave_ms", p * 1e3, "ms")
    val landed = System.nanoTime()
    var visible = firstRs.exists(_.docId == markerDoc)
    while (!visible && System.nanoTime() - landed < VisibleTimeoutS * 1000000000L)
      visible = ctx.span("api.search")(engine.search(marker, Serve.K)).exists(_.docId == markerDoc)
    out.check("probe.wave_marker_visible", visible)

    // deleted documents stay out of the live chunks and of search results,
    // after the delete and after the compaction that purges them
    val texts = base.select(col("doc_id").cast("string"), col("text"))
      .union(spark.read.parquet(dir.resolve("wave.parquet").toString).select(col("doc_id").cast("string"), col("text")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val deleted = deletes.toSet
    def gone(): Boolean =
      engine.workspace.readLiveChunks().filter(col("doc_id").isin(deletes: _*)).count() == 0 &&
        deletes.take(2).forall { d =>
          val phrase = "\"" + texts(d).split("\\s+").take(4).mkString(" ").replaceAll("[^A-Za-z0-9 ]", "") + "\""
          !engine.search(phrase, Serve.K).exists(r => deleted.contains(r.docId))
        }
    ctx.span("api.delete")(engine.deleteDocuments(deletes))
    out.check("probe.deleted_gone_after_delete", gone())
    ctx.span("api.compact")(engine.compactIndexes())
    out.check("probe.deleted_gone_after_compact", gone())

    // the live chunk count is what the chunker makes of every ingested
    // document, minus the chunks of the deleted ones
    val expected = texts.collect { case (d, t) if !deleted.contains(d) => TextChunker.chunk(t).size.toLong }.sum
    val live = engine.workspace.readLiveChunks().count()
    out.check("probe.live_chunk_count", live == expected, s"live=$live expected=$expected")
    engine
  }
}
