package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `curate`: passes over registered multi-job batch queries on generated
  * tables, one driver thread, in a seed-permuted order. */
object Curate {
  val Setups = 3

  /** An order-insensitive digest of a query's collected output: its row
    * count and a hash of its sorted rows. */
  def digest(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, rows.map(_.toString).sorted.toSeq.hashCode)

  /** One call of query `q` on the tables in `dir`: the query's whole
    * output, collected to the driver (a bare count() may prune the plan). */
  def call(spark: SparkSession, q: String, dir: String): Array[Row] =
    SparkEntry.queries(q)(spark, dir).collect()

  /** The batch queries, in this seed's order. */
  def names(ctx: Ctx): Vector[String] =
    Main.readJson(s"${ctx.inputs}/queries.json").elements.asScala.map(_.asText).toVector

  def run(ctx: Ctx): WorkloadRun = {
    val order = names(ctx)
    val dir = s"${ctx.inputs}/sf"
    val out = ctx.out

    // set-up: the first call of every query on the timed tables, on a fresh
    // session each time (staged tables are cached per session), so it pays
    // planning, codegen and staging. The last session serves the passes;
    // its set-up outputs go to the oracle replay and give each query's
    // reference digest.
    var spark: SparkSession = null
    var ref = Map.empty[String, (Long, Int)]
    var outputs = Map.empty[String, Array[Row]]
    val setups = (1 to Setups).map { i =>
      spark = ctx.spark.newSession()
      val (t, rows) = Main.timed(order.map(q => q -> ctx.span(s"setup.$q")(call(spark, q, dir))).toMap)
      outputs = rows
      val ds = rows.map { case (q, r) => q -> digest(r) }
      if (ref.nonEmpty) ds.foreach { case (q, d) =>
        if (d != ref(q)) System.err.println(s"[perfbench] $q set-up $i digest $d != ${ref(q)}")
      }
      out.check(s"curate.setup_${i}_digests", ref.isEmpty || ds == ref)
      ref = ds
      Main.phase(s"setup $i")
      t
    }
    out.metric("setup_s", Stats.median(setups), "s", setups.size)
    // one more untimed call of each query: the first call on a session
    // after its set-up call still runs a fifth to a half slower than the
    // calls after it
    order.foreach(q => ctx.span(s"warm.$q")(call(spark, q, dir)))
    Main.phase("warm pass")

    // timed passes: a pass starts while at least half of the last one
    // fits, so the window ends within half a pass of `--seconds` and a
    // pass a little slower than usual does not drop the run to one pass
    // fewer. Every call must reproduce its query's set-up digest.
    val calls = new Samples
    val perQuery = order.map(_ -> new Samples).toMap
    val passes = new Samples
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    var lastPassNs = 0L
    def fits = System.nanoTime() + lastPassNs / 2 <= deadline
    while (passes.size < 1 || fits) {
      val p0 = System.nanoTime()
      order.foreach { q =>
        val s = System.nanoTime()
        val ok = try {
          val rows = ctx.span("curate.call")(ctx.span(s"queries.$q")(call(spark, q, dir)))
          val ms = (System.nanoTime() - s) / 1e6
          calls.add(ms)
          perQuery(q).add(ms)
          val d = digest(rows)
          if (d != ref(q)) System.err.println(s"[perfbench] $q digest $d != set-up ${ref(q)}")
          d == ref(q)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: $e"); false
        }
        out.op(ok)
      }
      lastPassNs = System.nanoTime() - p0
      passes.add(lastPassNs / 1e9)
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    Main.phase("passes")
    Main.retainedHeap(ctx)

    // a pass is the sum of each query's median call: steady with a few
    // calls of each, where a median over whole passes needs many passes
    val c = calls.values
    val passMs = order.map(q => Stats.median(perQuery(q).values)).sum
    out.metric("op_p50_ms", passMs, "ms", passes.size)
    out.metric("ops_per_s", c.size / elapsed, "1/s", c.size)
    out.metric("curate_pass_s", passMs / 1e3, "s", passes.size)
    order.foreach(q => out.metric(s"curate.$q.p50_ms", Stats.median(perQuery(q).values), "ms", perQuery(q).size))
    order.foreach(q => println(s"[perfbench] calls $q ms: ${perQuery(q).values.map(v => f"$v%.0f").mkString(" ")}"))

    // untimed: the set-up outputs, for the oracle replay run.py makes
    order.foreach(q => dumpForOracle(spark, q, dir, outputs(q), s"${ctx.work}/oracle"))
    WorkloadRun(passMs, c.size / elapsed,
      ProbeInput(s"$dir/documents.parquet", Nil, None, ranQueries = true))
  }

  /** Write query `q`'s collected output on `dir` to `outDir/q`, with its
    * oracle SQL beside it in `outDir/q.sql`. */
  def dumpForOracle(spark: SparkSession, q: String, dir: String, rows: Array[Row], outDir: String): Unit = {
    val schema: StructType = rows.headOption.map(_.schema).getOrElse(SparkEntry.queries(q)(spark, dir).schema)
    try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
    catch { case e: Throwable => System.err.println(s"[perfbench] oracle dump $q failed: $e") }
    SparkEntry.oracleSql.get(q).foreach(sql => Files.writeString(Paths.get(s"$outDir/$q.sql"), sql))
  }
}
