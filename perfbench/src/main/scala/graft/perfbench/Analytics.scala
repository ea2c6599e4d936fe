package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The analytics workload: a panel of declared queries built and counted
  * as graft.Bench does, each count checked against the DuckDB oracle's
  * row count on the same data. */
object Analytics {
  type Query = (SparkSession, String) => DataFrame

  /** The modules whose `defs` make up SparkEntry.queries, in its order
    * (a later module's entry wins a name clash, as there). */
  val Modules: Seq[(String, Map[String, Query])] = Seq(
    "Sources" -> Sources.defs, "Relational" -> Relational.defs,
    "Aggregates" -> Aggregates.defs, "Windows" -> Windows.defs,
    "Scalars" -> Scalars.defs, "VectorOps" -> VectorOps.defs,
    "TextOps" -> TextOps.defs, "SearchOps" -> SearchOps.defs,
    "BucketOps" -> BucketOps.defs, "AggExtOps" -> AggExtOps.defs,
    "SyncOps" -> SyncOps.defs, "StreamingOps" -> StreamingOps.defs,
    "PipelineOps" -> PipelineOps.defs, "CurationOps" -> CurationOps.defs,
    "CorpusQualityOps" -> CorpusQualityOps.defs, "RankOps" -> RankOps.defs,
    "FusionOps" -> FusionOps.defs, "AnalyticsOps" -> AnalyticsOps.defs,
    "NestedOps" -> NestedOps.defs, "Esql" -> Esql.defs, "GeoOps" -> GeoOps.defs)

  def moduleOf(query: String): String =
    Modules.reverseIterator.collectFirst { case (m, defs) if defs.contains(query) => m }
      .getOrElse("other")

  /** One panel query, with its cost class and its weight: the class's
    * summed cost over every declared query divided by the summed cost of
    * the class's panel queries, both from the committed cost table. The
    * weighted sum of the panel's times therefore estimates the whole
    * suite's total, each class in its measured share. */
  final case class PanelQuery(name: String, cls: String, weight: Double)

  /** The cost classes of fixtures/make_panel.py. */
  val Classes: Seq[String] = Seq("job", "operator", "dedup")

  /** Timed runs of a query in a row; its time is the best of them. */
  val Reps = 2
  val WarmThreads = 4

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.home.resolve("data")
    val sf = data.resolve("sf0.1").toString
    val warm = data.resolve("sf0.001").toString
    val fixtures = ctx.home.resolve("fixtures")
    val counts = readCounts(fixtures.resolve("sf0.1-counts.json"))
    val queries = SparkEntry.queries
    val panel = readPanel(fixtures.resolve("analytics-panel.json"))
    val qs = panel.map(_.name)
    require(qs.forall(q => queries.contains(q) && counts.contains(q)),
      "every panel query must be declared and have an oracle count")
    ctx.note(s"panel: ${qs.size} of ${queries.size} queries; " +
      Classes.map(c => s"$c ${panel.count(_.cls == c)}").mkString(", "))

    // warm-up: one untimed pass over the panel at the smallest scale
    // factor, as graft.Bench warms up over the whole suite. A query's first
    // run is mostly single-threaded code generation and compilation, so
    // the pass runs WarmThreads queries at a time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      qs.map(q => pool.submit(new Runnable {
        def run(): Unit = try queries(q)(spark, warm).count() catch { case _: Exception => () }
      })).foreach(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
    ctx.setupDone()

    val rng = new scala.util.Random(ctx.seed)
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val jobsPerExec = mutable.ArrayBuffer.empty[Double]
    val moduleS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val moduleJobs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    ctx.tracer.foreach(_.reset())
    var gcS = 0.0
    var executions = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    // whole passes over the panel, each in a fresh seeded order, start
    // while measured time remains; a pass runs each query Reps times in a
    // row, as graft.Bench does
    while (elapsed < ctx.seconds) {
      rng.shuffle(qs).foreach { q =>
        (1 to Reps).foreach { _ =>
          val jobs0 = ctx.tracer.map { t => t.drain(); t.jobs.get }
          val plan0 = ctx.tracer.map(_.planningMs)
          val gcBefore = Gc.seconds
          val b0 = System.nanoTime()
          val result = try {
            val df = queries(q)(spark, sf)
            val b1 = System.nanoTime()
            Right((b1, df.count()))
          } catch { case e: Exception => Left(e) }
          val end = System.nanoTime()
          gcS += Gc.seconds - gcBefore
          spark.catalog.clearCache()
          executions += 1
          val wall = (end - b0) / 1e9
          result match {
            case Left(e) => ctx.check(ok = false, s"$q threw: $e")
            case Right((b1, n)) =>
              ctx.check(counts(q) == n, s"$q counted $n rows, the oracle ${counts(q)}")
              walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += wall
              ctx.tracer.foreach { t =>
                val jobs = (t.jobs.get - jobs0.get).toDouble
                val compileMs = t.planningMs - plan0.get
                val span = ctx.spans.add("query", wall * 1000)
                ctx.spans.add("build", (b1 - b0) / 1e6, span)
                val action = ctx.spans.add("action", (end - b1) / 1e6, span)
                ctx.spans.add("compile", compileMs, action)
                jobsPerExec += jobs
                moduleS(moduleOf(q)) += wall
                moduleJobs(moduleOf(q)) += jobs
              }
          }
        }
      }
      pass += 1
    }
    val timedS = elapsed
    // a query's time is its best run, as graft.Bench grades it: another
    // process's interference only ever adds time
    val best = walls.map { case (q, xs) => q -> xs.min }.toMap
    val byClass = panel.filter(p => best.contains(p.name))
      .groupMapReduce(_.cls)(p => p.weight * best(p.name))(_ + _).withDefaultValue(0.0)
    val total = byClass.values.sum
    ctx.note(s"passes=$pass executions=$executions timed_s=${"%.3f".format(timedS)}")
    ctx.put("analytics_total_s", total, "s")
    ctx.note(s"analytics_total_s estimates all ${queries.size} queries; by class " +
      Classes.map(c => f"$c ${byClass(c)}%.3f s (${100 * byClass(c) / total}%.1f%%)").mkString(", "))
    ctx.put("panel_total_s", best.values.sum, "s")
    ctx.put("query_p50_s", Stats.median(best.values.toSeq), "s")
    ctx.put("query_p90_s", Stats.quantile(best.values.toSeq, 0.9), "s")
    ctx.note(s"query tail: ${Stats.tailText(best.values.toSeq, "s")}")
    ctx.note("best s per query: " + best.toSeq.sortBy(_._1)
      .map { case (q, x) => f"$q=$x%.3f" }.mkString(" "))
    // latency: the suite's estimated mean query time; throughput: query
    // runs completed per second of the timed phase, every run counted
    ctx.endToEnd(latency = total / queries.size, throughput = executions / timedS)

    ctx.tracer.foreach { t =>
      t.drain()
      val self = ctx.spans.selfMs.withDefaultValue(0.0)
      ctx.layer("ops.build_s", self("build") / 1000, "s")
      ctx.layer("catalyst.compile_s", self("compile") / 1000, "s")
      ctx.layer("spark.exec_s", self("action") / 1000, "s")
      ctx.layer("analytics.query_s", ctx.spans.totalMs.getOrElse("query", 0.0) / 1000, "s")
      Classes.foreach(c => ctx.layer(s"analytics.$c.s", byClass(c), "s"))
      ctx.layer("spark.jobs", t.jobs.get.toDouble, "jobs")
      ctx.layer("spark.stages", t.stages.get.toDouble, "stages")
      ctx.layer("spark.tasks", t.tasks.get.toDouble, "tasks")
      ctx.layer("spark.jobs_per_query_p50", Stats.median(jobsPerExec.toSeq), "jobs")
      ctx.layer("spark.shuffle_write_bytes", t.shuffleWriteBytes.get.toDouble, "bytes")
      ctx.layer("spark.input_bytes", t.inputBytes.get.toDouble, "bytes")
      ctx.layer("spark.spill_bytes", t.spillBytes.get.toDouble, "bytes")
      ctx.layer("spark.gc_s", gcS, "s")
      Modules.foreach { case (m, _) =>
        ctx.layer(s"ops.$m.s", moduleS(m), "s")
        ctx.layer(s"ops.$m.jobs", moduleJobs(m), "jobs")
      }
    }
    ctx.heap()
  }

  /** The panel fixture's `panel` list. */
  def readPanel(path: java.nio.file.Path): Seq[PanelQuery] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile).path("panel")
    (0 until node.size).map(node.get).map(n =>
      PanelQuery(n.path("name").asText, n.path("class").asText, n.path("weight").asDouble))
  }

  /** The fixture: query name → row count, a flat JSON object. */
  def readCounts(path: java.nio.file.Path): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val out = Map.newBuilder[String, Long]
    node.fields().forEachRemaining(e => out += e.getKey -> e.getValue.asLong())
    out.result()
  }
}
