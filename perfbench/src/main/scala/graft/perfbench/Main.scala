package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run measures and checks, and how it prints it. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val home: Path, val work: Path, traced: Boolean, sessionS: Double) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  val spans = new Spans
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, what: => String): Unit = checkCount(1, if (ok) 0 else 1, what)

  def checkCount(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) println(s"[perfbench] FINDING: $bad of $n: $what")
  }

  def verified(surface: String, bad: Int, n: Int): Unit =
    checkCount(n, bad, s"$surface keys differing from the reference model")

  private val born = System.nanoTime()

  def note(s: String): Unit = println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1fs $s")

  /** A workload metric for the report (by its own name). */
  def put(name: String, v: Double, unit: String): Unit = report(name) = (v, unit)

  def putMedian(name: String, xs: Seq[Double], unit: String): Unit = {
    put(name, Stats.median(xs), unit)
    note(s"$name over n=${xs.size}")
  }

  def putLag(lags: Seq[Double]): Unit = {
    put("lag_p50_s", Stats.median(lags), "s")
    put("lag_p90_s", Stats.quantile(lags, 0.9), "s")
    note(s"lag tail: ${Stats.tailText(lags, "s")}")
  }

  /** Set-up ends here: everything before the first timed operation,
    * session start included, as one measured wall time. */
  def setupDone(): Unit = {
    val v = sessionS + (System.nanoTime() - born) / 1e9
    note(s"set-up: ${"%.3f".format(v)} s, of which session start ${"%.3f".format(sessionS)} s")
    put("setup_s", v, "s")
    e2e("setup_s") = (v, "s")
  }

  /** The end-to-end metrics every workload reports under one name. */
  /** `latency`: the typical wait for one unit of work (a change's lag, a
    * query's time); `throughput`: units of work per second. */
  def endToEnd(latency: Double, throughput: Double): Unit = {
    e2e("latency_s") = (latency, "s")
    e2e("throughput_per_s") = (throughput, "1/s")
  }

  def heap(): Unit = put("retained_heap_mb", Gc.retainedHeapMb, "MiB")

  def layer(name: String, v: Double, unit: String): Unit = {
    require(Layers.names.contains(name), s"unregistered per-layer metric $name")
    layers(name) = (v, unit)
  }

  /** Print the report, then the one-line result. */
  def finish(workload: String): Unit = {
    put("error_ratio", failed.toDouble / math.max(attempted, 1), "ratio")
    report.foreach { case (k, (v, u)) => println(f"[perfbench] $workload $k = $v%.6f $u") }
    tracer.foreach { t =>
      layer("trace.callback_ms", t.callbackNs.get / 1e6, "ms")
      layer("trace.latency_s", e2e.get("latency_s").fold(0.0)(_._1), "s")
      val dir = home.resolve("out")
      spans.write(dir.resolve(s"spans-$workload-$seed.jsonl"))
      layers.foreach { case (k, (v, u)) => println(f"[perfbench] $workload $k = $v%.6f $u") }
    }
    val metrics =
      if (tracer.isEmpty) Metrics.EndToEnd.map(n => n -> e2e.getOrElse(n, (Double.NaN, "?")))
      else Layers.all.map { case (n, u) => n -> layers.getOrElse(n, (0.0, u)) }
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${Metrics.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }
}

object Metrics {
  val EndToEnd: Seq[String] =
    Seq("setup_s", "latency_s", "throughput_per_s")

  /** A JSON number with all its digits; a value that could not be
    * measured prints as null rather than a made-up number. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Every per-layer metric a traced run prints, on every workload; a layer
  * a workload does not exercise reads 0. */
object Layers {
  val Modules: Seq[String] = Analytics.Modules.map(_._1)

  val all: Seq[(String, String)] = Seq(
    "sources.cursor_poll_ms.cql" -> "ms", "sources.cursor_poll_ms.es" -> "ms",
    "sources.rows_read" -> "rows", "sources.rows_read_per_change" -> "ratio",
    "store.cql.select_requests" -> "req/change", "store.cql.batch_requests" -> "req/change",
    "store.cql.prepare_requests" -> "req/change", "store.cql.execute_requests" -> "req/change",
    "store.es.bulk_requests" -> "req/change", "store.es.pit_opens" -> "req/change",
    "store.es.scroll_deletes" -> "req/change",
    "sync.merge_ms" -> "ms", "sync.snapshot_commit_ms" -> "ms",
    "sync.writeback_es_ms" -> "ms", "sync.writeback_cql_ms" -> "ms",
    "sync.batch_other_ms" -> "ms", "sync.snapshot_bytes" -> "bytes",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.trigger_other_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.start_stop_ms" -> "ms", "stream.round_ms" -> "ms",
    "spark.jobs_per_round" -> "jobs", "spark.stages_per_round" -> "stages",
    "ops.build_s" -> "s", "catalyst.compile_s" -> "s", "spark.exec_s" -> "s",
    "analytics.query_s" -> "s") ++
    Analytics.Classes.map(c => s"analytics.$c.s" -> "s") ++ Seq(
    "spark.jobs" -> "jobs", "spark.stages" -> "stages", "spark.tasks" -> "tasks",
    "spark.jobs_per_query_p50" -> "jobs",
    "spark.shuffle_write_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s") ++
    Modules.flatMap(m => Seq(s"ops.$m.s" -> "s", s"ops.$m.jobs" -> "jobs")) ++ Seq(
    "gen.late_ms_max" -> "ms", "trace.callback_ms" -> "ms", "trace.latency_s" -> "s")

  val names: Set[String] = all.map(_._1).toSet
}

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --home <dir>`:
  * run one workload and print its metrics, the last line being the
  * one-line JSON result. `--dump-oracle <file>` instead writes the
  * declared queries' oracle SQL as JSON (for the count fixture). */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "sync-burst" -> SyncBench.burst,
    "sync-trickle" -> SyncBench.trickle,
    "analytics-sf0.1" -> Analytics.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    opts.get("dump-oracle").foreach { out => dumpOracle(Paths.get(out)); return }
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload,
      usage(s"unknown workload $workload (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be a whole number"))
    val seconds = need("seconds").toIntOption.filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive whole number"))
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val home = Paths.get(need("home")).toAbsolutePath
    val work = home.resolve("out").resolve(s"work-$workload-$seed")
    deleteTree(work)
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, seconds, home, work, traced, sessionS)
    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")
    try run(ctx)
    finally spark.stop()
    ctx.finish(workload)
    deleteTree(work)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def dumpOracle(out: Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.write(out, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }
}
