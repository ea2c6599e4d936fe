package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.{CqlStubServer, EsStubServer, SyncConfig, SyncJob}
import graft.streaming.Sync
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType}

/** Collects every streaming progress report; always attached, since lag
  * and round classification come from these reports. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[(String, StreamingQueryProgress)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized(buf += e.progress.id.toString -> e.progress)
  spark.streams.addListener(this)

  /** Every report since the last call, as batches. */
  def take(): Seq[Batch] = {
    org.apache.spark.sql.perfbench.SparkInternals.drain(spark.sparkContext)
    buf.synchronized {
      val out = buf.map { case (q, p) => Lag.batch(q, p) }.toSeq
      buf.clear()
      out
    }
  }
}

/** The two sync-loop workloads over the in-JVM protocol stubs. */
object SyncBench {
  // sync-burst: the cell loop, one-shot rounds, closed loop.
  val BurstKeys = 2000
  val BurstSize = 200
  val ZipfExponent = 1.0
  val MaxRoundsPerBurst = 8
  val WriteChunk = 50
  // sync-trickle: the row loop, periodic rounds, open loop.
  val TrickleRows = 10000
  val TrickleKeys = 2500
  val TrickleRate = 50.0 // changes per second, alternating stores
  val TrickleIntervalS = 1
  // set-up: a warm-up on a small throwaway store, then the measured
  // store's preparation
  val WarmKeys = 50
  val WarmRows = 500

  private val CellFields = Seq("key" -> "long", "ts" -> "long", "status" -> "keyword",
    "status_wt" -> "long", "val" -> "long", "val_wt" -> "long")

  /** A cell-loop deployment: C* data table, ES index, SyncJob config and
    * the reference model of everything written to it. */
  private final class CellStore(spark: SparkSession, dir: Path, keys: Int) extends AutoCloseable {
    val cql: CqlStubServer = new CqlStubServer().start()
    val es: EsStubServer = new EsStubServer().start()
    cql.createTable("ks", "t", Seq(("key", "bigint"), ("ts", "bigint"),
      ("status", "text"), ("val", "bigint")), pk = "key")
    val esw = new EsWriter(es.url)
    esw.createIndex("t", CellFields)
    val cqlw = new CqlWriter(cql.host, "ks")
    val model = new CellModel
    // what the generator believes the ES index holds: the model as of
    // the burst's start plus this burst's own ES writes
    private var esView = Map.empty[Long, Array[CellState]]
    val cfg: SyncConfig = SyncConfig.fromYaml(
      s"""cassandra:
         |  feed: cql://${cql.host}/ks/t?pk=key
         |  snapshot: $dir/snapA
         |  format: graft-cql
         |elasticsearch:
         |  feed: es://127.0.0.1:${es.url.split(":").last}/t
         |  snapshot: $dir/snapB
         |  format: graft-es
         |checkpoint_dir: $dir/ckpt
         |merge: cell
         |cells: ${Load.Cells.mkString(",")}
         |""".stripMargin)

    /** Both stores start with every key, as a previous sync left them,
      * so the full sync reads and relays the store but has nothing to
      * echo. */
    def preload(): Unit = {
      val ws = Load.cellPreload(keys)
      model.applyAll(ws)
      val rows = ws.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, cells) =>
        (k, cells.head.value, cells.head.stamp)
      }
      rows.grouped(500).foreach { chunk =>
        cqlw.insert("t", Seq("key" -> LongType, "ts" -> LongType, "status" -> StringType,
          "val" -> LongType), chunk.map { case (k, v, stamp) =>
          (Seq(k, stamp, Load.statusText(v), v), Some(stamp))
        })
        esw.index("t", chunk.map { case (k, v, stamp) =>
          (k.toString, Some(stamp), Seq[(String, Any)]("key" -> k, "ts" -> stamp,
            "status" -> Load.statusText(v), "status_wt" -> stamp, "val" -> v, "val_wt" -> stamp))
        })
      }
    }

    def beginBurst(): Unit = esView = model.rows.map { case (k, r) => k -> r.clone() }.toMap

    /** Write changes, in order, as one request per store; returns the
      * number of writes a store rejected. An ES change rewrites the whole
      * document, so it carries the other cells as the generator last saw
      * them, and the document's greatest stamp as its ts and version. */
    def write(ws: Seq[CellWrite]): Int = {
      ws.foreach(model(_))
      val (a, b) = ws.partition(_.side == Cql)
      a.groupBy(_.cell).foreach { case (c, cw) =>
        val cell = Load.Cells(c)
        cqlw.insert("t", Seq("key" -> LongType, "ts" -> LongType,
          cell -> (if (cell == "status") StringType else LongType)),
          cw.map { w =>
            val v: Any = if (cell == "status") Load.statusText(w.value) else w.value
            (Seq(w.key, w.stamp, v), Some(w.stamp))
          })
      }
      esw.index("t", b.map { w =>
        val row = esView.getOrElse(w.key, new Array[CellState](Load.Cells.size)).clone()
        row(w.cell) = CellState(w.value, w.stamp)
        esView += w.key -> row
        val ts = row.filter(_ != null).map(_.stamp).max
        val fields = Seq[(String, Any)]("key" -> w.key, "ts" -> ts) ++
          Load.Cells.indices.filter(row(_) != null).flatMap { c =>
            val s = row(c)
            Seq[(String, Any)](
              Load.Cells(c) -> (if (Load.Cells(c) == "status") Load.statusText(s.value) else s.value),
              s"${Load.Cells(c)}_wt" -> s.stamp)
          }
        (w.key.toString, Some(ts), fields)
      })
    }

    /** Per surface: (name, keys that differ from the model, keys checked). */
    def verify(): Seq[(String, Int, Int)] = {
      val want = model.rows.map { case (k, r) =>
        k -> (Load.statusText(r(0).value), r(0).stamp, r(1).value, r(1).stamp)
      }
      def diff(name: String, rows: Array[Row]): (String, Int, Int) = {
        val got = rows.map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        val bad = want.count { case (k, v) => !got.get(k).contains(v) } +
          got.keys.count(k => !want.contains(k))
        (name, bad, want.size)
      }
      val cols = Seq("key", "status", "status_wt", "val", "val_wt")
      Seq(
        diff("cql", spark.read.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "t").option("partition-key", "key")
          .option("writetime-of", Load.Cells.mkString(",")).load()
          .selectExpr("key", "status", "writetime_status", "val", "writetime_val").collect()),
        diff("es", spark.read.format("graft-es").option("nodes", es.url)
          .option("index", "t").load().select(cols.head, cols.tail: _*).collect()),
        diff("snapshot_a", spark.read.parquet(cfg.snapshotA).select(cols.head, cols.tail: _*).collect()),
        diff("snapshot_b", spark.read.parquet(cfg.snapshotB).select(cols.head, cols.tail: _*).collect()))
    }

    override def close(): Unit = { cqlw.close(); cql.stop(); es.stop() }
  }

  /** A row-loop deployment: uid-keyed change tables on both stores. */
  private final class RowStore(spark: SparkSession, dir: Path) extends AutoCloseable {
    val cql: CqlStubServer = new CqlStubServer().start()
    val es: EsStubServer = new EsStubServer().start()
    cql.createTable("ks", "changes", Seq(("key", "bigint"), ("ts", "bigint"),
      ("uid", "bigint"), ("payload", "text")), pk = "uid")
    val esw = new EsWriter(es.url)
    esw.createIndex("changes", Seq("key" -> "long", "ts" -> "long", "uid" -> "long",
      "payload" -> "keyword"))
    val cqlw = new CqlWriter(cql.host, "ks")
    val written: Map[Side, RowModel] = Map(Cql -> new RowModel, Es -> new RowModel)
    val uids: Map[Side, mutable.Set[Long]] = Map(Cql -> mutable.Set.empty, Es -> mutable.Set.empty)
    val cfg: SyncConfig = SyncConfig.fromYaml(
      s"""cassandra:
         |  feed: cql://${cql.host}/ks/changes?pk=uid
         |  snapshot: $dir/snapA
         |  format: graft-cql
         |elasticsearch:
         |  feed: es://127.0.0.1:${es.url.split(":").last}/changes
         |  snapshot: $dir/snapB
         |  format: graft-es
         |checkpoint_dir: $dir/ckpt
         |sync_interval: $TrickleIntervalS
         |""".stripMargin)

    private val cols = Seq("key" -> LongType, "ts" -> LongType, "uid" -> LongType,
      "payload" -> StringType)

    /** Write changes (one request per store per call); returns rejected writes. */
    def write(ws: Seq[RowWrite]): Int = {
      ws.foreach { w => written(w.side)(w); uids(w.side) += w.uid }
      val (a, b) = ws.partition(_.side == Cql)
      cqlw.insert("changes", cols, a.map(w => (Seq(w.key, w.stamp, w.uid, w.payload), None)))
      esw.index("changes", b.map(w => (w.uid.toString, None,
        Seq[(String, Any)]("key" -> w.key, "ts" -> w.stamp, "uid" -> w.uid, "payload" -> w.payload))))
    }

    def preload(rows: Seq[RowWrite]): Int = rows.grouped(1000).map(write).sum

    /** Per surface: (name, keys or rows that differ, keys or rows checked).
      * Snapshot A holds ES's changes merged by key, snapshot B C*'s. */
    def verify(): Seq[(String, Int, Int)] = {
      def snap(name: String, dir: String, side: Side) = {
        val want = written(side).rows.map { case (k, w) => k -> w.uid }
        val got = spark.read.schema(Sync.changeSchema).parquet(dir).select("key", "uid")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (name, want.count { case (k, u) => !got.get(k).contains(u) } +
          got.keys.count(k => !want.contains(k)), want.size)
      }
      def store(name: String, df: org.apache.spark.sql.DataFrame, side: Side) = {
        val got = df.select("uid").collect().map(_.getLong(0)).toSet
        val want = uids(side)
        (name, want.count(u => !got(u)) + got.count(u => !want(u)), want.size)
      }
      Seq(
        snap("snapshot_a", cfg.snapshotA, Es),
        snap("snapshot_b", cfg.snapshotB, Cql),
        store("cql", spark.read.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "changes")
          .option("partition-key", "uid").load(), Cql),
        store("es", spark.read.format("graft-es").option("nodes", es.url)
          .option("index", "changes").load(), Es))
    }

    override def close(): Unit = { cqlw.close(); cql.stop(); es.stop() }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall clock in epoch ms with sub-ms resolution (progress reports
    * carry epoch-ms end times). */
  private final class Clock {
    private val epochMs = System.currentTimeMillis()
    private val nano = System.nanoTime()
    def nowMs: Double = epochMs + (System.nanoTime() - nano) / 1e6
  }

  /** One one-shot round: wall seconds, its batches, and whether it threw. */
  private def round(spark: SparkSession, store: CellStore,
      log: ProgressLog): (Double, Seq[Batch], Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err = try { SyncJob.runOnce(spark, store.cfg); None }
      catch { case e: Exception => Some(e) }
    val wall = secondsSince(t0)
    (wall, log.take(), err)
  }

  /** Rounds until one reads nothing; false if `max` rounds did not get there. */
  private def quiesce(spark: SparkSession, store: CellStore, log: ProgressLog, max: Int): Boolean =
    Iterator.continually(round(spark, store, log)).take(max)
      .exists { case (_, bs, err) => err.isEmpty && bs.map(_.rowsRead).sum == 0 }

  def burst(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val log = new ProgressLog(spark)
    // warm-up: a full-sync round of a small throwaway store runs every
    // step of a busy round (merge, snapshot, both writebacks)
    val w = new CellStore(spark, ctx.work.resolve("warm"), WarmKeys)
    try {
      w.preload()
      ctx.check(round(spark, w, log)._3.isEmpty, "warm-up round threw")
      log.take()
    } finally w.close()
    val store = new CellStore(spark, ctx.work.resolve("burst"), BurstKeys)
    try {
      store.preload()
      ctx.setupDone()

      val (fullS, fullBatches, fullErr) = round(spark, store, log)
      ctx.check(fullErr.isEmpty, s"full sync threw: ${fullErr.orNull}")
      ctx.note(s"full sync: ${2 * BurstKeys} rows preloaded, ${fullBatches.map(_.rowsRead).sum} read")
      ctx.check(quiesce(spark, store, log, MaxRoundsPerBurst), "full sync did not quiesce")

      val clock = new Clock
      val counters0 = storeCounters(store.cql, store.es)
      val gen0 = (store.cqlw.requests, store.esw.requests)
      ctx.tracer.foreach(_.reset())
      val rounds = mutable.ArrayBuffer.empty[(Double, Seq[Batch], RoundKind)]
      val changes = mutable.ArrayBuffer.empty[Stamped]
      val polls = mutable.ArrayBuffer.empty[(Double, Double)]
      val t0 = System.nanoTime()
      var b = 0
      // bursts are whole: a new one starts while measured time remains
      while (secondsSince(t0) < ctx.seconds) {
        val ws = Load.cellBurst(ctx.seed, b, BurstKeys, BurstSize, ZipfExponent)
        store.beginBurst()
        // the burst goes out in chunks, each chunk one request per store
        val stamped = ws.grouped(WriteChunk).flatMap { chunk =>
          val created = clock.nowMs
          ctx.checkCount(chunk.size, store.write(chunk), "generated writes a store rejected")
          chunk.map(w => Stamped(w.side, w.stamp, created))
        }.toSeq
        changes ++= stamped
        var n = 0
        var idle = false
        while (!idle && n < MaxRoundsPerBurst) {
          val (wall, batches, err) = round(spark, store, log)
          ctx.check(err.isEmpty, s"round threw: ${err.orNull}")
          val kind = Lag.classify(batches, stamped)
          rounds += ((wall, batches, kind))
          ctx.tracer.foreach { t =>
            polls += ((pollCql(store.cql.host), pollEs(store.es.url)))
            val exec = t.takeStreamExecMs()
            if (kind != Idle) roundSpans(ctx.spans, wall, batches, exec)
          }
          idle = err.isEmpty && kind == Idle
          n += 1
        }
        ctx.check(idle, s"burst $b did not quiesce within $MaxRoundsPerBurst rounds")
        b += 1
      }
      val timedS = rounds.map(_._1).sum
      val busy = rounds.filter(_._3 != Idle)
      val lags = lagsChecked(ctx, changes.toSeq, rounds.flatMap(_._2).toSeq)

      ctx.put("full_sync_rows_per_s", 2 * BurstKeys / fullS, "rows/s")
      ctx.put("sync_rows_per_s", changes.size / timedS, "rows/s")
      ctx.putMedian("round_p50_s", busy.map(_._1).toSeq, "s")
      ctx.putMedian("idle_round_p50_s", rounds.filter(_._3 == Idle).map(_._1).toSeq, "s")
      ctx.putLag(lags)
      ctx.note(s"bursts=$b rounds=${rounds.size} busy=${rounds.count(_._3 == Busy)} " +
        s"echo=${rounds.count(_._3 == Echo)} idle=${rounds.count(_._3 == Idle)} " +
        s"changes=${changes.size} timed_round_s=${"%.3f".format(timedS)}")
      ctx.endToEnd(latency = Stats.median(lags), throughput = changes.size / timedS)

      ctx.tracer.foreach { t =>
        val rowsRead = rounds.flatMap(_._2).map(_.rowsRead).sum
        ctx.layer("sources.cursor_poll_ms.cql", Stats.median(polls.map(_._1).toSeq), "ms")
        ctx.layer("sources.cursor_poll_ms.es", Stats.median(polls.map(_._2).toSeq), "ms")
        ctx.layer("sources.rows_read", rowsRead.toDouble, "rows")
        ctx.layer("sources.rows_read_per_change", rowsRead.toDouble / changes.size, "ratio")
        storeLayers(ctx, counters0, storeCounters(store.cql, store.es),
          (store.cqlw.requests - gen0._1, store.esw.requests - gen0._2), changes.size)
        streamLayers(ctx, t, busy.size, rounds.size)
        ctx.layer("sync.snapshot_bytes",
          (dirBytes(store.cfg.snapshotA) + dirBytes(store.cfg.snapshotB)).toDouble, "bytes")
        ctx.layer("gen.late_ms_max", 0.0, "ms")
      }
      ctx.heap()
      store.verify().foreach { case (name, bad, n) => ctx.verified(name, bad, n) }
    } finally store.close()
  }

  def trickle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val log = new ProgressLog(spark)
    // warm-up: a small throwaway store through a full sync and a few
    // periodic rounds
    val w = new RowStore(spark, ctx.work.resolve("warm"))
    try {
      ctx.check(w.preload(Load.rowPreload(ctx.seed + 1, WarmRows, WarmRows / 4)) == 0,
        "warm-up preload rejected")
      val (qa, qb) = SyncJob.start(spark, w.cfg)
      try {
        qa.processAllAvailable(); qb.processAllAvailable()
        ctx.check(w.write(Load.rowTrickle(ctx.seed + 1, WarmRows, WarmRows / 4)
          .take(10).toSeq) == 0, "warm-up write rejected")
        qa.processAllAvailable(); qb.processAllAvailable()
      } finally { qa.stop(); qb.stop() }
    } finally w.close()
    log.take()
    val store = new RowStore(spark, ctx.work.resolve("trickle"))
    try {
      ctx.check(store.preload(Load.rowPreload(ctx.seed, TrickleRows, TrickleKeys)) == 0,
        "preload rejected")
      ctx.setupDone()

      val t0 = System.nanoTime()
      val (qa, qb) = SyncJob.start(spark, store.cfg)
      val clock = new Clock
      val changes = mutable.ArrayBuffer.empty[Stamped]
      var lateMax = 0.0
      try {
        qa.processAllAvailable(); qb.processAllAvailable()
        val fullS = secondsSince(t0)
        ctx.put("full_sync_rows_per_s", TrickleRows / fullS, "rows/s")
        log.take()
        ctx.tracer.foreach(_.reset())
        val counters0 = storeCounters(store.cql, store.es)
        val gen0 = (store.cqlw.requests, store.esw.requests)
        // open loop: change i is due at start + i / rate, whether or not
        // the stores or the sync keep up. Each step sends every change
        // that is due, one request per store, so a slow request delays
        // later changes instead of thinning the load; lag counts from
        // when a change was due.
        val gen = Load.rowTrickle(ctx.seed, TrickleRows, TrickleKeys)
        val start = clock.nowMs
        val end = start + ctx.seconds * 1000.0
        def due(i: Int) = start + i * 1000.0 / TrickleRate
        var i = 0
        while (due(i) < end) {
          val wait = due(i) - clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val now = clock.nowMs
          val batch = Iterator.from(i).takeWhile(j => due(j) <= now && due(j) < end)
            .map(j => (gen.next(), due(j))).toSeq
          lateMax = math.max(lateMax, now - due(i))
          ctx.checkCount(batch.size, store.write(batch.map(_._1)), "generated writes a store rejected")
          changes ++= batch.map { case (w, d) => Stamped(w.side, w.stamp, d) }
          i += batch.size
        }
        qa.processAllAvailable(); qb.processAllAvailable()
        val batches = log.take()
        val data = batches.filter(_.rowsRead > 0)
        val lags = lagsChecked(ctx, changes.toSeq, batches)
        ctx.putMedian("round_p50_s", data.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1000.0), "s")
        ctx.putLag(lags)
        ctx.note(s"changes=${changes.size} rate=${TrickleRate}/s rounds_with_rows=${data.size} " +
          s"gen_late_ms_max=${"%.1f".format(lateMax)}")
        ctx.endToEnd(latency = Stats.median(lags), throughput = TrickleRows / fullS)
        ctx.tracer.foreach { t =>
          def pollMs(side: Side) = Stats.median(data.filter(_.sources.exists(_._1 == side))
            .map(_.durationMs.getOrElse("latestOffset", 0L).toDouble))
          val rowsRead = data.map(_.rowsRead).sum
          ctx.layer("sources.cursor_poll_ms.cql", pollMs(Cql), "ms")
          ctx.layer("sources.cursor_poll_ms.es", pollMs(Es), "ms")
          ctx.layer("sources.rows_read", rowsRead.toDouble, "rows")
          ctx.layer("sources.rows_read_per_change", rowsRead.toDouble / changes.size, "ratio")
          storeLayers(ctx, counters0, storeCounters(store.cql, store.es),
            (store.cqlw.requests - gen0._1, store.esw.requests - gen0._2), changes.size)
          val exec = t.takeStreamExecMs()
          // periodic rounds have no start/stop: a round is its trigger;
          // the batch-level split is spread evenly over the data batches
          data.foreach { bt =>
            val share = exec.map { case (k, v) => k -> v / data.size }
            roundSpans(ctx.spans, bt.durationMs.getOrElse("triggerExecution", 0L).toDouble / 1000.0,
              Seq(bt), share)
          }
          streamLayers(ctx, t, data.size, data.size)
          ctx.layer("sync.snapshot_bytes",
            (dirBytes(store.cfg.snapshotA) + dirBytes(store.cfg.snapshotB)).toDouble, "bytes")
          ctx.layer("gen.late_ms_max", lateMax, "ms")
        }
      } finally { qa.stop(); qb.stop() }
      ctx.heap()
      store.verify().foreach { case (name, bad, n) => ctx.verified(name, bad, n) }
    } finally store.close()
  }

  /** Lags of the changes a batch covered; a change no batch covered is a failure. */
  private def lagsChecked(ctx: Ctx, changes: Seq[Stamped], batches: Seq[Batch]): Seq[Double] = {
    val lags = Lag.lags(changes, batches)
    ctx.checkCount(changes.size, changes.size - lags.size, "changes no batch covered")
    lags.map(_._2)
  }

  /** Spans of one round: the round, its triggers, each trigger's phases
    * from the progress report, and the batch's SQL executions by target. */
  private def roundSpans(spans: Spans, wallS: Double, batches: Seq[Batch],
      execMs: Map[String, Double]): Unit = {
    val round = spans.add("round", wallS * 1000)
    batches.foreach { b =>
      val d = b.durationMs.withDefaultValue(0L)
      val trig = spans.add("trigger", d("triggerExecution").toDouble, round)
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
        .foreach(k => spans.add(k, d(k).toDouble, trig))
      val add = spans.add("addBatch", d("addBatch").toDouble, trig)
      if (b.rowsRead > 0)
        Seq("merge", "snapshot_commit", "writeback_es", "writeback_cql")
          .foreach(k => spans.add(k, execMs.getOrElse(k, 0.0) / batches.count(_.rowsRead > 0), add))
    }
  }

  private def streamLayers(ctx: Ctx, t: Tracer, roundsWithRows: Int, rounds: Int): Unit = {
    val self = ctx.spans.selfMs.withDefaultValue(0.0)
    val total = ctx.spans.totalMs.withDefaultValue(0.0)
    val n = math.max(roundsWithRows, 1).toDouble
    Seq("merge" -> "sync.merge_ms", "snapshot_commit" -> "sync.snapshot_commit_ms",
      "writeback_es" -> "sync.writeback_es_ms", "writeback_cql" -> "sync.writeback_cql_ms",
      "addBatch" -> "sync.batch_other_ms", "latestOffset" -> "stream.latest_offset_ms",
      "getBatch" -> "stream.get_batch_ms", "queryPlanning" -> "stream.query_planning_ms",
      "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms",
      "trigger" -> "stream.trigger_other_ms", "round" -> "stream.start_stop_ms")
      .foreach { case (span, metric) => ctx.layer(metric, self(span) / n, "ms") }
    ctx.layer("stream.trigger_ms", total("trigger") / n, "ms")
    ctx.layer("stream.round_ms", total("round") / n, "ms")
    t.drain()
    ctx.layer("spark.jobs_per_round", t.jobs.get.toDouble / math.max(rounds, 1), "jobs")
    ctx.layer("spark.stages_per_round", t.stages.get.toDouble / math.max(rounds, 1), "stages")
  }

  private def storeCounters(cql: CqlStubServer, es: EsStubServer): Map[String, Int] = Map(
    "cql.select" -> cql.selectRequests.get, "cql.batch" -> cql.batchRequests.get,
    "cql.prepare" -> cql.prepareRequests.get, "cql.execute" -> cql.executeRequests.get,
    "es.bulk" -> es.bulkRequests.get, "es.pit" -> es.pitOpens.get,
    "es.scroll_delete" -> es.scrollDeletes.get)

  /** Store requests the sync loop made, per generated change: counter
    * deltas minus the generator's own writes. */
  private def storeLayers(ctx: Ctx, before: Map[String, Int], after: Map[String, Int],
      genRequests: (Int, Int), changes: Int): Unit = {
    def per(k: String, own: Int = 0) = (after(k) - before(k) - own).toDouble / changes
    ctx.layer("store.cql.select_requests", per("cql.select"), "req/change")
    ctx.layer("store.cql.batch_requests", per("cql.batch", genRequests._1), "req/change")
    ctx.layer("store.cql.prepare_requests", per("cql.prepare"), "req/change")
    ctx.layer("store.cql.execute_requests", per("cql.execute"), "req/change")
    ctx.layer("store.es.bulk_requests", per("es.bulk", genRequests._2), "req/change")
    ctx.layer("store.es.pit_opens", per("es.pit"), "req/change")
    ctx.layer("store.es.scroll_deletes", per("es.scroll_delete"), "req/change")
  }

  /** The cell loop's cursor polls, timed from outside: the same
    * max-aggregation each source sends, over a fresh connection as each
    * round's source opens one. */
  private def pollCql(hostPort: String): Double = {
    val Array(h, p) = hostPort.split(":")
    val t0 = System.nanoTime()
    val c = new graft.sources.CqlProtocol.Client(h, p.toInt)
    try c.query("SELECT max(ts) FROM ks.t") finally c.close()
    (System.nanoTime() - t0) / 1e6
  }

  private def pollEs(url: String): Double = {
    val t0 = System.nanoTime()
    graft.sources.EsHttp.request("POST", s"$url/t/_search",
      Some("""{"size":0,"aggs":{"m":{"max":{"field":"ts"}}}}"""))
    (System.nanoTime() - t0) / 1e6
  }

  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
