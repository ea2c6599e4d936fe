package graft.perfbench

import graft.streaming.Sync
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: seeded load, the reference models, the
  * percentile rule and lag attribution. */
class PerfbenchSpec extends AnyFunSuite {

  test("the same seed gives an identical generated load; another seed does not") {
    def burst(seed: Long) = (0 until 3).flatMap(b => Load.cellBurst(seed, b, 500, 100, 1.0))
    def rows(seed: Long) =
      Load.rowPreload(seed, 300, 50) ++ Load.rowTrickle(seed, 300, 50).take(200).toSeq
    assert(burst(7) === burst(7))
    assert(rows(7) === rows(7))
    assert(burst(7) !== burst(8))
    assert(rows(7) !== rows(8))
  }

  test("a burst splits evenly across stores and its stamps rise on each store") {
    val ws = (0 until 4).flatMap(b => Load.cellBurst(3, b, 200, 60, 1.0))
    assert(ws.count(_.side == Cql) === ws.count(_.side == Es))
    Seq(Cql, Es).foreach { side =>
      val stamps = ws.filter(_.side == side).map(_.stamp)
      assert(stamps === stamps.sorted && stamps.distinct.size === stamps.size)
    }
    assert(ws.map(_.stamp).min > Load.cellPreload(200).map(_.stamp).max)
  }

  test("Zipf keys are skewed, so hot keys are written on both stores") {
    val ws = Load.cellBurst(11, 0, 2000, 2000, 1.0)
    val byKey = ws.groupBy(_.key)
    assert(byKey.maxBy(_._2.size)._1 < 10, "the hottest key is a low rank")
    assert(byKey.count(_._2.map(_.side).distinct.size == 2) > 20)
  }

  private lazy val spark = graft.TestSpark.spark

  test("the per-cell reference model agrees with Sync.mergeCellLww") {
    // equal stamps break by the greater value: a tie the generator never
    // makes, so key 1000 carries one per cell
    val tie = Load.StampBase - 1
    val ws = Load.cellPreload(40) ++ (0 until 3).flatMap(b => Load.cellBurst(5, b, 40, 50, 1.0)) ++
      Seq(CellWrite(Es, 1000, 0, 5, tie), CellWrite(Cql, 1000, 0, 7, tie),
        CellWrite(Cql, 1000, 1, 8, tie), CellWrite(Es, 1000, 1, 2, tie))
    // one wide row per write: only the written cell carries a stamp
    val schema = StructType(Seq(StructField("key", LongType), StructField("ts", LongType),
      StructField("status", StringType), StructField("status_wt", LongType),
      StructField("val", LongType), StructField("val_wt", LongType)))
    val rows = ws.map { w =>
      if (w.cell == 0) Row(w.key, w.stamp, Load.statusText(w.value), w.stamp, null, null)
      else Row(w.key, w.stamp, null, null, w.value, w.stamp)
    }
    val model = new CellModel().applyAll(ws)
    assert(model.rows(1000L).map(_.value).toSeq === Seq(7L, 8L))
    val merged = Sync.mergeCellLww(
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema),
      "key", Load.Cells).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val want = model.rows.map { case (k, c) =>
      k -> (Load.statusText(c(0).value), c(0).stamp, c(1).value, c(1).stamp)
    }.toMap
    assert(merged === want)
  }

  test("the per-row reference model agrees with Sync.mergeLww") {
    val ws = Load.rowPreload(9, 400, 30) ++ Load.rowTrickle(9, 400, 30).take(100).toSeq
    val df = spark.createDataFrame(spark.sparkContext.parallelize(ws.map(w =>
      Row(w.key, java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(w.stamp,
        java.time.temporal.ChronoUnit.MICROS)), w.uid, w.payload))), Sync.changeSchema)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Sync.changeSchema)
    val merged = Sync.mergeLww(empty, df).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(merged === new RowModel().applyAll(ws).rows.map { case (k, w) => k -> w.uid }.toMap)
  }

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19) === None)
    assert(Stats.tailPercentile(20) === Some(50.0))
    assert(Stats.tailPercentile(39) === Some(50.0))
    assert(Stats.tailPercentile(40) === Some(75.0))
    assert(Stats.tailPercentile(100) === Some(90.0))
    assert(Stats.tailPercentile(199) === Some(90.0))
    assert(Stats.tailPercentile(200) === Some(95.0))
    assert(Stats.tailPercentile(1000) === Some(99.0))
    assert(Stats.tailPercentile(10000) === Some(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.quantile(xs, 0.9) - 90.1) < 1e-9)
    assert(Stats.median(xs) === 50.5)
    assert(Stats.tailText(xs, "s") === "p90=90.1000 s (n=100)")
    assert(Stats.tailText(xs.take(5), "s").contains("n=5"))
  }

  test("lag attribution on a synthetic progress sequence") {
    val b = Load.StampBase
    def batch(endMs: Long, rows: Long, ranges: (Side, Long, Long)*) =
      Batch("q", ranges, rows, endMs, Map("triggerExecution" -> 100L))
    val batches = Seq(
      // the first batch reads from the stream's beginning
      batch(1000, 3, (Cql, Long.MinValue, b + 2), (Es, Long.MinValue, b + 1)),
      batch(2500, 2, (Cql, b + 2, b + 5), (Es, b + 1, b + 1)),
      batch(4000, 0, (Cql, b + 5, b + 5), (Es, b + 1, b + 1)),
      batch(5200, 1, (Cql, b + 5, b + 5), (Es, b + 1, b + 9)))
    val changes = Seq(
      Stamped(Cql, b + 2, 500.0), // covered by batch 1 (the end is inclusive)
      Stamped(Cql, b + 3, 1500.0), // batch 2
      Stamped(Es, b + 5, 3000.0), // not batch 2 or 3 (empty ES range): batch 4
      Stamped(Cql, b + 6, 4500.0)) // no batch covers it
    val lags = Lag.lags(changes, batches).map { case (c, l) => c.stamp - b -> l }
    assert(lags === Seq(2L -> 0.5, 3L -> 1.0, 5L -> 2.2))
    // classification by rows read and by which stamps the ranges cover
    assert(Lag.classify(Seq(batches(1)), changes) === Busy)
    assert(Lag.classify(Seq(batches(2)), changes) === Idle)
    assert(Lag.classify(Seq(batch(6000, 4, (Cql, b + 6, b + 6), (Es, b + 20, b + 30))),
      changes) === Echo)
    assert(Lag.classify(Nil, changes) === Idle)
  }

  test("the analytics panel is declared, checkable, and weighted to the suite's cost") {
    val fixtures = java.nio.file.Paths.get("fixtures")
    val panel = Analytics.readPanel(fixtures.resolve("analytics-panel.json"))
    val counts = Analytics.readCounts(fixtures.resolve("sf0.1-counts.json"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(fixtures.resolve("analytics-panel.json").toFile)
    val cost = root.path("cost_s")
    assert(panel.map(_.name).forall(q => graft.SparkEntry.queries.contains(q) && counts.contains(q)))
    assert(panel.map(_.cls).toSet === Analytics.Classes.toSet)
    assert(cost.size === graft.SparkEntry.queries.size)
    val weighted = panel.map(p => p.weight * cost.path(p.name).asDouble).sum
    assert(math.abs(weighted / root.path("suite_cost_s").asDouble - 1) < 1e-3)
  }

  test("BENCHMARK.json lists exactly the metrics a run prints") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(k: String) = (0 until root.path(k).size).map(i => root.path(k).get(i))
      .map(n => n.path("name").asText() -> n.path("unit").asText())
    assert(names("end_to_end").map(_._1) === Metrics.EndToEnd)
    assert(names("per_layer") === Layers.all)
    assert(names("workloads").map(_._1).forall(Main.Workloads.contains))
  }
}
