package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.SparkInternals

private final case class Span(id: Int, name: String, parent: Int, ms: Double)

/** A traced run's span record: a named interval with the span that
  * caused it. Spans here are built from the benchmark's own timers
  * around layer calls and from Spark's progress durations, so a span
  * carries its duration; a parent's self time is its duration minus the
  * durations of its (sequential, non-overlapping) children. */
final class Spans {
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Record a span and return its id, for children to name as parent. */
  def add(name: String, ms: Double, parent: Int = -1): Int = synchronized {
    spans += Span(spans.size, name, parent, ms)
    spans.size - 1
  }

  /** Total self time per span name, in ms. */
  def selfMs: Map[String, Double] = synchronized {
    val childMs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.groupMapReduce(_.name)(s => s.ms - childMs.getOrElse(s.id, 0.0))(_ + _)
  }

  /** Total duration per span name, in ms. */
  def totalMs: Map[String, Double] = synchronized { spans.groupMapReduce(_.name)(_.ms)(_ + _) }

  /** Write one JSON object per span. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"ms":${s.ms}%.3f}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Listeners a traced run attaches: Spark job/stage/task counters and a
  * per-SQL-execution timer that attributes each execution to the layer
  * it serves by the target it writes. An execution belongs to a
  * streaming micro-batch when its jobs carry the stream's query id (the
  * engine tags every job its stream thread launches). Time spent inside
  * these callbacks is itself counted, as part of the tracing overhead. */
final class Tracer(spark: SparkSession) {
  val jobs, stages, tasks = new AtomicLong
  val shuffleWriteBytes, inputBytes, spillBytes = new AtomicLong
  val callbackNs = new AtomicLong
  // execution id -> (target, ms, planning ms)
  private val execs = mutable.HashMap.empty[Long, (String, Double, Double)]
  // execution id -> its root execution id, for executions a stream's jobs ran in
  private val streamExecs = mutable.HashMap.empty[Long, Long]

  /** The layer an execution serves: a parquet write is a snapshot
    * commit; a write to a graft-es or graft-cql table is writeback to
    * that store; the micro-batch's own execution is the batch, which
    * contains the others; anything else computes (the merge, in a sync
    * batch). */
  def target(qe: QueryExecution): String =
    qe.logical.collectFirst {
      case w: V2WriteCommand if w.table.name.startsWith("graft-es") => "writeback_es"
      case w: V2WriteCommand if w.table.name.startsWith("graft-cql") => "writeback_cql"
      case p if p.nodeName == "InsertIntoHadoopFsRelationCommand" => "snapshot_commit"
      case p if p.nodeName.startsWith("WriteToMicroBatchDataSource") => "batch"
    }.getOrElse("merge")

  private val Writes = Set("snapshot_commit", "writeback_es", "writeback_cql")

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.incrementAndGet()
      val props = e.properties
      if (props != null && props.getProperty("sql.streaming.queryId") != null)
        Option(props.getProperty("spark.sql.execution.id")).flatMap(_.toLongOption)
          .foreach { id =>
            val root = Option(props.getProperty("spark.sql.execution.root.id"))
              .flatMap(_.toLongOption).getOrElse(id)
            execs.synchronized(streamExecs(id) = root)
          }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed(stages.incrementAndGet())
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      SparkInternals.executionEnd(e).foreach { case (id, ns, qe) =>
        timed {
          val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
          execs.synchronized { execs(id) = (target(qe), ns / 1e6, planning) }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)

  /** Wait until every listener event so far has been delivered. */
  def drain(): Unit = SparkInternals.drain(spark.sparkContext)

  /** Execution ms per target of the executions run inside streaming
    * micro-batches since the last call, less the batch's own. A write
    * runs its query as a nested execution; the write's own execution is
    * counted and the nested one, whose time it contains, is not. */
  def takeStreamExecMs(): Map[String, Double] = {
    drain()
    execs.synchronized {
      val ids = streamExecs.map { case (id, root) =>
        if (root != id && execs.get(root).exists(e => Writes(e._1))) root else id
      }.toSet
      val out = ids.toSeq.flatMap(execs.get).filter(_._1 != "batch")
        .groupMapReduce(_._1)(_._2)(_ + _)
      execs.clear()
      streamExecs.clear()
      out
    }
  }

  /** Catalyst planning ms (analysis + optimization + planning) since the last reset. */
  def planningMs: Double = { drain(); execs.synchronized(execs.values.map(_._3).sum) }

  def reset(): Unit = {
    drain()
    Seq(jobs, stages, tasks, shuffleWriteBytes, inputBytes, spillBytes, callbackNs).foreach(_.set(0))
    execs.synchronized { execs.clear(); streamExecs.clear() }
  }
}

/** Garbage-collection wall time of this JVM so far, in seconds. */
object Gc {
  def seconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  /** Heap in use after a forced collection, in MiB. */
  def retainedHeapMb: Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }
}
