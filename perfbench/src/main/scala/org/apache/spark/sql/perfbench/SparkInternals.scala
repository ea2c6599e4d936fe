package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal hooks a traced run needs, hence this package. */
object SparkInternals {

  /** Spark delivers listener events asynchronously; a measurement must
    * wait until every event of the work it just timed has arrived before
    * it reads its counters. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A finished SQL execution: (execution id, wall ns, its query
    * execution). The execution id is the one its jobs carry, which ties
    * an execution to the stream that launched it. */
  def executionEnd(e: SparkListenerEvent): Option[(Long, Long, QueryExecution)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      Some((end.executionId, end.duration, end.qe))
    case _ => None
  }
}
