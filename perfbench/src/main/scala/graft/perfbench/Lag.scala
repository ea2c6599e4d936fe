package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One micro-batch as its progress report describes it, reduced to what
  * lag and round classification need: per source, the offset range
  * (start, end] of stamps it read, and the wall time it ended. */
final case class Batch(query: String, sources: Seq[(Side, Long, Long)],
    rowsRead: Long, endMs: Long, durationMs: Map[String, Long])

/** A change as the lag rule sees it: which store it was written to,
  * its stamp and when it was due (epoch ms). */
final case class Stamped(side: Side, stamp: Long, createdMs: Double)

/** Round classification by rows read. */
sealed trait RoundKind
case object Busy extends RoundKind // read at least one generated change
case object Echo extends RoundKind // read rows, but only relayed writebacks
case object Idle extends RoundKind // read nothing

object Lag {

  /** A progress report as a [[Batch]]. The graft wire sources' offsets
    * are stamps (a JSON long); a missing start offset is the stream's
    * beginning. Sources are told apart by their stream class, falling
    * back to their order (C* first, as SyncJob unions them). */
  def batch(query: String, p: StreamingQueryProgress): Batch = {
    def off(s: String, dflt: Long): Long =
      Option(s).map(_.trim).filter(_.nonEmpty).flatMap(_.toLongOption).getOrElse(dflt)
    val sources = p.sources.toSeq.zipWithIndex.map { case (s, i) =>
      val side: Side =
        if (s.description.contains("CqlMicroBatchStream")) Cql
        else if (s.description.contains("EsMicroBatchStream")) Es
        else if (i == 0) Cql else Es
      (side, off(s.startOffset, Long.MinValue), off(s.endOffset, Long.MinValue))
    }
    val dur = p.durationMs.entrySet().toArray.map {
      case e: java.util.Map.Entry[_, _] =>
        e.getKey.toString -> e.getValue.asInstanceOf[java.lang.Long].longValue
    }.toMap
    Batch(query, sources, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli + dur.getOrElse("triggerExecution", 0L),
      dur)
  }

  /** Per change, the lag in seconds from its creation to the end of the
    * first batch whose offset range on the change's store covers its
    * stamp. A change no batch covers is absent from the result. */
  def lags(changes: Seq[Stamped], batches: Seq[Batch]): Seq[(Stamped, Double)] = {
    val ranges = batches.sortBy(_.endMs).flatMap(b =>
      b.sources.collect { case (side, s, e) if e > s => (side, s, e, b.endMs) })
    changes.flatMap { c =>
      ranges.collectFirst {
        case (side, s, e, end) if side == c.side && c.stamp > s && c.stamp <= e =>
          c -> (end - c.createdMs) / 1000.0
      }
    }
  }

  /** Busy when a batch of the round covered a generated change's stamp,
    * echo when it read rows but covered none, idle when it read nothing. */
  def classify(round: Seq[Batch], changes: Seq[Stamped]): RoundKind =
    if (round.map(_.rowsRead).sum == 0) Idle
    else if (round.exists(b => b.sources.exists { case (side, s, e) =>
      changes.exists(c => c.side == side && c.stamp > s && c.stamp <= e) }))
      Busy
    else Echo
}
