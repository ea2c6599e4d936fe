package graft.perfbench

import scala.collection.mutable

/** Winning state of one cell: the value number and its stamp. */
final case class CellState(value: Long, stamp: Long)

/** The reference per-cell last-write-wins model of the cell loop,
  * written without Spark: each (key, cell) holds the write with the
  * greatest stamp, and an equal stamp goes to the greater value
  * (Cassandra's tie-break: text cells compare as text, numbers as
  * numbers). The converged stores and snapshots must equal it. */
final class CellModel {
  private val state = mutable.HashMap.empty[Long, Array[CellState]]

  def apply(w: CellWrite): Unit = {
    val row = state.getOrElseUpdate(w.key, new Array[CellState](Load.Cells.size))
    val cur = row(w.cell)
    if (cur == null || w.stamp > cur.stamp ||
        (w.stamp == cur.stamp && valueGt(w.cell, w.value, cur.value)))
      row(w.cell) = CellState(w.value, w.stamp)
  }

  def applyAll(ws: Iterable[CellWrite]): this.type = { ws.foreach(apply); this }

  /** Per key, the winning state of each cell (null = never written). */
  def rows: collection.Map[Long, Array[CellState]] = state

  private def valueGt(cell: Int, a: Long, b: Long): Boolean =
    if (Load.Cells(cell) == "status") Load.statusText(a) > Load.statusText(b) else a > b
}

/** The reference per-row last-write-wins model of the row loop: per key,
  * the change with the greatest stamp, ties broken by the greater uid. */
final class RowModel {
  private val state = mutable.HashMap.empty[Long, RowWrite]

  def apply(w: RowWrite): Unit = state.get(w.key) match {
    case Some(cur) if cur.stamp > w.stamp || (cur.stamp == w.stamp && cur.uid >= w.uid) => ()
    case _ => state(w.key) = w
  }

  def applyAll(ws: Iterable[RowWrite]): this.type = { ws.foreach(apply); this }

  def rows: collection.Map[Long, RowWrite] = state
}
