package graft.perfbench

/** The store a change is written to. */
sealed trait Side { def name: String }
case object Cql extends Side { val name = "cql" }
case object Es extends Side { val name = "es" }

/** One cell change of the cell loop: `cell` (an index into [[Load.Cells]])
  * of `key` takes the value numbered `value` under `stamp` (epoch-µs). */
final case class CellWrite(side: Side, key: Long, cell: Int, value: Long, stamp: Long)

/** One row change of the row loop's change tables (pk = uid). */
final case class RowWrite(side: Side, key: Long, uid: Long, stamp: Long, payload: String)

/** Seeded load generation. Everything here is a pure function of the
  * seed and the sizes: the same seed gives the same keys, sides, cells,
  * values and stamps. Stamps are logical (a fixed base plus a running
  * write number), so they rise monotonically on each store and never
  * tie; the wall-clock creation time of each change is recorded apart by
  * the workload, for lag. */
object Load {
  /** The cell loop's data columns. */
  val Cells: Seq[String] = Seq("status", "val")

  /** `status` cells hold text, `val` cells a number; both derive from
    * the change's value number so the model stays numeric. */
  def statusText(value: Long): String = s"s$value"

  /** First logical stamp (epoch-µs, late 2023). */
  val StampBase: Long = 1700000000000000L

  /** Zipf(s) over ranks 0..n-1: P(rank r) ∝ 1/(r+1)^s. Key = rank, so
    * low keys are hot. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(rng: scala.util.Random): Long = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else math.min(-i - 1, n - 1)).toLong
    }
  }

  /** The cell store's preload: every key 0..keys-1 written once on C*,
    * both cells, stamp = base + key. */
  def cellPreload(keys: Int): Seq[CellWrite] =
    (0 until keys).flatMap { k =>
      Cells.indices.map(c => CellWrite(Cql, k.toLong, c, k.toLong, StampBase + k))
    }

  /** Burst `b` of the cell loop: `size` cell changes, half to each
    * store in a seeded order, keys Zipf-skewed so hot keys are written
    * on both sides and conflict per cell. Stamps continue after the
    * preload and every earlier burst. The burst's last (newest) change
    * goes to C*: its relay then lands in ES above the ES cursor, so
    * every burst has exactly one echo round rather than one by chance. */
  def cellBurst(seed: Long, b: Int, keys: Int, size: Int, zipfS: Double): Seq[CellWrite] = {
    val rng = new scala.util.Random(seed * 1000003L + b)
    val zipf = new Zipf(keys, zipfS)
    val shuffled = rng.shuffle(Seq.fill(size / 2)(Cql: Side) ++ Seq.fill(size - size / 2)(Es: Side))
    val lastCql = shuffled.lastIndexOf(Cql)
    val sides = shuffled.updated(lastCql, shuffled.last).updated(size - 1, Cql)
    val first = StampBase + keys.toLong + b.toLong * size
    sides.zipWithIndex.map { case (side, i) =>
      val stamp = first + i
      CellWrite(side, zipf.draw(rng), rng.nextInt(Cells.size), stamp - StampBase, stamp)
    }
  }

  /** The row loop's preload: `rows` changes over `keys` keys, alternating
    * stores, uid = row number, stamp = base + uid. */
  def rowPreload(seed: Long, rows: Int, keys: Int): Seq[RowWrite] = {
    val rng = new scala.util.Random(seed)
    (0 until rows).map(i => row(if (i % 2 == 0) Cql else Es, rng.nextInt(keys), i.toLong))
  }

  /** Change `i` of the row loop's open-loop trickle: alternating
    * stores, uniform keys, uids after the preload's. */
  def rowTrickle(seed: Long, preloadRows: Int, keys: Int): Iterator[RowWrite] = {
    val rng = new scala.util.Random(seed * 1000003L + 1)
    Iterator.from(0).map(i =>
      row(if (i % 2 == 0) Cql else Es, rng.nextInt(keys), preloadRows.toLong + i))
  }

  private def row(side: Side, key: Long, uid: Long): RowWrite =
    RowWrite(side, key, uid, StampBase + uid, s"p$uid")
}
