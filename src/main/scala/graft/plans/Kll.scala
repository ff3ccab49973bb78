package graft.plans

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory

/** Driver-side operations on serialized KLL quantile sketches (Apache
  * DataSketches `KllDoublesSketch`).
  *
  * The sketches themselves are built by Spark's own aggregate,
  * `kll_sketch_agg_double` (default k = 200), whose bytes are the library's
  * `KllDoublesSketch.toByteArray`: per-partition sketches are checkpointed
  * next to the commit log and unioned later, like the HLL flow in
  * `Stats.partitionSketches`. At 10^12 docs the drift check becomes "merge
  * yesterday's sketch bytes with today's partials", with no re-scan.
  * `percentile_approx` covers the SQL-expressible cases; the sketch covers
  * the mergeable, persistent one.
  */
object Kll {

  def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  def quantiles(bytes: Array[Byte], probs: Seq[Double]): Seq[Double] = {
    val s = deserialize(bytes)
    probs.map(p => s.getQuantile(p))
  }

  /** Union previously materialized sketches (e.g. per-partition). */
  def union(sketches: Seq[Array[Byte]], k: Int = 200): Array[Byte] = {
    val acc = KllDoublesSketch.newHeapInstance(k)
    sketches.foreach(b => acc.merge(deserialize(b)))
    acc.toByteArray
  }

  /** Two-sample KS statistic from two sketches: max CDF gap over the merged
    * quantile grid (rank queries on both sketches). An empty sketch (zero
    * non-null rows) has no CDF, so it raises rather than read as "no drift".
    */
  def ks(a: Array[Byte], b: Array[Byte], gridSize: Int = 201): Double = {
    val sa = deserialize(a)
    val sb = deserialize(b)
    require(!sa.isEmpty, "Kll.ks: no non-null rows on side 'a' (empty sketch)")
    require(!sb.isEmpty, "Kll.ks: no non-null rows on side 'b' (empty sketch)")
    val probs = (0 until gridSize).map(i => i.toDouble / (gridSize - 1))
    val grid = (probs.map(sa.getQuantile) ++ probs.map(sb.getQuantile)).distinct.sorted
    grid.map(x => math.abs(sa.getRank(x) - sb.getRank(x))).max
  }
}
