package graft.plans

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Mergeable quantile-sketch aggregate (KLL, Apache DataSketches) as a
  * `TypedImperativeAggregate` — the "custom sketch aggregate" slot from
  * SURVEY.md §7/M5 (t-digest-class accuracy with proven error bounds and a
  * compact serialized form).
  *
  * Returns the serialized sketch (binary) so per-partition sketches can be
  * checkpointed next to the commit log and unioned later (`merge`), exactly
  * like the HLL flow in `Stats.partitionSketches`: at 10^12 docs the drift
  * check becomes "merge yesterday's sketch bytes with today's partials" —
  * no re-scan. `percentile_approx` covers the SQL-expressible cases; this
  * covers the mergeable/persistent one.
  */
case class KllSketchAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] with UnaryLike[Expression] {

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v match {
      case d: Double => d
      case f: Float => f.toDouble
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    })
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** Column-level API + driver-side sketch operations. */
object Kll {

  /** Aggregate a numeric column into KLL sketch bytes. */
  def sketchAgg(c: Column, k: Int = 200): Column =
    GraftShims.column(KllSketchAgg(GraftShims.expression(c), k)
      .toAggregateExpression())

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
