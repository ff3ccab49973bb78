package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static span kernels (scalac emits static forwarders on
  * `graft.plans.SpanOps`, which `StaticInvoke` calls from generated code and
  * interpreted eval alike).
  */
object SpanOps {
  private val MEDIA = UTF8String.fromString("media")
  private val TEXT = UTF8String.fromString("text")

  /** `^m-[0-9a-f]{8}$` without a regex engine. */
  def refOk(ref: UTF8String): Boolean = {
    if (ref == null || ref.numBytes() != 10) return false
    if (ref.getByte(0) != 'm' || ref.getByte(1) != '-') return false
    var i = 2
    while (i < 10) {
      val b = ref.getByte(i)
      if (!((b >= '0' && b <= '9') || (b >= 'a' && b <= 'f'))) return false
      i += 1
    }
    true
  }

  /** Per-span scalar checks 1-5 of SpanInvariant (kind enum, media_ref
    * consistency + pattern, text consistency, offset >= 0).
    */
  def spanOk(kind: UTF8String, text: UTF8String, ref: UTF8String, offset: Int): Boolean = {
    if (kind == null || offset < 0) return false
    val isMedia = kind.equals(MEDIA)
    val isText = kind.equals(TEXT)
    if (!isMedia && !isText) return false
    val hasRef = ref != null && ref.numBytes() > 0
    if (isMedia != hasRef) return false
    if (hasRef && !refOk(ref)) return false
    if (isText && (text == null || text.numBytes() == 0)) return false
    true
  }

  /** The north-rule span invariant over one span array, in one tight loop
    * with no intermediate arrays: every span passes [[spanOk]] and offsets
    * are strictly increasing. Empty arrays pass; null arrays, null spans
    * and null offsets fail. The field positions come from the resolved
    * span struct ([[SpanInvariantHolds]]).
    *
    * Exists because the predicate runs on every row, and here it is one
    * pass that reads the four fields by position and compares each offset
    * with the previous one. The higher-order-function formulation it
    * replaced (`forall`/`zip_with`/`slice`, now the specs' oracle
    * `graft.HofOracles.spanPredHof`) was interpreted and allocated shifted
    * copies of the span array per row — profiled at ~2× the wall time.
    * The violations side ([[graft.operators.SpanInvariant.violationsCol]])
    * runs only on failing rows, as generated [[ArrayLoop]]s. Semantics are
    * identical (cross-checked in tests against the HOF form).
    */
  def holds(arr: ArrayData, kindIdx: Int, textIdx: Int, refIdx: Int,
      offIdx: Int, nFields: Int): Boolean = {
    if (arr == null) return false
    val n = arr.numElements()
    var ok = true
    var prev = Int.MinValue
    var i = 0
    while (ok && i < n) {
      if (arr.isNullAt(i)) ok = false
      else {
        val s = arr.getStruct(i, nFields)
        val kind = if (s.isNullAt(kindIdx)) null else s.getUTF8String(kindIdx)
        val text = if (s.isNullAt(textIdx)) null else s.getUTF8String(textIdx)
        val ref = if (s.isNullAt(refIdx)) null else s.getUTF8String(refIdx)
        val off = if (s.isNullAt(offIdx)) Int.MinValue else s.getInt(offIdx)
        ok = off != Int.MinValue && off > prev && spanOk(kind, text, ref, off)
        prev = off
      }
      i += 1
    }
    ok
  }
}

/** `span_invariant(spans)`: [[SpanOps.holds]] bound to the field positions
  * of the resolved span struct. The positions depend on the input type, so
  * this one kernel is a `RuntimeReplaceable` (Spark's `Base64` idiom): the
  * optimizer swaps in the `StaticInvoke`, which runs inside whole-stage
  * codegen and interpreted alike. Null spans yield false, never null.
  */
case class SpanInvariantHolds(child: Expression) extends UnaryExpression
    with RuntimeReplaceable {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "span_invariant"

  override lazy val replacement: Expression = {
    val st = child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val idx = Seq("kind", "text", "media_ref", "offset").map(f => Literal(st.fieldIndex(f)))
    StaticInvoke(SpanOps.getClass, BooleanType, "holds",
      child +: idx :+ Literal(st.size), propagateNull = false, returnNullable = false)
  }

  override protected def withNewChildInternal(newChild: Expression): SpanInvariantHolds =
    copy(child = newChild)
}
