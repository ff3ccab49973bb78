package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Static kernel, called through `StaticInvoke` from generated code and
  * interpreted eval alike.
  */
object CosineOps {

  /** Cosine similarity of two double arrays in one fused loop —
    * bit-identical to the HOF formulation
    * `dot(a,b) / (sqrt(Σa²)·sqrt(Σb²))` with left-to-right accumulation
    * (same multiply/add sequence, same sqrt/divide), 0.0 when either norm
    * is 0, null on length mismatch or null elements (exactly where the
    * zip_with/aggregate chain nulls out).
    *
    * Exists because the HOF formulation (a `zip_with` product array + three
    * `aggregate` folds per evaluation) is interpreted — and cosine runs in
    * the hottest inner loops of the similarity subsystem: once per candidate
    * PAIR in near-dup verification and once per (row, centroid) in IVF
    * assignment/training. Cross-checked in PipelineOpsSpec; the IVF/ANN
    * oracles also pin it, since assignment argmaxes compare unrounded
    * doubles.
    */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val norm = math.sqrt(na) * math.sqrt(nb)
    if (norm == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / norm)
  }

  /** [[cosine]] of two `array<double>` expressions: null when either side
    * is null, on a length mismatch or on a null element.
    */
  def cosineExpr(a: Expression, b: Expression): Expression =
    StaticInvoke(getClass, DoubleType, "cosine", Seq(a, b))
}
