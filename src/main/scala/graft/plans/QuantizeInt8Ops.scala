package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernel, called through `StaticInvoke` (the [[MinHashOps]] pattern). */
object QuantizeInt8Ops {

  /** Symmetric int8 quantization of a double vector in one pass —
    * IEEE-identical to the HOF pipeline it replaced
    * (scale = left-to-right max of |x|; q = floor(x / scale * 127.0 + 0.5)
    * as int; all-zero vector quantizes to zeros with scale 0). Returns a
    * struct(scale double, qvec array<int>). `isFloat` reads float
    * elements natively, so no cast pass precedes the kernel.
    *
    * Exists because the HOF formulation (an interpreted max-abs `aggregate`
    * plus a per-element `transform` with a branch per value) dominated the
    * quantized-serving queries. Cross-checked against
    * its HOF twin (`graft.HofOracles` in the specs) in PipelineOpsSpec.
    */
  def quantize(vec: ArrayData, isFloat: Boolean): InternalRow = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var scale = 0.0
    var i = 0
    while (i < n) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val a = math.abs(v(i))
      // NaN ordering matches Spark's greatest (NaN sorts above any double)
      if (a > scale || java.lang.Double.isNaN(a)) scale = a
      i += 1
    }
    val q = new Array[Int](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        q(i) = math.floor(v(i) / scale * 127.0 + 0.5).toInt
        i += 1
      }
    }
    InternalRow(scale, new GenericArrayData(q))
  }

  /** [[quantize]] of an `array<float>` (`isFloat`) or `array<double>`
    * expression; null vector → null.
    */
  def quantizeExpr(vec: Expression, isFloat: Boolean): Expression =
    StaticInvoke(getClass, StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("qvec", ArrayType(IntegerType, containsNull = false),
        nullable = false))), "quantize", Seq(vec, Literal(isFloat)))
}
