package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Static kernel, called through `StaticInvoke` (the [[MinHashOps]] pattern). */
object LshBucketsOps {

  /** Plane matrices are data-independent constants (xxhash64 of
    * (table, plane, dim), the [[graft.operators.Similarity]] derivation);
    * cache them per (nPlanes, dims, nTables) so each task computes them
    * once, not once per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def planes(nPlanes: Int, dims: Int, nTables: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dims, nTables), { _ =>
      // row t*nPlanes+p = the plane-p components for table t
      val m = new Array[Array[Double]](nTables * nPlanes)
      var t = 0
      while (t < nTables) {
        var p = 0
        while (p < nPlanes) {
          val row = new Array[Double](dims)
          var d = 0
          while (d < dims) {
            val h = XXH64.hashInt(d, XXH64.hashInt(p, XXH64.hashInt(t, 42L)))
            val mm = ((h % 2001L) + 2001L) % 2001L
            row(d) = (mm.toDouble - 1000.0) / 1000.0
            d += 1
          }
          m(t * nPlanes + p) = row
          p += 1
        }
        t += 1
      }
      m
    })

  /** All `nTables` sign-bit LSH bucket ids of one double vector in one
    * tight loop — bit-identical to `Similarity.lshBucket` per table (same
    * plane constants, same left-to-right FP accumulation over dims), which
    * evaluated nTables interpreted `aggregate`/`zip_with` trees per row,
    * each allocating a boxed dims-array per plane. Null on a dims mismatch.
    *
    * Exists because that HOF formulation (one interpreted
    * `aggregate(zip_with(...))` per (table, plane)) allocated
    * nTables×nPlanes boxed arrays per row and dominated the LSH index build
    * (s_ann_lsh). Cross-checked per table against `Similarity.lshBucket` /
    * `lshBucketScala` in PipelineOpsSpec.
    */
  def buckets(vec: ArrayData, dims: Int, nPlanes: Int, nTables: Int): ArrayData = {
    if (vec.numElements() != dims) return null
    val m = planes(nPlanes, dims, nTables)
    val v = new Array[Double](dims)
    var d = 0
    while (d < dims) { v(d) = vec.getDouble(d); d += 1 }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var acc = 0L
      var p = 0
      while (p < nPlanes) {
        val row = m(t * nPlanes + p)
        var proj = 0.0
        var i = 0
        while (i < dims) { proj += v(i) * row(i); i += 1 }
        if (proj >= 0) acc |= (1L << p)
        p += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }

  /** [[buckets]] of an `array<double>` expression. */
  def bucketsExpr(vec: Expression, dims: Int, nPlanes: Int,
      nTables: Int): Expression = {
    require(dims >= 1 && nPlanes >= 1 && nPlanes <= 63 && nTables >= 1,
      "bad LSH geometry")
    StaticInvoke(getClass, ArrayType(LongType, containsNull = false), "buckets",
      Seq(vec, Literal(dims), Literal(nPlanes), Literal(nTables)))
  }
}
