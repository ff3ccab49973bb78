package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Static kernel, called through `StaticInvoke` from generated code and
  * interpreted eval alike (the static forwarder on `graft.plans.SimHashOps`).
  */
object SimHashOps {

  /** 64-bit SimHash over a token array: per-token xxhash64 (Spark's XXH64,
    * seed 42 — bit-identical to the `xxhash64` SQL function), per-bit ±1
    * votes, bit set where votes > 0. Single tight loop, one 64-int
    * scratch array per row.
    *
    * Exists because the HOF formulation (`aggregate` over tokens with a
    * 64-element `zip_with` vote accumulator per token) is interpreted —
    * higher-order functions don't participate in codegen — and allocates a
    * fresh 64-element array per (token, row). Semantics are bit-identical to
    * the HOF form (same per-token `xxhash64` seed-42 hash, same ±1 votes,
    * same bit fold), cross-checked in PipelineOpsSpec.
    */
  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** [[simhash]] of a token-array expression; null tokens array → null. */
  def simhashExpr(tokens: Expression): Expression =
    StaticInvoke(getClass, LongType, "simhash", Seq(tokens), returnNullable = false)
}
