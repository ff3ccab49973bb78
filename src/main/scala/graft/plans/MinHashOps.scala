package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels, called through `StaticInvoke` from generated code and
  * interpreted eval alike (the static forwarders on `graft.plans.MinHashOps`).
  */
object MinHashOps {

  private val Space = UTF8String.fromString(" ")

  /** MinHash LSH band hashes of a token array, in one tight loop —
    * bit-identical to the HOF pipeline
    * `Dedup.bandHashes(Dedup.shingles(text, k), numHashes, bands)`:
    *
    *   - shingle string = k consecutive tokens joined by " ";
    *   - slot j of the signature = min over shingles of Spark's
    *     `xxhash64(shingle, j)`, which decomposes as
    *     `hashInt(j, hashUTF8String(shingle, 42))` — so the kernel hashes
    *     each shingle STRING once and derives all `numHashes` slots with
    *     cheap integer mixes (the HOF re-hashes the full string per slot:
    *     numHashes× more byte traffic);
    *   - band b = `xxhash64(concat_ws(",", slots[b*r .. b*r+r-1]))` — the
    *     decimal rendering matches Spark's long→string cast.
    *
    * Returns null when the token array yields no shingles (< k tokens),
    * like the HOF's empty-signature guard.
    *
    * Exists because the HOF formulation (shingle strings via zip_with chains,
    * then an `aggregate` whose accumulator zip_with re-hashes the FULL shingle
    * string once per signature slot) is interpreted and does numHashes× the
    * necessary byte hashing — it dominated d_dedup_minhash's wall (BENCH r3:
    * 8.5 s, the most expensive query). Cross-checked in PipelineOpsSpec.
    */
  def bandHashes(arr: ArrayData, k: Int, numHashes: Int, bands: Int): ArrayData = {
    val n = arr.numElements()
    val numShingles = n - k + 1
    if (numShingles <= 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < numShingles) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val base = XXH64.hashUTF8String(UTF8String.concatWs(Space, parts: _*), 42L)
      var s = 0
      while (s < numHashes) {
        val h = XXH64.hashInt(s, base)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(r * 21)
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(mins(b * r + j))
        j += 1
      }
      out(b) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** DISTINCT shingle base-hashes of a token array, first-occurrence order —
    * bit-identical to `array_distinct(transform(Dedup.shingles(text, k),
    * s => xxhash64(s)))` (Spark's single-arg xxhash64 = XXH64 of the UTF-8
    * bytes with seed 42, exactly the `base` hash [[bandHashes]] derives its
    * slots from). This is the one-scan proxy the whole near-dup pipeline
    * (banding AND exact-Jaccard verify) derives from: hash each shingle
    * string ONCE per document, materialize the 8-byte set, and no later
    * stage ever re-reads or re-shingles the text.
    *
    * Returns null when the token array yields no shingles (< k tokens) —
    * such docs can never be banding candidates.
    *
    * Exists because the HOF `array_distinct(transform(shingles(text, k),
    * xxhash64))` chain it replaced on the near-dup path is interpreted, and
    * was re-run per consumer.
    */
  def shingleHashes(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val numShingles = n - k + 1
    if (numShingles <= 0) return null
    val seen = new java.util.HashSet[java.lang.Long](numShingles * 2)
    val out = new Array[Long](numShingles)
    var m = 0
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < numShingles) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val base = XXH64.hashUTF8String(UTF8String.concatWs(Space, parts: _*), 42L)
      if (seen.add(base)) { out(m) = base; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == numShingles) out
      else java.util.Arrays.copyOf(out, m))
  }

  /** MinHash LSH band hashes FROM a shingle base-hash array — the integer
    * half of [[bandHashes]] (per-slot mins via `XXH64.hashInt(slot, base)`,
    * band fold via the decimal-joined slot hash), with the string hashing
    * already paid by [[shingleHashes]]. Distinctness cannot change the
    * result (each slot is a min over the base-hash SET), so
    * `bandHashesFromHashes(shingleHashes(toks, k), n, b)` is bit-identical
    * to `bandHashes(toks, k, n, b)` (cross-checked in PipelineOpsSpec):
    * integer mixes only — zero string hashing, zero text access.
    */
  def bandHashesFromHashes(arr: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = arr.getLong(i)
      var s = 0
      while (s < numHashes) {
        val h = XXH64.hashInt(s, base)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(r * 21)
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(mins(b * r + j))
        j += 1
      }
      out(b) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      b += 1
    }
    new GenericArrayData(out)
  }
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** [[bandHashes]] of a token-array expression; null below k tokens. */
  def bandHashesExpr(tokens: Expression, k: Int, numHashes: Int,
      bands: Int): Expression = {
    require(k >= 1 && numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      "numHashes must divide into bands")
    StaticInvoke(getClass, LongArray, "bandHashes",
      Seq(tokens, Literal(k), Literal(numHashes), Literal(bands)))
  }

  /** [[shingleHashes]] of a token-array expression; null below k tokens. */
  def shingleHashesExpr(tokens: Expression, k: Int): Expression = {
    require(k >= 1, "k must be >= 1")
    StaticInvoke(getClass, LongArray, "shingleHashes", Seq(tokens, Literal(k)))
  }

  /** [[bandHashesFromHashes]] of a shingle-hash-array expression. */
  def bandHashesFromHashesExpr(hashes: Expression, numHashes: Int,
      bands: Int): Expression = {
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      "numHashes must divide into bands")
    StaticInvoke(getClass, LongArray, "bandHashesFromHashes",
      Seq(hashes, Literal(numHashes), Literal(bands)))
  }
}
