package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel, called through `StaticInvoke` (the [[MinHashOps]] pattern). */
object PortableMinHashOps {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Portable md5 MinHash signature of a token array, in one tight loop —
    * bit-identical to the HOF
    * `Dedup.minHashPortableSig`: slot i = lexicographic min over k-shingles
    * of `md5("i " + shingle)` (lowercase hex). Two exact identities make
    * the kernel cheap without changing a byte of output:
    *
    *   - lowercase-hex strings order EXACTLY like the unsigned digest
    *     bytes ('0'-'9' < 'a'-'f' in ASCII, two chars per byte, fixed
    *     width), so the running minima are kept as 16-byte digests and
    *     hex-encoded once at the end instead of allocating a hex string
    *     per (slot, shingle);
    *   - a min over a multiset equals the min over its distinct set, so
    *     each repeated shingle is digested once (word shingles repeat a
    *     lot — Zipf).
    *
    * Returns null when the token array yields no shingles (< k tokens),
    * like the HOF's `"g"`-sentinel guard.
    *
    * Exists because the HOF formulation (an `aggregate` whose accumulator
    * `zip_with` allocates a fresh 16-slot string array AND evaluates 16
    * interpreted md5/concat/least trees per shingle) dominated
    * d_minhash_quality's wall. Cross-checked against
    * its HOF twin (`graft.HofOracles` in the specs) in PipelineOpsSpec.
    */
  def portableSig(arr: ArrayData, k: Int, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val numShingles = n - k + 1
    if (numShingles <= 0) return null
    val md = md5.get()
    val seedBytes = new Array[Array[Byte]](numHashes)
    var s = 0
    while (s < numHashes) {
      seedBytes(s) = java.lang.Integer.toString(s)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      s += 1
    }
    // mins(slot) = current minimal 16-byte digest for that slot
    val mins = new Array[Array[Byte]](numHashes)
    val seen = new java.util.HashSet[UTF8String]()
    val parts = new Array[UTF8String](k)
    val Space = UTF8String.fromString(" ")
    var i = 0
    while (i < numShingles) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val shingle = UTF8String.concatWs(Space, parts: _*)
      if (seen.add(shingle)) {
        val shingleBytes = shingle.getBytes
        var slot = 0
        while (slot < numHashes) {
          md.reset()
          md.update(seedBytes(slot))
          md.update(' '.toByte)
          md.update(shingleBytes)
          val d = md.digest()
          val cur = mins(slot)
          if (cur == null || unsignedLess(d, cur)) mins(slot) = d
          slot += 1
        }
      }
      i += 1
    }
    val out = new Array[AnyRef](numHashes)
    var o = 0
    while (o < numHashes) {
      out(o) = UTF8String.fromString(hex(mins(o)))
      o += 1
    }
    new GenericArrayData(out)
  }

  /** [[portableSig]] of a token-array expression; null below k tokens. */
  def portableSigExpr(tokens: Expression, k: Int, numHashes: Int): Expression = {
    require(k >= 1 && numHashes >= 1, "k and numHashes must be positive")
    StaticInvoke(getClass, ArrayType(StringType, containsNull = false),
      "portableSig", Seq(tokens, Literal(k), Literal(numHashes)))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val c = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      c(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      c(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(c)
  }
}
