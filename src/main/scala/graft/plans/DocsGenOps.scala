package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for the [[graft.sources.DocsGen]] row builder.
  *
  * The HOF formulation generates each doc's spans with a
  * `transform(sequence(...), i => struct(...))` whose lambda evaluates
  * ~8 independent `abs(xxhash64(id, seed, c, i))` channel trees per span —
  * interpreted (HOFs get no whole-stage codegen and no CSE), it profiled
  * at ~100 µs/row and dominated i_validate / gen_validate /
  * v_stream_validate and the (untimed) 48M-doc bench-corpus build.
  *
  * This kernel replays the EXACT hash channels in one tight loop:
  * Spark's `xxhash64(id, lit(seed), lit(c), i)` folds left from seed 42 —
  * `hashInt(i, hashInt(c, hashLong(seed, hashLong(id, 42))))` — so the
  * (id, seed) prefix is computed once per row and each channel costs two
  * integer mixes. Bit-identity with the HOF (every knob channel, every
  * string form) is pinned in DocsGenKernelSpec.
  */
object DocsGenOps {

  private val KindText = UTF8String.fromString("text")
  private val KindMedia = UTF8String.fromString("media")
  private val KindBlob = UTF8String.fromString("blob")
  private val BadRef = UTF8String.fromString("BAD_REF")
  private val Empty = UTF8String.fromString("")

  /** `abs(xxhash64(id, seed, c, i))` with the (id, seed) fold hoisted. */
  private def chan(base: Long, c: Int, i: Int): Long =
    math.abs(XXH64.hashInt(i, XXH64.hashInt(c, base)))

  private def perMille(base: Long, c: Int, i: Int): Long =
    chan(base, c, i) % 1000L // chan is non-negative; pmod == %

  /** Decimal rendering zero-padded to `width` (lpad semantics for the
    * generator's id range: the rendering never exceeds the pad width).
    */
  private def padDec(v: Long, width: Int): UTF8String = {
    val d = java.lang.Long.toString(v)
    if (d.length >= width) // lpad TRUNCATES over-width input
      return UTF8String.fromString(d.substring(0, width))
    val sb = new java.lang.StringBuilder(width)
    var j = d.length
    while (j < width) { sb.append('0'); j += 1 }
    sb.append(d)
    UTF8String.fromString(sb.toString)
  }

  /** `lpad(lower(hex(v)), width, "0")` for the generator's ref range. */
  private def padHex(v: Long, width: Int): UTF8String = {
    val h = java.lang.Long.toHexString(v) // lowercase, like lower(hex(v))
    if (h.length >= width)
      return UTF8String.fromString(h.substring(0, width))
    val sb = new java.lang.StringBuilder(width)
    var j = h.length
    while (j < width) { sb.append('0'); j += 1 }
    sb.append(h)
    UTF8String.fromString(sb.toString)
  }

  def row(id: Long, seed: Long, nParts: Int, dup: Int, badKind: Int,
      badRef: Int, badOrder: Int, negOff: Int, nullId: Int, dangling: Int,
      skew: Int): InternalRow = {
    val base = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
    // doc_id
    val docNum =
      if (dup != 0 && perMille(base, 1, 0) < dup && id > 0) id - 1 else id
    val docId: UTF8String =
      if (nullId != 0 && perMille(base, 2, 0) < nullId) null
      else UTF8String.concat(UTF8String.fromString("d-"), padDec(docNum, 12))
    // spans
    val nSpans = (chan(base, 3, 0) % 6L + 2L).toInt
    val spans = new Array[Any](nSpans)
    var i = 0
    while (i < nSpans) {
      val isMedia = chan(base, 4, i) % 3L == 0L
      val kind =
        if (badKind != 0 && perMille(base, 5, i) < badKind) KindBlob
        else if (isMedia) KindMedia else KindText
      val refNum =
        if (skew <= 0) chan(base, 6, i) % 100000L
        else if (chan(base, 12, i) % (skew + 1).toLong < skew.toLong) 7L
        else chan(base, 6, i) % 100000L
      var mediaRef =
        if (isMedia)
          UTF8String.concat(UTF8String.fromString("m-"), padHex(refNum, 8))
        else Empty
      if (badRef != 0 && isMedia && perMille(base, 7, i) < badRef)
        mediaRef = BadRef
      if (dangling != 0 && isMedia && perMille(base, 8, i) < dangling)
        mediaRef = UTF8String.concat(UTF8String.fromString("m-ffff"),
          padHex(chan(base, 13, i) % 4096L, 4))
      val text =
        if (isMedia) Empty
        else UTF8String.fromString(
          "tok" + (chan(base, 9, i) % 997L) + " word" + (chan(base, 10, i) % 31L))
      var off = (i * 10 + (chan(base, 11, i) % 5L)).toInt
      if (badOrder != 0 && perMille(base, 14, i) < badOrder && i > 1)
        off = i * 10 - 15
      if (negOff != 0 && perMille(base, 15, i) < negOff)
        off = -1
      spans(i) = InternalRow(kind, text, mediaRef, off)
      i += 1
    }
    val part = (chan(base, 16, 0) % nParts.toLong).toInt
    InternalRow(docId, new GenericArrayData(spans), part)
  }

  private val spanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)))
  private val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("spans", ArrayType(spanType, containsNull = false),
      nullable = false),
    StructField("part", IntegerType, nullable = false)))

  /** [[row]] of a bigint id expression: one `(doc_id, spans, part)` struct
    * per id, bit-identical to the HOF channel math (DocsGenKernelSpec).
    */
  def rowExpr(id: Expression, seed: Long, nParts: Int, dup: Int,
      badKind: Int, badRef: Int, badOrder: Int, negOff: Int, nullId: Int,
      dangling: Int, skew: Int): Expression = {
    require(nParts > 0, "nParts must be positive")
    StaticInvoke(getClass, schema, "row", id +: Literal(seed) +: Seq(nParts,
      dup, badKind, badRef, badOrder, negOff, nullId, dangling, skew)
      .map(Literal(_)), returnNullable = false)
  }
}
