package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, fully distributed generator for the north-rule corpus
  * (BASELINE.json `input_hint`):
  *
  * {{{
  * docs(doc_id: string,
  *      spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>,
  *      part: int)
  * media_catalog(media_ref: string, mime: string, bytes: long)
  * }}}
  *
  * Everything derives from `spark.range(n)` + `xxhash64` arithmetic — pure
  * Column expressions, no driver-side data, no RNG state — so the exact same
  * table materializes at any scale factor and any partitioning (the 100 TB
  * version is the same expression over a bigger range). Violation injection
  * knobs are per-mille rates keyed off independent hash channels, so expected
  * counts are testable and each corruption kind is independent.
  */
object DocsGen {

  final case class Knobs(
      nDocs: Long = 10000L,
      nParts: Int = 16,
      seed: Long = 42L,
      dupPerMille: Int = 0, // duplicate doc_id rate
      badKindPerMille: Int = 0, // span.kind outside {text, media}
      badMediaRefPerMille: Int = 0, // media span with malformed/empty media_ref
      badOrderPerMille: Int = 0, // offset ordering violated
      negOffsetPerMille: Int = 0, // offset < 0
      nullDocIdPerMille: Int = 0, // required-field violation
      danglingRefPerMille: Int = 0, // media_ref absent from catalog
      skew: Int = 0) // 0 = uniform; k>0 sends ~k/(k+1) of media refs to one hot ref

  /** Independent deterministic hash channel c of row id (and element i). */
  private def h(id: Column, seed: Long, c: Int, i: Column = lit(0)): Column =
    abs(xxhash64(id, lit(seed), lit(c), i))

  private def perMille(id: Column, seed: Long, c: Int, i: Column = lit(0)): Column =
    pmod(h(id, seed, c, i), lit(1000L))

  /** The generated docs table — native kernel path: one
    * [[graft.plans.DocsGenOps.row]] struct per id (bit-identical to the HOF
    * twin [[docsHof]], pinned by DocsGenKernelSpec). The HOF's
    * interpreted `transform` lambda re-evaluated ~8 full xxhash64 channel
    * trees per span (~100 µs/row — it dominated i_validate/gen_validate
    * and the 48M-doc bench-corpus build); the kernel hoists the (id,
    * seed) hash prefix and pays two integer mixes per channel.
    */
  def docs(spark: SparkSession, k: Knobs): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val r = GraftShims.column(graft.plans.DocsGenOps.rowExpr(
      GraftShims.expression(col("id")), k.seed, k.nParts, k.dupPerMille,
      k.badKindPerMille, k.badMediaRefPerMille, k.badOrderPerMille,
      k.negOffsetPerMille, k.nullDocIdPerMille, k.danglingRefPerMille,
      k.skew))
    spark.range(k.nDocs).select(r.as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.spans").as("spans"),
        col("r.part").as("part"))
  }

  /** HOF twin of [[docs]] — kept as the bit-identity oracle for the
    * native kernel (DocsGenKernelSpec), not used on any query path.
    */
  private[graft] def docsHof(spark: SparkSession, k: Knobs): DataFrame = {
    val id = col("id")
    val base = spark.range(k.nDocs)

    // duplicate injection: map a dupPerMille slice of ids onto their neighbor
    val docNum =
      if (k.dupPerMille == 0) id
      else when(perMille(id, k.seed, 1) < lit(k.dupPerMille.toLong) && id > 0, id - 1)
        .otherwise(id)
    val docId =
      if (k.nullDocIdPerMille == 0) concat(lit("d-"), lpad(docNum.cast("string"), 12, "0"))
      else when(perMille(id, k.seed, 2) < lit(k.nullDocIdPerMille.toLong), lit(null))
        .otherwise(concat(lit("d-"), lpad(docNum.cast("string"), 12, "0")))

    val nSpans = (pmod(h(id, k.seed, 3), lit(6L)) + 2L).cast("int") // 2..7 spans
    val spans = transform(sequence(lit(0), nSpans - 1), i => {
      val isMedia = pmod(h(id, k.seed, 4, i), lit(3L)) === 0L
      val kind =
        if (k.badKindPerMille == 0) when(isMedia, "media").otherwise("text")
        else when(perMille(id, k.seed, 5, i) < lit(k.badKindPerMille.toLong), lit("blob"))
          .otherwise(when(isMedia, "media").otherwise("text"))
      // media refs: hex-8 id; skew>0 collapses most onto one hot ref
      val refNum =
        if (k.skew <= 0) pmod(h(id, k.seed, 6, i), lit(100000L))
        else when(pmod(h(id, k.seed, 12, i), lit((k.skew + 1).toLong)) < lit(k.skew.toLong),
          lit(7L)).otherwise(pmod(h(id, k.seed, 6, i), lit(100000L)))
      val goodRef = concat(lit("m-"), lpad(lower(hex(refNum)), 8, "0"))
      val mediaRef = {
        val base0 = when(isMedia, goodRef).otherwise(lit(""))
        val corrupted =
          if (k.badMediaRefPerMille == 0) base0
          else when(isMedia && perMille(id, k.seed, 7, i) < lit(k.badMediaRefPerMille.toLong),
            lit("BAD_REF")).otherwise(base0)
        if (k.danglingRefPerMille == 0) corrupted
        // dangling refs use a namespace the catalog never contains (x- prefix)
        else when(isMedia && perMille(id, k.seed, 8, i) < lit(k.danglingRefPerMille.toLong),
          concat(lit("m-ffff"), lpad(lower(hex(pmod(h(id, k.seed, 13, i), lit(4096L)))), 4, "0")))
          .otherwise(corrupted)
      }
      val text = when(isMedia, lit(""))
        .otherwise(concat(lit("tok"), pmod(h(id, k.seed, 9, i), lit(997L)).cast("string"),
          lit(" word"), pmod(h(id, k.seed, 10, i), lit(31L)).cast("string")))
      val offBase = (i * 10 + pmod(h(id, k.seed, 11, i), lit(5L))).cast("int")
      // bad-order spans start at i = 2 so the injected offset (10i - 15,
      // strictly below the previous span's minimum 10i - 10) stays
      // NON-NEGATIVE — at i = 1 it would be -5 and also trip the separate
      // negOffset channel, breaking the independent-corruption contract
      val off0 =
        if (k.badOrderPerMille == 0) offBase
        else when(perMille(id, k.seed, 14, i) < lit(k.badOrderPerMille.toLong) && i > 1,
          (i * 10 - 15).cast("int")).otherwise(offBase)
      val off =
        if (k.negOffsetPerMille == 0) off0
        else when(perMille(id, k.seed, 15, i) < lit(k.negOffsetPerMille.toLong), lit(-1))
          .otherwise(off0)
      struct(kind.as("kind"), text.as("text"), mediaRef.as("media_ref"), off.as("offset"))
    })

    base.select(
      docId.as("doc_id"),
      spans.as("spans"),
      pmod(h(id, k.seed, 16), lit(k.nParts.toLong)).cast("int").as("part"))
  }

  /** Media catalog covering the generator's `m-<hex8 of 0..99999>` namespace
    * (plus the hot skew ref); dangling refs (`m-ffff….`) are never present.
    */
  def mediaCatalog(spark: SparkSession, k: Knobs): DataFrame = {
    spark.range(100000L).select(
      concat(lit("m-"), lpad(lower(hex(col("id"))), 8, "0")).as("media_ref"),
      when(pmod(col("id"), lit(2L)) === 0L, "image/png").otherwise("audio/ogg").as("mime"),
      (pmod(abs(xxhash64(col("id"), lit(k.seed))), lit(1000000L)) + 100L).as("bytes"))
  }
}
