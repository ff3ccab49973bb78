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

  /** The generated docs table — native kernel path: one
    * [[graft.plans.DocsGenOps.row]] struct per id (bit-identical to the HOF
    * twin in the specs' oracles, pinned by DocsGenKernelSpec). The HOF's
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
