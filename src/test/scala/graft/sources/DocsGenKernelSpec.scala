package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-identity of the native [[graft.plans.DocsGenOps.row]] kernel against
  * the HOF generator it replaced: every knob channel active, several
  * knob mixes (including the exact i_validate / gen_validate / bench
  * configurations), compared row-by-row on rendered values.
  */
class DocsGenKernelSpec extends SparkSpec {

  private def render(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("part"),
        concat_ws("|", transform(col("spans"), s =>
          concat_ws(",", s.getField("kind"), s.getField("text"),
            s.getField("media_ref"),
            s.getField("offset").cast("string")))).as("sp"))
      .orderBy("doc_id", "part", "sp")
      .collect()
      .map(r => (Option(r.get(0)), r.getInt(1), r.getString(2)))

  test("native DocsGenRow is bit-identical to the HOF generator") { onBothEvalPaths {
    val knobSets = Seq(
      DocsGen.Knobs(nDocs = 4000), // all-clean
      // the bench corpus config (at reduced nDocs)
      DocsGen.Knobs(nDocs = 4000, nParts = 256, badKindPerMille = 5,
        badOrderPerMille = 5, negOffsetPerMille = 2),
      // the i_validate config
      DocsGen.Knobs(nDocs = 4000, nParts = 16, badKindPerMille = 10,
        badMediaRefPerMille = 10, badOrderPerMille = 10,
        negOffsetPerMille = 5),
      // the gen_validate config (dup + null ids)
      DocsGen.Knobs(nDocs = 4000, nParts = 16, badKindPerMille = 10,
        badMediaRefPerMille = 10, badOrderPerMille = 10,
        negOffsetPerMille = 5, nullDocIdPerMille = 2, dupPerMille = 5),
      // every remaining channel: dangling refs + skewed hot ref
      DocsGen.Knobs(nDocs = 4000, nParts = 4, danglingRefPerMille = 20,
        skew = 19, badMediaRefPerMille = 5))
    knobSets.foreach { k =>
      val native = render(DocsGen.docs(spark, k))
      val hof = render(graft.HofOracles.docsHof(spark, k))
      assert(native.length == hof.length, s"$k: row counts differ")
      native.zip(hof).zipWithIndex.foreach { case ((n, h), i) =>
        assert(n == h, s"$k row $i: $n != $h")
      }
    }
  }}
}
