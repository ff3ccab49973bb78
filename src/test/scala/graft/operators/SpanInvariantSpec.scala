package graft.operators

import graft.SparkSpec
import graft.model.{Doc, Span}
import graft.sources.DocsGen
import org.apache.spark.sql.functions._

/** North-rule invariant fixture (FIXTURES.md §3): docs whose spans are
  * (a) valid, (b) out-of-order offsets, (c) media with empty ref,
  * (d) text with non-empty ref — violations at spans.<i>.<field> paths.
  */
class SpanInvariantSpec extends SparkSpec {
  import spark.implicits._

  private val good = Doc("g1", Seq(
    Span("text", "hello", "", 0),
    Span("media", "", "m-00ab12cd", 5),
    Span("text", "world", "", 9)), 0)
  private val outOfOrder = Doc("b1", Seq(
    Span("text", "a", "", 10),
    Span("text", "b", "", 3)), 0)
  private val mediaEmptyRef = Doc("b2", Seq(Span("media", "", "", 0)), 1)
  private val textWithRef = Doc("b3", Seq(Span("text", "x", "m-00ab12cd", 0)), 1)
  private val badKind = Doc("b4", Seq(Span("blob", "x", "", 0)), 1)
  private val badRefPattern = Doc("b5", Seq(Span("media", "", "NOT-A-REF", 0)), 1)
  private val negOffset = Doc("b6", Seq(Span("text", "x", "", -3)), 1)

  private lazy val df = Seq(
    good, outOfOrder, mediaEmptyRef, textWithRef, badKind, badRefPattern, negOffset).toDF()

  test("valid docs produce no violations; corrupted docs hit the right path+rule") {
    val v = df.select($"doc_id", explode(SpanInvariant.violationsCol($"spans")).as("v"))
      .select($"doc_id", $"v.path", $"v.rule", $"v.message")
      .as[(String, String, String, String)].collect().toSeq
    assert(!v.exists(_._1 == "g1"))
    assert(v.collect { case ("b1", p, r, _) => (p, r) } == Seq(("spans", "offset.order")))
    assert(v.collect { case ("b2", p, r, _) => (p, r) } ==
      Seq(("spans.0.media_ref", "media_ref.consistency")))
    assert(v.collect { case ("b3", p, r, _) => (p, r) } ==
      Seq(("spans.0.media_ref", "media_ref.consistency")))
    assert(v.exists(x => x._1 == "b4" && x._2 == "spans.0.kind" && x._3 == "kind.enum" &&
      x._4 == "Value \"blob\" is not in the enum: [\"text\", \"media\"]"))
    assert(v.collect { case ("b5", p, r, _) => (p, r) } ==
      Seq(("spans.0.media_ref", "media_ref.pattern")))
    assert(v.exists(x => x._1 == "b6" && x._2 == "spans.0.offset" &&
      x._4 == "Number must be greater than or equal to 0"))
  }

  test("predCol agrees with violationsCol emptiness (unguarded form)") {
    val rows = df.select($"doc_id", SpanInvariant.predCol($"spans").as("p"),
      (size(SpanInvariant.violationsColUnguarded($"spans")) === 0).as("v"))
      .as[(String, Boolean, Boolean)].collect()
    rows.foreach { case (id, p, v) => assert(p == v, s"doc $id: pred=$p violEmpty=$v") }
  }

  test("native SpanInvariantPred expression agrees with the HOF predicate") { onBothEvalPaths {
    val dirty = DocsGen.docs(spark, DocsGen.Knobs(nDocs = 5000,
      badKindPerMille = 20, badMediaRefPerMille = 20, badOrderPerMille = 20,
      negOffsetPerMille = 10, nullDocIdPerMille = 5))
    val mismatches = dirty.select(
      SpanInvariant.predCol($"spans").as("native"),
      graft.HofOracles.spanPredHof($"spans").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches == 0)
    // plus the hand-built edge docs incl. null spans and empty arrays
    val edge = df.withColumn("spans",
      when($"doc_id" === "g1", $"spans").otherwise($"spans"))
    val m2 = edge.select(SpanInvariant.predCol($"spans").as("n"),
      graft.HofOracles.spanPredHof($"spans").as("h")).filter($"n" =!= $"h").count()
    assert(m2 == 0)
  }}

  test("generator: clean knobs yield zero violations; each knob injects its kind") {
    val clean = DocsGen.docs(spark, DocsGen.Knobs(nDocs = 500))
    assert(clean.select(SpanInvariant.predCol($"spans")).as[Boolean].collect().forall(identity))

    val dirty = DocsGen.docs(spark, DocsGen.Knobs(nDocs = 2000,
      badKindPerMille = 30, badMediaRefPerMille = 30, badOrderPerMille = 30,
      negOffsetPerMille = 20))
    val rules = dirty
      .select(explode(SpanInvariant.violationsCol($"spans")).as("v"))
      .select($"v.rule").as[String].collect().toSet
    assert(Set("kind.enum", "media_ref.pattern", "offset.order", "offset.minimum")
      .subsetOf(rules), s"got $rules")
  }

  test("generator corruption channels are independent: badOrder never goes negative") {
    val dirty = DocsGen.docs(spark, DocsGen.Knobs(nDocs = 5000,
      badOrderPerMille = 100, negOffsetPerMille = 0))
    val negs = dirty
      .select(explode(SpanInvariant.violationsCol($"spans")).as("v"))
      .filter($"v.rule" === "offset.minimum").count()
    assert(negs == 0, s"badOrder injected $negs negative offsets with neg knob at 0")
    // and the knob still injects what it claims
    val orders = dirty
      .select(explode(SpanInvariant.violationsCol($"spans")).as("v"))
      .filter($"v.rule" === "offset.order").count()
    assert(orders > 0)
  }

  test("generator determinism: same knobs → identical table") {
    val k = DocsGen.Knobs(nDocs = 300, badKindPerMille = 10)
    val a = DocsGen.docs(spark, k).orderBy("doc_id").collect()
    val b = DocsGen.docs(spark, k).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }
}
