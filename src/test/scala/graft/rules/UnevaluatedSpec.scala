package graft.rules

import graft.SparkSpec
import graft.operators.Validate
import org.apache.spark.sql.functions._

/** features/unevaluated.feature scenarios: evaluated-name/index sets merged
  * across successful branches, lowered at compile time (SURVEY.md §2.5).
  */
class UnevaluatedSpec extends SparkSpec {
  import spark.implicits._

  private def mapDf(rows: (String, Map[String, String])*) =
    rows.toSeq.toDF("doc_id", "m")

  test("unevaluatedProperties: false flags keys no branch evaluated") { onBothEvalPaths {
    val df = mapDf(
      ("d1", Map("a" -> "1", "b" -> "2")),
      ("d2", Map("a" -> "1", "zz" -> "2")))
    val rule = Rule.Check(Keywords(properties = Map("m" -> Rule.Check(Keywords(
      properties = Map("a" -> Rule.Accept),
      anyOf = List(Rule.Check(Keywords(properties = Map("b" -> Rule.Accept)))),
      unevaluatedProperties = Some(Rule.Reject))))))
    val vs = Validate.violations(df, rule).collect().toSeq.sortBy(_.doc_id)
    // d1: a evaluated by properties, b by the (successful) anyOf branch
    // d2: zz evaluated by nobody
    assert(vs.map(v => (v.doc_id, v.path, v.message)) == Seq(
      ("d2", "m.zz", "Unevaluated property 'zz' is not allowed!")))
  }}

  test("unevaluatedProperties under oneOf: only the winning branch's keys count") { onBothEvalPaths {
    val df = mapDf(
      ("d1", Map("x" -> "5", "extra" -> "1")))
    val rule = Rule.Check(Keywords(properties = Map("m" -> Rule.Check(Keywords(
      oneOf = List(
        Rule.Check(Keywords(required = List("x"),
          properties = Map("x" -> Rule.Accept, "extra" -> Rule.Accept))),
        Rule.Check(Keywords(required = List("y"),
          properties = Map("y" -> Rule.Accept)))),
      unevaluatedProperties = Some(Rule.Reject))))))
    assert(Validate.violations(df, rule).collect().isEmpty)
  }}

  test("unevaluatedProperties as a schema validates leftover values") { onBothEvalPaths {
    val df = mapDf(("d1", Map("a" -> "ok", "other" -> "toolongvalue")))
    val rule = Rule.Check(Keywords(properties = Map("m" -> Rule.Check(Keywords(
      properties = Map("a" -> Rule.Accept),
      unevaluatedProperties = Some(Rule.Check(Keywords(maxLength = Some(4)))))))))
    val vs = Validate.violations(df, rule).collect()
    assert(vs.map(v => (v.path, v.rule)).toSeq == Seq(("m.other", "maxLength")))
  }}

  test("$schema key is always skipped (objects.rs:121-125)") { onBothEvalPaths {
    val df = mapDf(("d1", Map("$schema" -> "https://x", "a" -> "1")))
    val rule = Rule.Check(Keywords(properties = Map("m" -> Rule.Check(Keywords(
      properties = Map("a" -> Rule.Accept),
      unevaluatedProperties = Some(Rule.Reject))))))
    assert(Validate.violations(df, rule).collect().isEmpty)
  }}

  test("unevaluatedItems: false flags tail beyond prefixItems (exact message)") { onBothEvalPaths {
    val df = Seq(("d1", Seq(10, 20, 30)), ("d2", Seq(10))).toDF("doc_id", "a")
    val rule = Rule.Check(Keywords(properties = Map("a" -> Rule.Check(Keywords(
      prefixItems = List(Rule.Accept, Rule.Accept),
      unevaluatedItems = Some(Rule.Reject))))))
    val vs = Validate.violations(df, rule).collect()
    assert(vs.map(v => (v.doc_id, v.path, v.message)).toSeq == Seq(
      ("d1", "a.2", "Unevaluated array item at index 2 is not allowed!")))
  }}

  test("unevaluatedItems: contains-matched elements are covered") { onBothEvalPaths {
    val df = Seq(("d1", Seq(5, 100, 7))).toDF("doc_id", "a")
    val rule = Rule.Check(Keywords(properties = Map("a" -> Rule.Check(Keywords(
      contains = Some(Rule.Check(Keywords(minimum = Some(50)))),
      unevaluatedItems = Some(Rule.Reject))))))
    val vs = Validate.violations(df, rule).collect()
      .map(v => v.path).sorted
    assert(vs.toSeq == Seq("a.0", "a.2")) // 100 matched contains -> covered
  }}

  test("unevaluatedItems under successful anyOf branch with items") { onBothEvalPaths {
    val df = Seq(("d1", Seq(1, 2, 3))).toDF("doc_id", "a")
    val rule = Rule.Check(Keywords(properties = Map("a" -> Rule.Check(Keywords(
      anyOf = List(Rule.Check(Keywords(items = Some(Rule.Check(Keywords(
        minimum = Some(0))))))),
      unevaluatedItems = Some(Rule.Reject))))))
    assert(Validate.violations(df, rule).collect().isEmpty)
  }}
}
