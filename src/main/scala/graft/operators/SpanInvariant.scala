package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.ArrayLoop
import graft.rules.RuleCompiler

/** The north-rule per-row span invariant (BASELINE.json:14-15): the span
  * sequence must be internally consistent on (kind, text, media_ref, order).
  * The reference's closest analogue is `prefixItems`/`items` + `const`/`enum`
  * per field + ordered uniqueness (`/root/reference/src/schemas/array.rs:225-278`,
  * `src/lib.rs:145-188`); the cross-field and cross-element parts are not
  * expressible in the keyword vocabulary, so they compile here directly:
  * [[predCol]] to a native kernel, [[violationsCol]] to two generated
  * [[graft.plans.ArrayLoop]]s over `array<struct>` (one per span, one per
  * adjacent pair), zero shuffles, no interpreted higher-order function:
  *
  *   1. `kind ∈ {text, media}`                               (enum)
  *   2. `kind = "media"  ⇔  media_ref ≠ ""`                  (cross-field)
  *   3. media refs match `^m-[0-9a-f]{8}$`                   (pattern)
  *   4. `kind = "text"  ⇒  text ≠ ""`                        (cross-field)
  *   5. `offset ≥ 0`                                         (minimum)
  *   6. `offset` strictly increasing across the sequence     (order)
  */
object SpanInvariant {

  val MediaRefPattern = "^m-[0-9a-f]{8}$"

  private def viol(path: Column, rule: String, msg: Column): Column =
    struct(path.as("path"), lit(rule).as("rule"), msg.as("message"))

  /** Per-span field checks as (rule, pred, message) triples. */
  private def spanChecks(s: Column): Seq[(String, Column, Column)] = {
    val kind = s.getField("kind")
    val text = s.getField("text")
    val ref = s.getField("media_ref")
    val off = s.getField("offset")
    Seq(
      ("kind.enum", kind.isNotNull && kind.isin("text", "media"),
        concat(lit("Value \""), coalesce(kind, lit("null")),
          lit("\" is not in the enum: [\"text\", \"media\"]"))),
      ("media_ref.consistency",
        (kind === lit("media")) === (coalesce(ref, lit("")) =!= lit("")),
        concat(lit("Span kind \""), coalesce(kind, lit("null")),
          lit("\" is inconsistent with media_ref \""), coalesce(ref, lit("null")), lit("\""))),
      // pattern applies only to non-empty refs; emptiness is the
      // consistency check's job (avoids double-reporting one defect)
      ("media_ref.pattern",
        coalesce(ref, lit("")) === lit("") || ref.rlike(MediaRefPattern),
        lit(s"String does not match regular expression $MediaRefPattern!")),
      ("text.consistency",
        kind =!= lit("text") || (text.isNotNull && text =!= lit("")),
        lit("Text span has empty text!")),
      ("offset.minimum", off.isNotNull && off >= lit(0),
        lit("Number must be greater than or equal to 0")))
  }

  /** `violations` array Column for a `spans` column (path prefix `spans`),
    * guarded by the cheap predicate so passing rows never build the
    * violation structs (see Validate.withViolations scaladoc).
    */
  def violationsCol(spans: Column): Column =
    when(predCol(spans), array().cast(RuleCompiler.violArray))
      .otherwise(violationsColUnguarded(spans))

  /** Unguarded form (always constructs the arrays) — used by tests to check
    * pred/violations agreement. Per span, its failed checks in check order;
    * then one `offset.order` row per adjacent pair whose offsets do not
    * increase.
    */
  def violationsColUnguarded(spans: Column): Column = {
    val none = array().cast(RuleCompiler.violArray)
    val perSpan = ArrayLoop.flatMap(spans) { (s, i) =>
      concat(spanChecks(s).map { case (rule, pred, msg) =>
        val field = rule.takeWhile(_ != '.')
        when(!coalesce(pred, lit(false)),
          array(viol(concat(lit("spans."), i.cast("string"), lit("." + field)), rule, msg)))
          .otherwise(none)
      }: _*)
    }
    val orderViols = ArrayLoop.flatMapPairs(spans) { (a, b) =>
      when(b.isNotNull && b.getField("offset") <= a.getField("offset"),
        array(viol(lit("spans"), "offset.order",
          concat(lit("Span offsets are not strictly increasing (offset "),
            a.getField("offset").cast("string"),
            lit(" followed by a smaller or equal offset)"))))).otherwise(none)
    }
    when(spans.isNull,
      array(viol(lit("spans"), "required", lit("Required property 'spans' is missing!"))))
      .otherwise(concat(perSpan, orderViols))
  }

  /** Boolean predicate form (no violation construction) — the cheap path
    * for verdict-only runs: the native kernel ([[graft.plans.SpanOps.holds]],
    * one tight loop, zero intermediate arrays, inside whole-stage codegen),
    * cross-checked against a higher-order-function oracle in the specs.
    */
  def predCol(spans: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(graft.plans.SpanInvariantHolds(GraftShims.expression(spans)))
  }
}
