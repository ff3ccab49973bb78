package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.rules.{ConstVal, Keywords, Rule}
import graft.operators.Enforce.{Action, Expectation}

class EnforceSpec extends SparkSpec {
  import spark.implicits._

  // corpus: (id, lang, n) — lang "xx" fails the enum, n > 100 fails the
  // bound. A NULL lang is an ABSENT property ("properties" subrules apply
  // only when the property is present, matching the reference's
  // required-vs-type split and the v_enum oracle), so row 5 passes —
  // catching nulls takes a `required` rule.
  private def docs = Seq(
    (1L, "en", 50L), (2L, "xx", 50L), (3L, "en", 500L),
    (4L, "xx", 500L), (5L, null.asInstanceOf[String], 50L), (6L, "de", 50L))
    .toDF("id", "lang", "n")

  private val langRule = Rule.Check(Keywords(properties = Map(
    "lang" -> Rule.Check(Keywords(
      types = Some(List("string")),
      enum_ = Some(List("en", "de").map(ConstVal.VStr(_))))))))
  private val boundRule = Rule.Check(Keywords(properties = Map(
    "n" -> Rule.Check(Keywords(maximum = Some(100))))))

  private val es = Seq(
    Expectation("e_lang", langRule, Action.Quarantine),
    Expectation("e_n", boundRule, Action.Drop))

  test("kept/dropped/quarantined partition the corpus; quarantine wins") {
    val k = Enforce.kept(docs, es).select("id").as[Long].collect().sorted
    val d = Enforce.dropped(docs, es).select("id").as[Long].collect().sorted
    val q = Enforce.quarantined(docs, es).select("id").as[Long].collect().sorted
    assert(k.toSeq == Seq(1L, 5L, 6L)) // 5: null lang = absent = pass
    assert(d.toSeq == Seq(3L)) // fails only the drop rule
    assert(q.toSeq == Seq(2L, 4L)) // 4 fails BOTH — quarantine wins
    assert((k ++ d ++ q).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("quarantined rows carry ALL failed expectation names, sorted") {
    val rows = Enforce.quarantined(docs, es)
      .select(col("id"), col("_graft_failed"))
      .as[(Long, Seq[String])].collect().toMap
    assert(rows(2L) == Seq("e_lang"))
    assert(rows(4L) == Seq("e_lang", "e_n"))
  }

  test("metrics: independent per-rule counts in one row set") {
    val m = Enforce.metrics(docs, es)
      .select("expectation", "action", "failed_docs", "docs")
      .as[(String, String, Long, Long)].collect().sortBy(_._1)
    assert(m.toSeq == Seq(
      ("e_lang", "quarantine", 2L, 6L), ("e_n", "drop", 2L, 6L)))
    // an empty input counts 0 failures, not null
    val empty = Enforce.metrics(docs.limit(0), es)
      .select("expectation", "action", "failed_docs", "docs").collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2), r.getLong(3)))
      .sortBy(_._1)
    assert(empty.toSeq == Seq(
      ("e_lang", "quarantine", 0L, 0L), ("e_n", "drop", 0L, 0L)))
  }

  test("warn counts but never removes") {
    val warn = Seq(Expectation("w", langRule, Action.Warn))
    assert(Enforce.kept(docs, warn).count() == 6L)
    val m = Enforce.metrics(docs, warn).select("failed_docs").as[Long].head()
    assert(m == 2L)
  }

  test("orAbort: clean FAIL rules pass through; dirty ones throw with counts") {
    val cleanFail = Seq(Expectation("f", Rule.Check(Keywords(properties = Map(
      "n" -> Rule.Check(Keywords(minimum = Some(0)))))), Action.Fail))
    assert(Enforce.orAbort(docs, cleanFail).count() == 6L)
    val err = intercept[IllegalStateException] {
      Enforce.orAbort(docs, Seq(Expectation("f2", langRule, Action.Fail)))
    }
    assert(err.getMessage.contains("f2=2"))
  }

  test("plan: metrics is one aggregation, no join, no window") {
    val plan = Enforce.metrics(docs, es).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("duplicate expectation names rejected") {
    intercept[IllegalArgumentException] {
      Enforce.withActions(docs, Seq(
        Expectation("a", langRule, Action.Warn),
        Expectation("a", boundRule, Action.Drop)))
    }
  }
}
