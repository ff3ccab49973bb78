package graft.operators

import graft.SparkSpec
import graft.rules.{ConstVal, Keywords, Rule}
import org.apache.spark.sql.functions._

/** Round-5 wave-10 operators: rule co-occurrence (the streaming top-k and
  * language-confusion matrix are oracle-checked in SparkEntry).
  */
class Wave10Spec extends SparkSpec {
  import spark.implicits._

  test("ruleCooccurrence: pair counters and Jaccard from one scan") {
    // docs: (lang, n) — enum fails on 'zz'; bound fails on n > 10
    val docs = Seq(("en", 5L), ("zz", 20L), ("zz", 30L), ("de", 40L))
      .toDF("lang", "n")
    val rules = Seq(
      "enum" -> Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(
          List(ConstVal.VStr("en"), ConstVal.VStr("de")))))))),
      "bound" -> Rule.Check(Keywords(properties = Map(
        "n" -> Rule.Check(Keywords(maximum = Some(10)))))))
    val r = Validate.ruleCooccurrence(docs, rules).collect()(0)
    // enum fails 2 (zz, zz); bound fails 3 (20, 30, 40); both 2
    assert((r.getString(0), r.getString(1)) == (("enum", "bound")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 3L, 2L)))
    assert(r.getDouble(5) == 0.666667) // round(2/3, 6)
    // an empty corpus: every counter is 0 (not null), Jaccard undefined
    val e = Validate.ruleCooccurrence(docs.limit(0), rules).collect()
    assert(e.map(r => (r.get(2), r.get(3), r.get(4), r.isNullAt(5))).toSeq ==
      Seq((0L, 0L, 0L, true)))
  }

  test("ruleCooccurrence: disjoint failure sets give Jaccard 0; " +
      "no failures anywhere give null") {
    val docs = Seq(("en", 5L), ("zz", 5L), ("en", 20L)).toDF("lang", "n")
    val rules = Seq(
      "enum" -> Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(
          List(ConstVal.VStr("en")))))))),
      "bound" -> Rule.Check(Keywords(properties = Map(
        "n" -> Rule.Check(Keywords(maximum = Some(10)))))),
      "silent" -> Rule.Check(Keywords(properties = Map(
        "n" -> Rule.Check(Keywords(minimum = Some(0)))))))
    val rows = Validate.ruleCooccurrence(docs, rules).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
    assert(rows.contains(("enum", "bound", 0L, Some(0.0))))
    // silent rule never fails: union with it is the other set -> 0.0;
    // but silent x silent pair does not exist (i < j only, 3 pairs total)
    assert(rows.size == 3)
  }
}
