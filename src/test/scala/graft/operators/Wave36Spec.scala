package graft.operators

import graft.SparkSpec
import graft.rules.{Keywords, Rule}
import org.apache.spark.sql.functions._

/** Round-5 wave-36 operators: per-category chi-square drill-down, rule
  * catch-rate stability across hash buckets.
  */
class Wave36Spec extends SparkSpec {
  import spark.implicits._

  test("chiSquareByCategory: symmetric swap splits the statistic evenly, " +
      "rank ties break on category name") {
    val a = (Seq.fill(8)("x") ++ Seq.fill(2)("y")).toDF("c")
    val b = (Seq.fill(2)("x") ++ Seq.fill(8)("y")).toDF("c")
    val out = Drift.chiSquareByCategory(a, b, "c")
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getDouble(5), r.getDouble(6),
        r.getInt(7)))
    // each cell: e=5 both sides, contrib = 9/5 + 9/5 = 3.6, share 0.5
    assert(out.toSeq == Seq(("x", 3.6, 0.5, 1), ("y", 3.6, 0.5, 2)),
      out.mkString(","))
  }

  test("chiSquareByCategory: a one-side-only category owns the statistic; " +
      "identical distributions yield zero contributions and null shares") {
    val a = (Seq.fill(9)("x") ++ Seq.fill(1)("z")).toDF("c")
    val b = Seq.fill(10)("x").toDF("c")
    val out = Drift.chiSquareByCategory(a, b, "c")
      .orderBy("drift_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(5), r.getInt(7)))
    assert(out.toSeq == Seq(("z", 1L, 0L, 1.0, 1),
      ("x", 9L, 10L, 0.052632, 2)), out.mkString(","))
    val same = Drift.chiSquareByCategory(a, a, "c").collect()
    assert(same.forall(r => r.getDouble(5) == 0.0 && r.isNullAt(6)),
      same.mkString(","))
    // an all-null side raises, naming the operator and the side
    val err = failureOf(Drift.chiSquareByCategory(a,
      b.select(lit(null).cast("string").as("c")), "c").collect())
    assert(err.contains(
      "chiSquareByCategory: no non-null rows in column 'c' on side 'b'"), err)
  }

  test("ruleStability: always-fires and silent rules pin spread = 0; a " +
      "partial rule's bucket rates bracket its overall rate") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      (col("id") % 100).as("v"))
    val rules = Seq(
      "always" -> Rule.Check(Keywords(properties = Map(
        "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))),
      "never" -> Rule.Check(Keywords(properties = Map(
        "v" -> Rule.Check(Keywords(minimum = Some(0)))))),
      "half" -> Rule.Check(Keywords(properties = Map(
        "v" -> Rule.Check(Keywords(minimum = Some(50)))))))
    val out = Validate.ruleStability(df, rules, "doc_id", nBuckets = 4)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(out("always") == ((1000L, 1000L, 1.0, 1.0, 1.0, 0.0)),
      out.toString)
    assert(out("never") == ((1000L, 0L, 0.0, 0.0, 0.0, 0.0)), out.toString)
    val (d, c, rate, lo, hi, spread) = out("half")
    assert(d == 1000L && c == 500L && rate == 0.5 && lo <= 0.5 &&
      hi >= 0.5 && spread >= 0.0 && math.abs(spread - (hi - lo)) < 1e-9,
      out.toString)
    intercept[IllegalArgumentException] {
      Validate.ruleStability(df, rules, "doc_id", nBuckets = 1)
    }
  }
}
