package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KLL quantile sketches built by Spark's `kll_sketch_agg_double` and read
  * by [[Kll]] — accuracy, mergeability (per-partition union == global),
  * and the sketch-based KS.
  */
class KllSketchAggSpec extends SparkSpec {

  /** KS via mergeable KLL sketches: one aggregation pass per side, then the
    * statistic from the two serialized sketches.
    */
  private def ksSketch(a: DataFrame, b: DataFrame, c: String): Double = {
    def sketchOf(df: DataFrame): Array[Byte] =
      df.agg(kll_sketch_agg_double(col(c).cast("double")).as("s"))
        .collect()(0).getAs[Array[Byte]](0)
    Kll.ks(sketchOf(a), sketchOf(b))
  }

  private lazy val uniform = spark.range(100000)
    .select((col("id") % 1000).cast("double").as("x"),
      (col("id") % 8).cast("int").as("part"))

  test("sketch quantiles are within KLL error of exact quantiles") {
    val bytes = uniform.agg(kll_sketch_agg_double(col("x")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val qs = Kll.quantiles(bytes, Seq(0.1, 0.5, 0.9))
    assert(math.abs(qs(0) - 100) < 30, s"p10=${qs(0)}")
    assert(math.abs(qs(1) - 500) < 30, s"p50=${qs(1)}")
    assert(math.abs(qs(2) - 900) < 30, s"p90=${qs(2)}")
  }

  test("per-partition sketches union to the global sketch (mergeable)") {
    val global = uniform.agg(kll_sketch_agg_double(col("x")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val parts = uniform.groupBy(col("part")).agg(kll_sketch_agg_double(col("x")).as("sketch"))
      .collect().map(_.getAs[Array[Byte]]("sketch")).toSeq
    assert(parts.size == 8)
    val unioned = Kll.union(parts)
    val qg = Kll.quantiles(global, Seq(0.5))(0)
    val qu = Kll.quantiles(unioned, Seq(0.5))(0)
    assert(math.abs(qg - qu) < 40, s"global=$qg unioned=$qu")
  }

  test("sketch KS ~ 0 for same distribution, large for shifted") {
    val a = spark.range(50000).select((col("id") % 100).cast("double").as("x"))
    val b = spark.range(50000).select(((col("id") % 100) + 50).cast("double").as("x"))
    val same = ksSketch(a, a, "x")
    val diff = ksSketch(a, b, "x")
    assert(same < 0.02 && diff > 0.4, s"same=$same diff=$diff")
    // an all-null side is an empty sketch: it raises, naming the side,
    // instead of reading as "no drift"
    val err = failureOf(ksSketch(a, b.select(lit(null).cast("double").as("x")), "x"))
    assert(err.contains("no non-null rows on side 'b'"), err)
  }
}
