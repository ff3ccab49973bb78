package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions injector: every native kernel is
  * callable from plain SQL in a session built with
  * `withExtensions(new GraftExtensions)` (the spark-submit
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` path), and
  * each SQL result matches the Column-API form of the same expression.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** A second session over the SAME SparkContext with the extensions
    * applied (extensions bind at session construction; the shared
    * test session predates them). Default/active sessions are restored
    * so sibling suites are unaffected.
    */
  private def withExtSession[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s2)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("span_invariant / simhash64 / minhash_bands / cosine_sim are SQL-" +
      "callable and agree with the Column API") {
    withExtSession { s =>
      // span_invariant: a valid and an offset-regressing span array
      val sv = s.sql(
        """SELECT
          |  span_invariant(array(
          |    named_struct('kind', 'text', 'text', 't',
          |      'media_ref', CAST(NULL AS STRING), 'offset', 0),
          |    named_struct('kind', 'media', 'text', CAST(NULL AS STRING),
          |      'media_ref', 'm-00ff00ff', 'offset', 5))) AS ok,
          |  span_invariant(array(
          |    named_struct('kind', 'text', 'text', 't',
          |      'media_ref', CAST(NULL AS STRING), 'offset', 5),
          |    named_struct('kind', 'text', 'text', 'u',
          |      'media_ref', CAST(NULL AS STRING), 'offset', 0))) AS bad
          |""".stripMargin).collect()(0)
      assert(sv.getBoolean(0) && !sv.getBoolean(1))

      // simhash64: SQL call == Column-API call on the same tokens
      val toks = array(lit("alpha"), lit("beta"), lit("gamma"))
      val viaSql = s.sql(
        "SELECT simhash64(array('alpha', 'beta', 'gamma'))").collect()(0)
        .getLong(0)
      val viaCol = s.range(1).select(
        GraftShims.column(SimHashOps.simhashExpr(GraftShims.expression(toks))))
        .collect()(0).getLong(0)
      assert(viaSql == viaCol)

      // minhash_bands: shape args are analysis-time literals; one bucket
      // hash per band
      val mh = s.sql(
        "SELECT size(minhash_bands(array('a','b','c','d','e'), 3, 32, 16))")
        .collect()(0).getInt(0)
      assert(mh == 16)

      // cosine_sim on float arrays: orthogonal = 0, parallel = 1
      val cs = s.sql(
        """SELECT
          |  cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |             CAST(array(0.0, 1.0) AS ARRAY<FLOAT>)),
          |  cosine_sim(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>),
          |             CAST(array(3.0, 4.0) AS ARRAY<FLOAT>))
          |""".stripMargin).collect()(0)
      assert(cs.getDouble(0) == 0.0 && math.abs(cs.getDouble(1) - 1.0) < 1e-12)
    }
  }

  test("kll_sketch registers as an AGGREGATE: groups fold to sketch bytes " +
      "whose quantiles bracket the data") {
    withExtSession { s =>
      s.range(0, 1000).createOrReplaceTempView("xs")
      val bytes = s.sql(
        "SELECT kll_sketch(CAST(id AS DOUBLE)) FROM xs GROUP BY id % 2")
        .collect().map(_.getAs[Array[Byte]](0))
      assert(bytes.length == 2 && bytes.forall(_.nonEmpty))
      val med = Kll.deserialize(bytes(0)).getQuantile(0.5)
      assert(med >= 0.0 && med <= 999.0)
      // an INT input is accepted (cast to double)
      val ints = s.sql("SELECT kll_sketch(CAST(id AS INT), 100) FROM xs")
        .collect()(0).getAs[Array[Byte]](0)
      assert(Kll.deserialize(ints).getN == 1000L)
    }
  }

  test("shape arguments must be literals and arity is enforced at " +
      "analysis time") {
    withExtSession { s =>
      val e1 = intercept[Exception] {
        s.sql("SELECT minhash_bands(array('a'), CAST(rand()*3 AS INT), 32, 16)")
          .collect()
      }
      assert(e1.getMessage.contains("literal integer"))
      val e2 = intercept[Exception] {
        s.sql("SELECT cosine_sim(array(1.0F))").collect()
      }
      assert(e2.getMessage.contains("2 argument"))
    }
  }
}
