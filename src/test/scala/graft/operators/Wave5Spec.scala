package graft.operators

import graft.SparkSpec
import graft.rules.{ConstVal, Keywords, Rule}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 wave-5 operators: delete propagation (Forget), rule-coverage
  * triage, distributed exact rank / curriculum buckets, BPE pair
  * induction, and slice-lift failure attribution.
  */
class Wave5Spec extends SparkSpec {
  import spark.implicits._

  // ---------------- Forget ----------------

  private val corpus = Seq(
    (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f")
  ).toDF("id", "payload")
  private val dels = Seq(2L, 5L, 5L, 99L).toDF("del") // dup + miss

  test("forget: removes exactly the tombstoned ids; null ids survive") {
    val withNull = corpus.unionByName(
      Seq((Option.empty[Long], "n")).toDF("id", "payload"))
    val kept = Forget.forget(withNull, dels, "id", "del")
      .select("id").collect().map(r => Option(r.get(0))).toSet
    assert(kept == Set(Some(1L), Some(3L), Some(4L), Some(6L), None))
  }

  test("forget audit: removed/kept counts per table and zero residual") {
    val emb = Seq((2L, 0.1), (7L, 0.2)).toDF("vid", "w")
    val rows = Forget.audit(spark,
        Seq(("corpus", corpus, "id"), ("emb", emb, "vid")), dels, "del")
      .orderBy("tbl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.toSeq == Seq(
      ("corpus", 6L, 2L, 4L, 0L),
      ("emb", 2L, 1L, 1L, 0L)))
  }

  test("forget plan: only files whose id range holds a tombstone rewrite") {
    val manifest = Seq(
      ("f0", 0L, 99L), ("f1", 100L, 199L), ("f2", 200L, 299L)
    ).toDF("file", "lo", "hi")
    val d = Seq(150L, 155L, 299L).toDF("del")
    val out = Forget.plan(manifest, d, "file", "lo", "hi", "del", chunk = 64L)
      .orderBy("file").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      ("f0", 0L, "keep"), ("f1", 2L, "rewrite"), ("f2", 1L, "rewrite")))
  }

  test("forget plan: boundary ids hit (inclusive range) across chunk edges") {
    val manifest = Seq(("g", 64L, 128L)).toDF("file", "lo", "hi")
    // 64 and 128 are exact chunk boundaries with chunk=64
    val d = Seq(63L, 64L, 128L, 129L).toDF("del")
    val out = Forget.plan(manifest, d, "file", "lo", "hi", "del", 64L)
      .collect().map(r => (r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq((2L, "rewrite")))
  }

  // ---------------- rule coverage ----------------

  test("ruleCoverage: silent / firing / always triage classes") {
    val docs = Seq(("en", 10L), ("zz", 20L), ("de", 30L))
      .toDF("lang", "n")
    val rules = Seq(
      "enum" -> Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(
          List(ConstVal.VStr("en"), ConstVal.VStr("de")))))))),
      "nonneg" -> Rule.Check(Keywords(properties = Map(
        "n" -> Rule.Check(Keywords(minimum = Some(0)))))),
      "impossible" -> Rule.Check(Keywords(properties = Map(
        "n" -> Rule.Check(Keywords(maximum = Some(-1))))))
    )
    val out = Validate.ruleCoverage(docs, rules).orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    assert(out.toSeq == Seq(
      ("enum", 1L, "firing"),
      ("impossible", 3L, "always"),
      ("nonneg", 0L, "silent")))
    // an empty corpus fails nothing: counts are 0 (not null), the rate is
    // undefined, and every rule is silent
    val empty = Validate.ruleCoverage(docs.limit(0), rules).orderBy("rule")
      .collect().map(r => (r.getString(0), r.get(1), r.getLong(2),
        r.isNullAt(3), r.getString(4)))
    assert(empty.toSeq == rules.map(_._1).sorted.map(
      (_, 0L, 0L, true, "silent")))
  }

  // ---------------- distributed rank / curriculum ----------------

  test("globalRank equals a single-partition row_number reference") {
    val df = (1 to 257).map(i => (i.toLong, (i * 37 % 101).toLong))
      .toDF("id", "score").repartition(7)
    val got = Sampling.globalRank(df, Seq(col("score").desc, col("id")))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    val ref = df.coalesce(1)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(got == ref)
  }

  test("curriculum buckets match SQL ntile semantics, including N % n != 0") {
    val df = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "s")
    val got = Sampling.curriculum(df, Seq(col("s"), col("id")), n = 4)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    // N=10, n=4 -> sizes 3,3,2,2
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L,
      6L -> 2L, 7L -> 3L, 8L -> 3L, 9L -> 4L, 10L -> 4L))
  }

  test("curriculum with fewer rows than buckets: bucket == rank") {
    val df = Seq((1L, 5L), (2L, 9L)).toDF("id", "s")
    val got = Sampling.curriculum(df, Seq(col("s").desc, col("id")), n = 4)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 1L -> 2L)) // s=9 first
  }

  // ---------------- BPE pairs ----------------

  test("topTokenPairs: adjacent pairs across punctuation, top-k ordered") {
    val docs = Seq(
      "the cat sat", "the cat ran", "a cat, the cat").toDF("text")
    val out = TextAnalysis.topTokenPairs(docs, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // "the cat" x3; "a cat" / "cat ran" / "cat sat" / "cat the" x1 each
    assert(out.head == ("the cat", 3L))
    assert(out.toSeq.drop(1) == Seq(("a cat", 1L), ("cat ran", 1L)))
  }

  test("topTokenPairs: single-token and empty docs emit no pairs") {
    val docs = Seq("word", "", "  !?  ").toDF("text")
    assert(TextAnalysis.topTokenPairs(docs, "text", 10).count() == 0L)
  }

  // ---------------- slice lift ----------------

  test("sliceLift: per-value rates, lift vs global, null slice kept") {
    val df = Seq(
      ("en", true), ("en", false), ("en", false), ("en", false),
      ("zz", true), ("zz", true),
      (null.asInstanceOf[String], true)
    ).toDF("lang", "bad")
    val byVal = Stats.sliceLift(df, Seq("lang"), col("bad"),
        minRows = 2L, minLift = 2.0)
      .collect().map(r => Option(r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5), r.getBoolean(6)))).toMap
    // global rate 4/7; en 1/4 -> lift 0.4375; zz 1.0 -> lift 1.75;
    // null 1.0 -> lift 1.75 but support 1 < minRows
    assert(byVal(Some("zz")) == ((2L, 2L, 1.75, false)))
    assert(byVal(Some("en"))._3 == 0.4375)
    assert(!byVal(None)._4) // support too small to flag
  }

  test("sliceLift: zero global failures yield null lift, nothing flagged") {
    val df = Seq(("en", false), ("de", false)).toDF("lang", "bad")
    val out = Stats.sliceLift(df, Seq("lang"), col("bad")).collect()
    assert(out.forall(r => r.isNullAt(5) && !r.getBoolean(6)))
  }
}
