package graft.plans

import graft.{HofOracles, SparkSpec}
import graft.operators.{ResumableValidate, SpanInvariant}
import graft.rules.{ConstVal, Keywords, Rule, RuleCompiler, RuleLoader}
import graft.sources.DocsGen
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeFormatter,
  CodeGenerator, CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The generated array loops ([[ArrayLoop]]) on the validation path:
  * bit-identical to Spark's higher-order functions on both eval paths, no
  * higher-order function left in a validation plan, one compilation per
  * plan shape, and methods small enough for the JIT.
  */
class ArrayLoopSpec extends SparkSpec {
  import spark.implicits._

  /** Rows of `df` projected through `c` and through its HOF form. */
  private def bothForms(df: DataFrame, c: Column): (Seq[Any], Seq[Any], DataType, DataType) = {
    val loops = df.select(c.as("v"))
    val hofs = df.select(HofOracles.loopsAsHofs(c).as("v"))
    (loops.collect().map(_.get(0)).toSeq, hofs.collect().map(_.get(0)).toSeq,
      loops.schema.head.dataType, hofs.schema.head.dataType)
  }

  /** `rule` compiled against `df`'s rows: its pred, its violations and the
    * guarded violations `Validate.withViolations` emits, each equal to the
    * same rule with every loop as a Spark higher-order function. */
  private def assertMatchesHofs(df: DataFrame, rule: Rule, what: String): Unit = {
    val c = RuleCompiler.compile(rule, struct(df.columns.map(col): _*), df.schema)
    val guarded = when(coalesce(c.pred, lit(false)), array().cast(RuleCompiler.violArray))
      .otherwise(c.violations)
    Seq("pred" -> c.pred, "violations" -> c.violations, "guarded" -> guarded).foreach {
      case (part, col) =>
        val (loops, hofs, lt, ht) = bothForms(df, col)
        assert(lt == ht, s"$what $part: type $lt != $ht")
        assert(loops == hofs, s"$what $part:\n$loops\n!=\n$hofs")
    }
  }

  // checkpointed: a projection over an in-memory `Seq` is folded during
  // planning, interpreted, and would never reach the generated code
  private lazy val arrays: DataFrame = Seq(
    ("a", Some(Seq[Option[Int]](Some(1), Some(2), Some(3))), Some(Seq(Seq(1, 2), Seq(3)))),
    ("b", Some(Seq(Some(1), None, Some(1), None, Some(7))), Some(Seq(Seq(1, 1), Seq.empty))),
    ("c", Some(Seq.empty[Option[Int]]), Some(Seq.empty[Seq[Int]])),
    ("d", None, None),
    ("e", Some(Seq(Some(9), Some(-4), Some(12), Some(9), Some(5))), Some(Seq(Seq(7, 8, 9)))),
    ("f", Some(Seq[Option[Int]](None)), Some(Seq(Seq(-1), Seq(2, 2), Seq(0)))))
    .toDF("doc_id", "xs", "nested").localCheckpoint()

  private lazy val maps: DataFrame = Seq(
    ("a", Some(Map("a1" -> 1, "b" -> 2, "$schema" -> 3))),
    ("b", Some(Map("zz" -> 40, "a2" -> -1))),
    ("c", Some(Map.empty[String, Int])),
    ("d", None))
    .toDF("doc_id", "m").localCheckpoint()

  private def yaml(s: String): Rule = RuleLoader.loadString(s).root

  test("array and map keywords: generated loops match the HOF forms bit for bit") {
    onBothEvalPaths {
      val arrayRules = Seq(
        "items after a prefixItems skip" ->
          """properties:
            |  xs: {prefixItems: [{minimum: 2}], items: {type: integer, maximum: 8}}
            |""".stripMargin,
        "contains with min/max" ->
          """properties:
            |  xs: {contains: {minimum: 5}, minContains: 2, maxContains: 2}
            |""".stripMargin,
        "uniqueItems with duplicate nulls" ->
          "properties:\n  xs: {uniqueItems: true}\n",
        "unevaluatedItems with a branch" ->
          """properties:
            |  xs:
            |    prefixItems: [{type: integer}]
            |    anyOf: [{contains: {minimum: 9}}, {minItems: 4}]
            |    unevaluatedItems: {maximum: 6}
            |""".stripMargin,
        "unevaluatedItems: false" ->
          """properties:
            |  xs: {prefixItems: [{}], if: {minItems: 3}, then: {prefixItems: [{}, {}]},
            |       unevaluatedItems: false}
            |""".stripMargin,
        "nested arrays" ->
          """properties:
            |  nested:
            |    items: {items: {minimum: 0}, uniqueItems: true, contains: {minimum: 2}}
            |""".stripMargin)
      arrayRules.foreach { case (what, y) => assertMatchesHofs(arrays, yaml(y), what) }
      val mapRules = Seq(
        "patternProperties" ->
          "properties:\n  m: {patternProperties: {'^a': {minimum: 0}}}\n",
        "additionalProperties: false" ->
          "properties:\n  m: {properties: {b: {}}, additionalProperties: false}\n",
        "additionalProperties schema" ->
          """properties:
            |  m: {patternProperties: {'^a': {}}, additionalProperties: {maximum: 10}}
            |""".stripMargin,
        "propertyNames" ->
          "properties:\n  m: {propertyNames: {maxLength: 1}}\n",
        "unevaluatedProperties with a branch" ->
          """properties:
            |  m:
            |    anyOf: [{properties: {b: {}}}]
            |    unevaluatedProperties: {maximum: 5}
            |""".stripMargin,
        "unevaluatedProperties: false" ->
          "properties:\n  m: {properties: {a1: {}}, unevaluatedProperties: false}\n")
      mapRules.foreach { case (what, y) => assertMatchesHofs(maps, yaml(y), what) }
      // each loop form, with the index, on its own
      val xs = col("xs")
      Seq(ArrayLoop.forall(xs)((x, i) => x > i), ArrayLoop.exists(xs)((x, i) => x === i + 1),
        ArrayLoop.count(xs)((x, i) => x > i), ArrayLoop.flatMap(xs)((x, i) => array(x, i)),
        ArrayLoop.flatMapPairs(xs)((a, b) => array(a - b))).foreach { c =>
        val (loops, hofs, lt, ht) = bothForms(arrays, c)
        assert(lt == ht && loops == hofs, s"$c:\n$loops\n!=\n$hofs")
      }
      // a body holding an interpreted Spark HOF runs the whole loop interpreted
      val around = ArrayLoop.flatMap(col("nested"))((xs, i) =>
        array(when(forall(xs, y => y > i), i).otherwise(lit(-1))))
      assert(arrays.select(around).collect().map(_.get(0)).toSeq == Seq(
        Seq(0, 1), Seq(0, 1), Seq.empty, null, Seq(0), Seq(-1, 1, -1)))
    }
  }

  test("span invariant: generated loops match the HOF oracle on a corrupted corpus") {
    onBothEvalPaths {
      val dirty = DocsGen.docs(spark, DocsGen.Knobs(nDocs = 3000, nParts = 4, seed = 7,
        dupPerMille = 20, badKindPerMille = 30, badMediaRefPerMille = 30,
        badOrderPerMille = 30, negOffsetPerMille = 20, nullDocIdPerMille = 10,
        danglingRefPerMille = 20, skew = 3))
      // plus null spans, an empty array and null spans/fields inside one
      val span = "struct<kind:string,text:string,media_ref:string,offset:int>"
      val edge = spark.sql(
        s"""SELECT * FROM VALUES
           |  ('n1', CAST(NULL AS array<$span>)),
           |  ('n2', CAST(array() AS array<$span>)),
           |  ('n3', array(named_struct('kind', 'text', 'text', 't', 'media_ref', '',
           |    'offset', 3), CAST(NULL AS $span), named_struct('kind', CAST(NULL AS string),
           |    'text', CAST(NULL AS string), 'media_ref', CAST(NULL AS string),
           |    'offset', CAST(NULL AS int)), named_struct('kind', 'text', 'text', 'u',
           |    'media_ref', '', 'offset', 1)))
           |  AS t(doc_id, spans)""".stripMargin).localCheckpoint()
      Seq(dirty.select("doc_id", "spans"), edge).foreach { df =>
        val rows = df.select(col("doc_id"),
          SpanInvariant.violationsColUnguarded(col("spans")).as("loops"),
          HofOracles.spanViolationsHof(col("spans")).as("hof"),
          SpanInvariant.violationsCol(col("spans")).as("guarded"),
          SpanInvariant.predCol(col("spans")).as("pred")).collect()
        assert(rows.exists(r => r.getSeq[Any](1) != null && r.getSeq[Any](1).nonEmpty))
        rows.foreach { r =>
          assert(r.get(1) == r.get(2), s"${r.get(0)}: ${r.get(1)} != ${r.get(2)}")
          val expected = if (r.getBoolean(4)) Seq.empty else r.getSeq[Any](2)
          assert(r.getSeq[Any](3) == expected, s"${r.get(0)} guarded")
        }
      }
    }
  }

  private def docs(n: Long): DataFrame = DocsGen.docs(spark, DocsGen.Knobs(nDocs = n,
    nParts = 8, badKindPerMille = 5, badOrderPerMille = 5, negOffsetPerMille = 2))

  private lazy val benchRules: Seq[(String, Rule)] = Seq(
    "perfbench/rules.yaml" -> RuleLoader.loadFile("perfbench/rules.yaml").root,
    "Bench.rule" -> graft.Bench.rule)

  test("no higher-order function is left on the validation path") {
    benchRules.foreach { case (name, rule) =>
      val plan = ResumableValidate.compositeViolations(docs(100), rule)
        .queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions)
      val hofs = exprs.flatMap(_.collect { case h: HigherOrderFunction => h })
      assert(hofs.isEmpty, s"$name: $hofs")
      assert(exprs.exists(_.exists(_.isInstanceOf[ArrayLoop])) ||
        name == "Bench.rule", s"$name: no ArrayLoop in\n$plan")
    }
  }

  test("the codegen cache holds: a second identical validation compiles nothing") {
    def run(): Unit = ResumableValidate.compositeViolations(docs(2000), benchRules.head._2)
      .write.format("noop").mode("overwrite").save()
    run()
    val before = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val after = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(after - before == 0, s"${after - before} classes compiled on the second run")
  }

  /** The largest method of every class the validation stage generates:
    * the whole-stage code and, with whole-stage codegen off, each
    * projection's `UnsafeProjection`. */
  private def maxMethodSizes(df: DataFrame): Seq[(String, Int)] = {
    val wholeStage = org.apache.spark.sql.execution.debug.codegenStringSeq(
      df.queryExecution.executedPlan).map { case (tree, _, stats) =>
        tree.linesIterator.next() -> stats.maxMethodCodeSize }
    val key = "spark.sql.codegen.wholeStage"
    spark.conf.set(key, "false")
    val projections = try {
      df.queryExecution.sparkSession.sessionState.executePlan(df.queryExecution.logical)
        .executedPlan.collect { case p: ProjectExec => p }
        .map { p =>
          val ctx = new CodegenContext
          val bound = BindReferences.bindReferences(p.projectList, p.child.output)
          val eval = GenerateUnsafeProjection.createCode(ctx, bound, true)
          val body =
            s"""public java.lang.Object generate(Object[] references) {
               |  return new SpecificUnsafeProjection(references);
               |}
               |class SpecificUnsafeProjection extends
               |    org.apache.spark.sql.catalyst.expressions.UnsafeProjection {
               |  private Object[] references;
               |  ${ctx.declareMutableStates()}
               |  public SpecificUnsafeProjection(Object[] references) {
               |    this.references = references;
               |    ${ctx.initMutableStates()}
               |  }
               |  public void initialize(int partitionIndex) { ${ctx.initPartition()} }
               |  public java.lang.Object apply(java.lang.Object row) {
               |    return apply((InternalRow) row);
               |  }
               |  public UnsafeRow apply(InternalRow ${ctx.INPUT_ROW}) {
               |    ${eval.code}
               |    return ${eval.value};
               |  }
               |  ${ctx.declareAddedFunctions()}
               |}""".stripMargin
          val code = CodeFormatter.stripOverlappingComments(
            new CodeAndComment(body, ctx.getPlaceHolderToComments()))
          s"projection ${p.simpleStringWithNodeId()}" ->
            CodeGenerator.compile(code)._2.maxMethodCodeSize
        }
    } finally spark.conf.unset(key)
    wholeStage ++ projections
  }

  test("generated methods stay under HotSpot's 8,000-byte JIT limit") {
    benchRules.foreach { case (name, rule) =>
      val sizes = maxMethodSizes(ResumableValidate.compositeViolations(docs(100), rule))
      assert(sizes.exists(_._1.startsWith("projection")) && sizes.size > 1, s"$name: $sizes")
      sizes.foreach { case (what, bytes) =>
        assert(bytes < 8000, s"$name, $what: a $bytes-byte method")
      }
    }
  }

  private def wideRule(n: Int): (DataFrame, Rule) = {
    val wide = spark.range(50).select(
      (0 until n).map(k => (col("id") * (k + 1) % 97).cast("int").as(s"p$k")) :+
        array((0 until 6).map(j => (col("id") + j * 7) % 23): _*).as("xs"): _*)
      .localCheckpoint()
    val rule = Rule.Check(Keywords(
      required = List("xs"),
      properties = (0 until n).map(k =>
        s"p$k" -> Rule.Check(Keywords(maximum = Some(90.0)))).toMap +
        ("xs" -> Rule.Check(Keywords(items = Some(Rule.Check(Keywords(
          minimum = Some(2.0), maximum = Some(20.0)))))))))
    (wide, rule)
  }

  test("a 200-property rule with an items subrule runs and matches the HOF forms") {
    val (wide, rule) = wideRule(200)
    assertMatchesHofs(wide, rule, "200 properties")
    val withV = graft.operators.Validate.withViolations(wide, rule)
    assert(withV.filter(!col("pass")).count() > 0)
    // a 64-property rule's checks are split into methods that stay JIT-able
    val (wide64, rule64) = wideRule(64)
    assertMatchesHofs(wide64, rule64, "64 properties")
    maxMethodSizes(graft.operators.Validate.withViolations(wide64, rule64)).foreach {
      case (what, bytes) => assert(bytes < 8000, s"64 properties, $what: a $bytes-byte method")
    }
  }

  /** Each rule's failing rows on `df`, from its HOF form. */
  private def hofFails(df: DataFrame, rules: Seq[(String, Rule)]): Seq[Seq[Boolean]] = {
    val row = struct(df.columns.map(col): _*)
    df.select(rules.map { case (_, r) => !coalesce(HofOracles.loopsAsHofs(
      RuleCompiler.compile(r, row, df.schema).pred), lit(false)) }: _*)
      .collect().map(r => rules.indices.map(r.getBoolean)).toSeq
  }

  test("wide rules aggregated in one stage with a range scan run and match the HOF forms") {
    // not checkpointed, and under Spark's 100-field whole-stage limit: the
    // range scan, the rules and the aggregate share one generated class
    val arr = (k: Int) => array((0 until 4).map(j => (col("id") * (k + 1) + j * 5) % 31): _*)
    val elem = (max: Double) => Rule.Check(Keywords(minimum = Some(0.0), maximum = Some(max),
      multipleOf = Some(1.0), enum_ = Some((0 until 30).map(v => ConstVal.VInt(v)).toList)))
    val wide = spark.range(200).select(
      (0 until 70).map(k => (col("id") * (k + 1) % 97).cast("int").as(s"p$k")) ++
        (0 until 20).map(k => arr(k).as(s"a$k")): _*)
    val rules = (0 until 4).map { r =>
      s"r$r" -> Rule.Check(Keywords(properties =
        ((0 until 60).map(k => s"p${(k + r * 3) % 70}" ->
          Rule.Check(Keywords(maximum = Some(94.0 - r)))) ++
          (0 until 20).map(k => s"a$k" -> Rule.Check(Keywords(
            items = Some(elem(27.0 + r)))))).toMap))
    }
    val fails = hofFails(wide, rules)
    val coverage = graft.operators.Validate.ruleCoverage(wide, rules)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(coverage == rules.indices.map(i => rules(i)._1 -> fails.count(_(i)).toLong).toMap)
    assert(coverage.values.exists(n => n > 0 && n < 200), coverage)
    val pairs = graft.operators.Validate.ruleCooccurrence(wide, rules).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(pairs == (for { i <- rules.indices; j <- rules.indices if i < j } yield
      (rules(i)._1, rules(j)._1) -> fails.count(f => f(i) && f(j)).toLong).toMap)

    // one rule of 150 array properties, each with an items subrule
    val arrays = spark.range(200).select((0 until 150).map(k => arr(k).as(s"a$k")): _*)
    val itemsRule = Seq("items" -> Rule.Check(Keywords(properties = (0 until 150).map(k =>
      s"a$k" -> Rule.Check(Keywords(items = Some(elem(29.0))))).toMap)))
    val failed = graft.operators.Validate.ruleCoverage(arrays, itemsRule).head().getLong(1)
    assert(failed == hofFails(arrays, itemsRule).count(_.head).toLong)
    assert(failed > 0 && failed < 200, failed)
  }
}
