package graft

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayExists, ArrayFilter, ArrayForAll,
  ArrayTransform, Flatten, Greatest, LambdaFunction, Literal, Size, Slice, Subtract, ZipWith}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.plans.{ArrayLoopFn, LoopForm, LoopLowering}
import graft.sources.DocsGen

/** Higher-order-function (HOF) formulations the native kernels and the
  * generated [[graft.plans.ArrayLoop]]s replaced, kept as the specs'
  * semantic oracles. Spark's HOFs are `CodegenFallback`, so these run
  * interpreted on either eval path.
  */
object HofOracles {

  /** `c` with every [[graft.plans.ArrayLoop]] rewritten to Spark's HOFs:
    * `forall`/`exists` over `transform`, `size(filter)`,
    * `flatten(transform)`, and for pair loops the `flatten` of a `zip_with`
    * of the array with itself shifted by one, minus the padded last pair.
    */
  def loopsAsHofs(c: Column): Column = GraftShims.column(
    GraftShims.expression(c).transformUp {
      case LoopLowering(ArrayLoopFn(form, arr, LambdaFunction(body, args, _), pairs)) =>
        if (pairs) {
          val pairFn = LambdaFunction(body, Seq(args(0), args(2)))
          val rest = Greatest(Seq(Subtract(Size(arr), Literal(1)), Literal(0)))
          val zipped = Slice(ZipWith(arr, Slice(arr, Literal(2), rest), pairFn), Literal(1), rest)
          form match {
            case LoopForm.FlatMap => Flatten(zipped)
            case other => throw new IllegalArgumentException(s"pair $other")
          }
        } else {
          val f = LambdaFunction(body, args)
          form match {
            case LoopForm.ForAll => ArrayForAll(ArrayTransform(arr, f), LambdaFunction.identity)
            case LoopForm.Exists =>
              ArrayExists(ArrayTransform(arr, f), LambdaFunction.identity, true)
            case LoopForm.Count => Size(ArrayFilter(arr, f))
            case LoopForm.FlatMap => Flatten(ArrayTransform(arr, f))
          }
        }
    })

  // --- the span invariant (graft.operators.SpanInvariant) ---

  private val MediaRefPattern = "^m-[0-9a-f]{8}$"

  private def viol(path: Column, rule: String, msg: Column): Column =
    struct(path.as("path"), lit(rule).as("rule"), msg.as("message"))

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
      ("media_ref.pattern",
        coalesce(ref, lit("")) === lit("") || ref.rlike(MediaRefPattern),
        lit(s"String does not match regular expression $MediaRefPattern!")),
      ("text.consistency",
        kind =!= lit("text") || (text.isNotNull && text =!= lit("")),
        lit("Text span has empty text!")),
      ("offset.minimum", off.isNotNull && off >= lit(0),
        lit("Number must be greater than or equal to 0")))
  }

  /** The span invariant's violations, unguarded. */
  def spanViolationsHof(spans: Column): Column = {
    val perSpan = flatten(transform(spans, (s, i) => {
      val checks = spanChecks(s).map { case (rule, pred, msg) =>
        val field = rule.takeWhile(_ != '.')
        when(!coalesce(pred, lit(false)),
          viol(concat(lit("spans."), i.cast("string"), lit("." + field)), rule, msg))
          .otherwise(lit(null).cast(graft.rules.RuleCompiler.violStruct))
      }
      filter(array(checks: _*), c => c.isNotNull)
    }))
    // strictly increasing offsets: compare each adjacent pair via zip_with
    // against the 1-shifted sequence (slice pads the tail comparison away)
    val shifted = slice(spans, lit(2), greatest(size(spans) - 1, lit(0)))
    val orderViols = filter(
      zip_with(spans, shifted, (a, b) =>
        when(b.isNotNull && b.getField("offset") <= a.getField("offset"),
          a.getField("offset")).otherwise(lit(null).cast("int"))),
      x => x.isNotNull)
    val orderViolRows = transform(orderViols, o =>
      viol(lit("spans"), "offset.order",
        concat(lit("Span offsets are not strictly increasing (offset "),
          o.cast("string"), lit(" followed by a smaller or equal offset)"))))
    when(spans.isNull,
      array(viol(lit("spans"), "required", lit("Required property 'spans' is missing!"))))
      .otherwise(concat(perSpan, orderViolRows))
  }

  /** The span invariant's predicate. */
  def spanPredHof(spans: Column): Column = {
    val perSpan = forall(spans, s =>
      spanChecks(s).map(_._2).map(p => coalesce(p, lit(false))).reduce(_ && _))
    val shifted = slice(spans, lit(2), greatest(size(spans) - 1, lit(0)))
    val ordered = forall(zip_with(spans, shifted, (a, b) =>
      b.isNull || b.getField("offset") > a.getField("offset")), x => x)
    spans.isNotNull && coalesce(perSpan, lit(false)) && coalesce(ordered, lit(true))
  }

  // --- native kernels' HOF twins ---

  /** [[Similarity.cosine]]. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = Similarity.dot(a, b)
    val n = Similarity.norm(a) * Similarity.norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** [[Similarity.quantizeInt8]]. */
  def quantizeInt8Hof(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val scale = aggregate(v, lit(0.0d), (acc, x) => greatest(acc, abs(x)))
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), scale.as("scale"), v.as("_v"))
      .select(col("id"), col("scale"),
        transform(col("_v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(floor(x / col("scale") * 127.0 + 0.5).cast("int")))
          .as("qvec"))
  }

  /** [[Dedup.simHash]]. */
  def simHashHof(text: Column): Column = {
    val toks = split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")
    // votes: array of 64 counters; each token adds +1/-1 per bit of its hash
    val votes = aggregate(
      toks,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)), (a, bit) =>
          a + when(call_function("shiftright", h, bit).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1))
      })
    // fold votes back into a long
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, bit) =>
        when(v > 0, call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** [[Dedup.minHashPortableSig]]. */
  def minHashPortableSigHof(text: Column, k: Int = 3, numHashes: Int = 16): Column =
    aggregate(
      Dedup.shingles(text, k),
      array_repeat(lit("g"), numHashes),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, seed) => least(m, md5(concat(seed.cast("string"), lit(" "), s)))),
      acc => when(element_at(acc, 1) === lit("g"), lit(null)).otherwise(acc))

  /** [[DocsGen.docs]]. */
  def docsHof(spark: SparkSession, k: DocsGen.Knobs): DataFrame = {
    def h(id: Column, seed: Long, c: Int, i: Column = lit(0)): Column =
      abs(xxhash64(id, lit(seed), lit(c), i))
    def perMille(id: Column, seed: Long, c: Int, i: Column = lit(0)): Column =
      pmod(h(id, seed, c, i), lit(1000L))
    val id = col("id")
    val base = spark.range(k.nDocs)

    // duplicate injection: map a dupPerMille slice of ids onto their neighbor
    val docNum =
      if (k.dupPerMille == 0) id
      else when(perMille(id, k.seed, 1) < lit(k.dupPerMille.toLong) && id > 0, id - 1)
        .otherwise(id)
    val docId =
      if (k.nullDocIdPerMille == 0) concat(lit("d-"), lpad(docNum.cast("string"), 12, "0"))
      else when(perMille(id, k.seed, 2) < lit(k.nullDocIdPerMille.toLong), lit(null))
        .otherwise(concat(lit("d-"), lpad(docNum.cast("string"), 12, "0")))

    val nSpans = (pmod(h(id, k.seed, 3), lit(6L)) + 2L).cast("int") // 2..7 spans
    val spans = transform(sequence(lit(0), nSpans - 1), i => {
      val isMedia = pmod(h(id, k.seed, 4, i), lit(3L)) === 0L
      val kind =
        if (k.badKindPerMille == 0) when(isMedia, "media").otherwise("text")
        else when(perMille(id, k.seed, 5, i) < lit(k.badKindPerMille.toLong), lit("blob"))
          .otherwise(when(isMedia, "media").otherwise("text"))
      // media refs: hex-8 id; skew>0 collapses most onto one hot ref
      val refNum =
        if (k.skew <= 0) pmod(h(id, k.seed, 6, i), lit(100000L))
        else when(pmod(h(id, k.seed, 12, i), lit((k.skew + 1).toLong)) < lit(k.skew.toLong),
          lit(7L)).otherwise(pmod(h(id, k.seed, 6, i), lit(100000L)))
      val goodRef = concat(lit("m-"), lpad(lower(hex(refNum)), 8, "0"))
      val mediaRef = {
        val base0 = when(isMedia, goodRef).otherwise(lit(""))
        val corrupted =
          if (k.badMediaRefPerMille == 0) base0
          else when(isMedia && perMille(id, k.seed, 7, i) < lit(k.badMediaRefPerMille.toLong),
            lit("BAD_REF")).otherwise(base0)
        if (k.danglingRefPerMille == 0) corrupted
        // dangling refs use a namespace the catalog never contains (x- prefix)
        else when(isMedia && perMille(id, k.seed, 8, i) < lit(k.danglingRefPerMille.toLong),
          concat(lit("m-ffff"), lpad(lower(hex(pmod(h(id, k.seed, 13, i), lit(4096L)))), 4, "0")))
          .otherwise(corrupted)
      }
      val text = when(isMedia, lit(""))
        .otherwise(concat(lit("tok"), pmod(h(id, k.seed, 9, i), lit(997L)).cast("string"),
          lit(" word"), pmod(h(id, k.seed, 10, i), lit(31L)).cast("string")))
      val offBase = (i * 10 + pmod(h(id, k.seed, 11, i), lit(5L))).cast("int")
      // bad-order spans start at i = 2 so the injected offset (10i - 15,
      // strictly below the previous span's minimum 10i - 10) stays
      // NON-NEGATIVE — at i = 1 it would be -5 and also trip the separate
      // negOffset channel, breaking the independent-corruption contract
      val off0 =
        if (k.badOrderPerMille == 0) offBase
        else when(perMille(id, k.seed, 14, i) < lit(k.badOrderPerMille.toLong) && i > 1,
          (i * 10 - 15).cast("int")).otherwise(offBase)
      val off =
        if (k.negOffsetPerMille == 0) off0
        else when(perMille(id, k.seed, 15, i) < lit(k.negOffsetPerMille.toLong), lit(-1))
          .otherwise(off0)
      struct(kind.as("kind"), text.as("text"), mediaRef.as("media_ref"), off.as("offset"))
    })

    base.select(
      docId.as("doc_id"),
      spans.as("spans"),
      pmod(h(id, k.seed, 16), lit(k.nParts.toLong)).cast("int").as("part"))
  }
}
