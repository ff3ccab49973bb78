package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.KllSketchAggDouble
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** `SparkSessionExtensions` injector exposing the engine's native kernels
  * as SQL functions, so `spark-submit
  * --conf spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) makes them callable
  * from plain SQL next to the Column API:
  *
  *   - `span_invariant(spans)`                — [[SpanOps.holds]]
  *   - `simhash64(tokens)`                    — [[SimHashOps.simhash]]
  *   - `minhash_bands(tokens, k, n, bands)`   — [[MinHashOps.bandHashes]]
  *   - `cosine_sim(a, b)`                     — [[CosineOps.cosine]]
  *   - `kll_sketch(value[, k])`               — Spark's
  *     `kll_sketch_agg_double` over the value cast to double (agg)
  *
  * The analyzer wraps the returned `AggregateFunction` in an
  * `AggregateExpression` itself, so `kll_sketch` composes with GROUP BY
  * like any built-in aggregate; the cast keeps integer and decimal inputs
  * working, which the built-in's double form does not take. Shape
  * arguments (k, numHashes, bands) must be foldable integers — they
  * parameterize codegen and cannot vary per row; a non-literal raises a
  * clear error at ANALYSIS time, not at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(name: String, pos: Int, e: Expression): Int = {
    require(e.foldable,
      s"$name: argument ${pos + 1} must be a literal integer, got $e")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$name: argument ${pos + 1} must be an integer literal, got $other")
    }
  }

  private def arity(name: String, args: Seq[Expression],
      expected: Int*): Unit =
    require(expected.contains(args.size),
      s"$name expects ${expected.mkString(" or ")} argument(s), " +
        s"got ${args.size}")

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** The injectable (identifier, info, builder) triples — public so tests
    * (and embedders that manage their own registry) can install them
    * without a session rebuild.
    */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("span_invariant"),
      info("span_invariant",
        "span_invariant(spans) - true iff every span is non-null and " +
          "passes five checks (kind is 'text' or 'media'; media_ref is " +
          "non-empty iff kind = 'media'; a non-empty media_ref matches " +
          "^m-[0-9a-f]{8}$; a text span has non-empty text; offset is " +
          "non-null and >= 0) and the offsets are strictly increasing; " +
          "false for null spans"),
      args => { arity("span_invariant", args, 1)
        SpanInvariantHolds(args.head) }),
    (FunctionIdentifier("simhash64"),
      info("simhash64",
        "simhash64(tokens) - 64-bit SimHash of an array<string>"),
      args => { arity("simhash64", args, 1)
        SimHashOps.simhashExpr(args.head) }),
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands",
        "minhash_bands(tokens, k, numHashes, bands) - banded MinHash " +
          "bucket hashes over k-shingles of an array<string>"),
      args => { arity("minhash_bands", args, 4)
        MinHashOps.bandHashesExpr(args.head,
          intArg("minhash_bands", 1, args(1)),
          intArg("minhash_bands", 2, args(2)),
          intArg("minhash_bands", 3, args(3))) }),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two numeric arrays " +
          "(elements cast to double; the kernel runs on array<double>)"),
      args => { arity("cosine_sim", args, 2)
        CosineOps.cosineExpr(Cast(args.head, ArrayType(DoubleType)),
          Cast(args(1), ArrayType(DoubleType))) }),
    (FunctionIdentifier("kll_sketch"),
      info("kll_sketch",
        "kll_sketch(value[, k]) - mergeable KLL quantile sketch bytes " +
          "(aggregate); k defaults to 200"),
      args => { arity("kll_sketch", args, 1, 2)
        KllSketchAggDouble(Cast(args.head, DoubleType),
          args.lift(1).map(k => Literal(intArg("kll_sketch", 1, k)))) }))
}
