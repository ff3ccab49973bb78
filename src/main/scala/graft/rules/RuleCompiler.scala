package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftShims
import graft.plans.{ArrayLoop, Outline}

/** Result of compiling a rule against a value column:
  *   - `pred`: boolean Column — true iff the value satisfies the rule;
  *   - `violations`: Column of `array<struct<path,rule,message>>` — the
  *     set-at-a-time analogue of the reference's `Context.errors` sink
  *     (`/root/reference/src/validation/context.rs:14-34`). Pure expression,
  *     no mutable state: per-row violations are the concatenation of each
  *     keyword's conditional singleton array.
  */
final case class Compiled(pred: Column, violations: Column)

/** Compiles a [[Rule]] tree into Catalyst `Column` expressions, once, on the
  * driver — the analogue of `Subschema::try_from` + `validate` fused
  * (`/root/reference/src/schemas/yaml_schema.rs:439-660,705-898`), except the
  * output is a declarative expression evaluated set-at-a-time instead of a
  * recursive tree walk per document. Array and map keywords lower to
  * [[graft.plans.ArrayLoop]]s, so the whole tree is generated code: no
  * higher-order function (an interpreted `CodegenFallback`) remains.
  *
  * The table schema is static, so type dispatch (`yaml_schema.rs:1005-1096`)
  * largely resolves at compile time: a `type: string` rule against an int
  * column folds to `lit(false)` + a constant message; `integer` against a
  * double column becomes `v === floor(v)` (`schemas/integer.rs:84-94`).
  *
  * Branch isolation for allOf/anyOf/oneOf/not/if-then-else is free: branch
  * predicates are side-effect-free expressions, so "errors discarded on
  * mismatch" (`context.rs:72-103`) needs no sub-context machinery — only the
  * summary message surfaces, exactly as in the reference (branch errors live
  * in throwaway sub-contexts: `all_of.rs:76`, `any_of.rs`, `one_of.rs:78`).
  * Keywords that DO surface sub-errors in the reference (properties, items,
  * prefixItems, then/else, dependentSchemas) contribute nested violation
  * arrays instead of summary rows.
  */
object RuleCompiler {

  val violStruct: StructType = StructType(Seq(
    StructField("path", StringType, nullable = true),
    StructField("rule", StringType, nullable = true),
    StructField("message", StringType, nullable = true)))
  val violArray: ArrayType = ArrayType(violStruct, containsNull = true)

  private def emptyViols: Column = array().cast(violArray)

  /** Does `f` hold for no element of `arr`? (`size(filter(arr, f)) = 0` on
    * a non-null array, stopping at the first hit.) */
  private def none(arr: Column)(f: (Column, Column) => Column): Column =
    !coalesce(ArrayLoop.exists(arr)(f), lit(false))

  /** Violation path, statically known wherever possible so paths fold to
    * string literals at plan time (dynamic only under array indices / map
    * keys). Dot-joined like the reference (`context.rs:61-63`).
    */
  sealed trait PathRef {
    def col: Column
    def child(name: String): PathRef
    def childDyn(c: Column): PathRef
  }
  final case class StaticPath(s: String) extends PathRef {
    def col: Column = lit(s)
    def child(name: String): PathRef = StaticPath(if (s.isEmpty) name else s + "." + name)
    def childDyn(c: Column): PathRef =
      DynPath(if (s.isEmpty) c.cast(StringType) else concat(lit(s + "."), c.cast(StringType)))
  }
  final case class DynPath(c: Column) extends PathRef {
    def col: Column = c
    def child(name: String): PathRef = DynPath(concat(c, lit("." + name)))
    def childDyn(cc: Column): PathRef = DynPath(concat(c, lit("."), cc.cast(StringType)))
  }

  /** One keyword check: fires only when `appl` (applicability) holds — JSON
    * Schema keywords ignore values of non-matching primitive types, like the
    * reference's per-type dispatch.
    */
  private final case class Chk(appl: Column, ok: Column, rule: String, msg: Column)

  /** `extraPreds` affect the predicate but emit no violation of their own —
    * used by keywords whose errors surface per-element/per-branch through
    * `nested` (items, prefixItems, then/else, dependentSchemas), matching the
    * reference where those keywords only propagate sub-errors.
    */
  private def combine(path: PathRef, chks: Seq[Chk], nested: Seq[Column],
      extraPreds: Seq[Column] = Nil): Compiled = {
    val preds = chks.map(c => !c.appl || coalesce(c.ok, lit(false))) ++ extraPreds
    val violParts = chks.map { c =>
      when(c.appl && !coalesce(c.ok, lit(false)),
        array(struct(path.col.as("path"), lit(c.rule).as("rule"), c.msg.as("message"))))
        .otherwise(emptyViols)
    } ++ nested.map(n => coalesce(n, emptyViols))
    val pred = if (preds.isEmpty) lit(true) else chunked(preds)(_.reduce(_ && _))
    val viols = if (violParts.isEmpty) emptyViols else chunked(violParts)(concat(_: _*))
    Compiled(pred, viols)
  }

  /** Parts per generated method: see [[graft.plans.Outline]]. */
  private val Chunk = 8

  /** `f` over `parts`; over more than [[Chunk]] parts, `f` over groups of
    * them, each an [[graft.plans.Outline]]d method (`f` must be
    * associative, as `&&` and `concat` are). */
  private def chunked(parts: Seq[Column])(f: Seq[Column] => Column): Column =
    if (parts.size <= Chunk) f(parts)
    else chunked(parts.grouped(Chunk).map(g =>
      GraftShims.column(Outline(GraftShims.expression(f(g))))).toSeq)(f)

  // --- value rendering for messages ---

  /** `humanize_yaml_data` (`utils.rs:138-153`): `"s" (string)`, `42 (int)`,
    * `1.5 (float)`, `true (bool)`.
    */
  /** Column twin of [[Num.fmt]]: Rust's `{}` renders whole floats without
    * the trailing `.0` (`1.0f64` → "1"), so dynamic float VALUES in
    * messages must too — a bare cast-to-string would print "1.0" and break
    * message-exact parity for whole-valued floats.
    */
  private def numStr(v: Column): Column = {
    val d = v.cast(DoubleType)
    // bound = the long-exact range, not 1e15: whole floats in [-2^63, 2^63)
    // must also render without an exponent ("1000000000000000", as Rust's
    // `{}` does). Upper bound `< Long.MaxValue.toDouble` (= 2^63 exactly)
    // keeps the ANSI double→long cast in the then-branch overflow-free
    // (largest double below 2^63 is 2^63 − 1024); the LOWER bound is
    // inclusive — exactly −2^63 IS long-representable and must render as
    // "-9223372036854775808", not "-9.223372036854776E18".
    when(pmod(d, lit(1.0)) === 0.0 &&
        d >= lit(Long.MinValue.toDouble) && d < lit(Long.MaxValue.toDouble),
      d.cast(LongType).cast(StringType)).otherwise(d.cast(StringType))
  }

  private def humanize(dt: DataType, v: Column): Column = {
    val body = dt match {
      case StringType => concat(lit("\""), v, lit("\" (string)"))
      case ByteType | ShortType | IntegerType | LongType =>
        concat(v.cast(StringType), lit(" (int)"))
      case FloatType | DoubleType | _: DecimalType =>
        concat(numStr(v), lit(" (float)"))
      case BooleanType => concat(v.cast(StringType), lit(" (bool)"))
      case _           => to_json(struct(v))
    }
    when(v.isNull, lit("Value(Null)")).otherwise(body)
  }

  /** `format_yaml_data` (`utils.rs:56-94`): strings quoted, scalars plain,
    * composites JSON-ish.
    */
  private def fmtValue(dt: DataType, v: Column): Column = {
    val body = dt match {
      case StringType => concat(lit("\""), v, lit("\""))
      case FloatType | DoubleType | _: DecimalType => numStr(v) // Num.fmt twin
      case BooleanType | ByteType | ShortType | IntegerType | LongType =>
        v.cast(StringType)
      case _ => to_json(struct(v.as("v")))
    }
    when(v.isNull, lit("null")).otherwise(body)
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }
  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** `validate_by_type` (`yaml_schema.rs:1005-1096`), resolved statically. */
  private def typePred(t: String, dt: DataType, v: Column): Column = t match {
    case "null"    => v.isNull
    case "boolean" => if (dt == BooleanType) v.isNotNull else lit(false)
    case "string"  => if (dt == StringType) v.isNotNull else lit(false)
    case "number"  => if (isNumeric(dt)) v.isNotNull else lit(false)
    case "integer" =>
      if (isIntegral(dt)) v.isNotNull
      // fract() == 0.0 (integer.rs:84-94) — NOT `v === floor(v)`: Spark's
      // floor(double) returns LongType, so whole doubles >= 2^63 would
      // saturate and be wrongly rejected; `% 1` stays in double space
      else if (isNumeric(dt)) v.isNotNull && pmod(v.cast("double"), lit(1.0)) === 0.0
      else lit(false)
    case "object" => dt match {
      case _: StructType | _: MapType => v.isNotNull
      case _                          => lit(false)
    }
    case "array" => dt match {
      case _: ArrayType => v.isNotNull
      case _            => lit(false)
    }
    case other => throw new IllegalArgumentException(s"Unsupported type: $other")
  }

  private def constPred(c: ConstVal, dt: DataType, v: Column): Column = c match {
    case ConstVal.VNull    => v.isNull
    case ConstVal.VBool(b) =>
      v.isNotNull && (if (dt == BooleanType) v === lit(b) else lit(false))
    case ConstVal.VInt(i)  => v.isNotNull && (if (isNumeric(dt)) v === lit(i) else lit(false))
    case ConstVal.VNum(d)  => v.isNotNull && (if (isNumeric(dt)) v === lit(d) else lit(false))
    case ConstVal.VStr(s)  => v.isNotNull && (if (dt == StringType) v === lit(s) else lit(false))
    // deep equality for composite consts (lib.rs:145-188)
    case ConstVal.VArr(items) => dt match {
      case ArrayType(et, _) =>
        // get/try_element_at, not element_at: ANSI element_at throws on a
        // shorter array, and codegen CSE can hoist it past the size guard
        items.zipWithIndex
          .map { case (cc, i) => constPred(cc, et, get(v, lit(i))) }
          .foldLeft(v.isNotNull && size(v) === lit(items.size))(_ && _)
      case _ => lit(false)
    }
    case ConstVal.VObj(fs) => dt match {
      case st: StructType =>
        val matches = fs.map { case (k, cc) =>
          st.fields.find(_.name == k)
            .map(f => constPred(cc, f.dataType, v.getField(k)))
            .getOrElse(lit(false))
        }.foldLeft(v.isNotNull)(_ && _)
        // fields outside the const must be absent (null)
        st.fields.filterNot(f => fs.contains(f.name))
          .map(f => v.getField(f.name).isNull).foldLeft(matches)(_ && _)
      case MapType(StringType, vt, _) =>
        fs.map { case (k, cc) => constPred(cc, vt, try_element_at(v, lit(k))) }
          .foldLeft(v.isNotNull && size(map_keys(v)) === lit(fs.size))(_ && _)
      case _ => lit(false)
    }
  }

  /** Annotations inherited from sibling in-place applicators of the parent
    * schema (2020-12: unevaluated* sees keys/items evaluated by any
    * successfully applied sibling branch — the reference's shared annotation
    * carriers, annotations.rs + one_of.rs:100-126).
    */
  final case class Inh(key: Column => Column, item: (Column, Column) => Column)
  object Inh { val empty: Inh = Inh(_ => lit(false), (_, _) => lit(false)) }

  /** Is map key `k` "evaluated" by `rule` at value `v` — the compile-time
    * lowering of the reference's evaluated-name annotations
    * (`annotations.rs:8-29`, merged on branch success per `any_of.rs:85-96`,
    * `one_of.rs:100-126`, `if_then_else.rs:93-102`): with a static rule tree
    * the per-branch key sets are known at compile time, so "evaluated" is a
    * boolean Column over (k, branch predicates).
    */
  private def keyEvaluated(rule: Rule, k: Column, v: Column, dt: DataType,
      defs: Map[String, Rule], active: Set[String]): Column = rule match {
    case Rule.Accept | Rule.Reject => lit(false)
    case Rule.Ref(name) =>
      if (active.contains(name)) lit(false)
      else keyEvaluated(defs(name), k, v, dt, defs, active + name)
    case Rule.Check(kw) =>
      val here = Seq(
        if (kw.properties.isEmpty) lit(false)
        else kw.properties.keys.map(p => k === lit(p)).reduce(_ || _),
        kw.patternProperties.keys.map(re => k.rlike(re))
          .reduceOption(_ || _).getOrElse(lit(false)),
        // an additionalProperties schema evaluates every remaining key
        lit(kw.additionalProperties.isDefined))
      val pred = (r: Rule) => compileAt(r, v, dt, StaticPath(""), defs, active).pred
      // dependentSchemas branches validate against the PARENT context
      // (objects.rs:242-248), so their evaluated-name annotations feed
      // unevaluatedProperties like any other in-place applicator
      val depTrigger = (trigger: String) => dt match {
        case st: StructType =>
          if (st.fieldNames.contains(trigger)) v.getField(trigger).isNotNull
          else lit(false)
        case MapType(StringType, _, _) => array_contains(map_keys(v), trigger)
        case _ => lit(false)
      }
      val branches =
        kw.allOf.map(b => pred(b) && keyEvaluated(b, k, v, dt, defs, active)) ++
        kw.anyOf.map(b => pred(b) && keyEvaluated(b, k, v, dt, defs, active)) ++
        kw.oneOf.map(b => pred(b) && keyEvaluated(b, k, v, dt, defs, active)) ++
        kw.dependentSchemas.toSeq.map { case (trigger, r) =>
          depTrigger(trigger) && pred(r) && keyEvaluated(r, k, v, dt, defs, active)
        } ++
        kw.ifRule.toSeq.flatMap { ifR =>
          val ifPred = pred(ifR)
          Seq(ifPred && keyEvaluated(ifR, k, v, dt, defs, active)) ++
            kw.thenRule.map(t => ifPred && keyEvaluated(t, k, v, dt, defs, active)) ++
            kw.elseRule.map(e => !ifPred && keyEvaluated(e, k, v, dt, defs, active))
        }
      (here ++ branches).reduce(_ || _)
  }

  /** Is array element (x, i) "covered" by `rule` — the compile-time lowering
    * of the reference's array annotations (prefix coverage / contains
    * matches / full items coverage, `annotations.rs:31-93`).
    */
  private def itemCovered(rule: Rule, x: Column, i: Column, elemDt: DataType,
      v: Column, dt: DataType, defs: Map[String, Rule], active: Set[String]): Column =
    rule match {
      case Rule.Accept | Rule.Reject => lit(false)
      case Rule.Ref(name) =>
        if (active.contains(name)) lit(false)
        else itemCovered(defs(name), x, i, elemDt, v, dt, defs, active + name)
      case Rule.Check(kw) =>
        val here = Seq(
          lit(kw.items.isDefined), // items (incl. false) covers the tail
          if (kw.prefixItems.isEmpty) lit(false) else i < lit(kw.prefixItems.length),
          kw.contains.map(c =>
            compileAt(c, x, elemDt, StaticPath(""), defs, active).pred)
            .getOrElse(lit(false)))
        val pred = (r: Rule) => compileAt(r, v, dt, StaticPath(""), defs, active).pred
        val branches =
          (kw.allOf ++ kw.anyOf ++ kw.oneOf).map(b =>
            pred(b) && itemCovered(b, x, i, elemDt, v, dt, defs, active)) ++
          kw.ifRule.toSeq.flatMap { ifR =>
            val ifPred = pred(ifR)
            Seq(ifPred && itemCovered(ifR, x, i, elemDt, v, dt, defs, active)) ++
              kw.thenRule.map(t => ifPred && itemCovered(t, x, i, elemDt, v, dt, defs, active)) ++
              kw.elseRule.map(e => !ifPred && itemCovered(e, x, i, elemDt, v, dt, defs, active))
          }
        (here ++ branches).reduce(_ || _)
    }

  /** Entry point. `value` is the column holding the instance (sub)value of
    * static type `dt`; `defs` are resolved `$defs` bindings.
    */
  def compile(rule: Rule, value: Column, dt: DataType,
      defs: Map[String, Rule] = Map.empty): Compiled =
    compileAt(rule, value, dt, StaticPath(""), defs, Set.empty, Inh.empty)

  /** `active` tracks $refs expanded at the CURRENT value position: a ref
    * that recurses without descending into a child value can never
    * terminate and is rejected (the reference detects the same condition at
    * runtime via (ref, position) pairs, context.rs:219-236). Recursion that
    * descends through properties/items is legitimate (e.g. the reference's
    * own meta-schema) and terminates naturally because the static table
    * schema has finite depth — descent resets `active`.
    */
  def compileAt(rule: Rule, value: Column, dt: DataType, path: PathRef,
      defs: Map[String, Rule], active: Set[String], inh: Inh = Inh.empty)
      : Compiled = rule match {
    case Rule.Accept => Compiled(lit(true), emptyViols)
    case Rule.Reject =>
      combine(path, Seq(Chk(lit(true), lit(false), "false",
        lit("YamlSchema is `false`!"))), Nil) // yaml_schema.rs:183
    case Rule.Ref(name) =>
      if (active.contains(name)) {
        throw new IllegalArgumentException(s"Circular $$ref detected: $name")
      }
      val target = defs.getOrElse(name,
        throw new IllegalArgumentException(s"Schema $name not found")) // yaml_schema.rs:733
      compileAt(target, value, dt, path, defs, active + name, inh)
    case Rule.Check(kw) => compileKeywords(kw, value, dt, path, defs, active, inh)
  }

  // scalastyle:off method.length cyclomatic.complexity
  private def compileKeywords(kw: Keywords, v: Column, dt: DataType, path: PathRef,
      defs: Map[String, Rule], active: Set[String], inh: Inh): Compiled = {
    val chks = Seq.newBuilder[Chk]
    val nested = Seq.newBuilder[Column]
    val extraPreds = Seq.newBuilder[Column]
    // this level's own evaluated-set functions (unevaluated* excluded),
    // passed to same-value branches so a branch's unevaluated* sees keys
    // evaluated by its SIBLINGS (and the parent's inherited set)
    lazy val selfNoUneval =
      Rule.Check(kw.copy(unevaluatedProperties = None, unevaluatedItems = None))
    val childInh = Inh(
      key = k => inh.key(k) || keyEvaluated(selfNoUneval, k, v, dt, defs, active),
      item = (x, i) => dt match {
        case ArrayType(et, _) =>
          inh.item(x, i) || itemCovered(selfNoUneval, x, i, et, v, dt, defs, active)
        case _ => inh.item(x, i)
      })
    // same-value sub-rule: keeps the active-$ref set (no descent)
    def sub(r: Rule, sv: Column, sdt: DataType, sp: PathRef): Compiled =
      compileAt(r, sv, sdt, sp, defs, active, childInh)
    // descending sub-rule: new value position, active set + annotations reset
    def subChild(r: Rule, sv: Column, sdt: DataType, sp: PathRef): Compiled =
      compileAt(r, sv, sdt, sp, defs, Set.empty, Inh.empty)

    // --- type (yaml_schema.rs:851-875) ---
    kw.types.foreach {
      case t :: Nil =>
        val msg = t match {
          case "null" => concat(lit("Expected null, but got: "), humanize(dt, v))
          case "integer" => concat(lit("Expected an integer, but got: "), humanize(dt, v))
          case "object" => concat(lit("Expected an object, but got: "), humanize(dt, v))
          case "array" => concat(lit("Expected an array, but got: "), humanize(dt, v))
          case other => concat(lit(s"Expected a $other, but got: "), humanize(dt, v))
        }
        chks += Chk(lit(true), typePred(t, dt, v), "type", msg)
      case ts =>
        val pred = ts.map(typePred(_, dt, v)).reduce(_ || _)
        chks += Chk(lit(true), pred, "type",
          lit(s"None of type: [${ts.mkString(", ")}] matched")) // yaml_schema.rs:869
    }

    // --- const (yaml_schema.rs:877-888) ---
    kw.const.foreach { c =>
      chks += Chk(lit(true), constPred(c, dt, v), "const",
        concat(lit(s"Expected const: ${ConstVal.render(c)}, but got: "), fmtValue(dt, v)))
    }

    // --- enum (schemas/enum.rs:48-87) ---
    kw.enum_.foreach { vals =>
      val pred = vals.map(constPred(_, dt, v)).reduce(_ || _)
      val rendered = vals.map(ConstVal.render).mkString(", ")
      chks += Chk(lit(true), pred, "enum",
        concat(lit("Value "), fmtValue(dt, v), lit(s" is not in the enum: [$rendered]")))
    }

    // --- numeric bounds (schemas/numeric.rs:18-58) ---
    if (isNumeric(dt)) {
      val num = v.isNotNull
      kw.minimum.foreach(m => chks += Chk(num, v >= lit(m), "minimum",
        lit(s"Number must be greater than or equal to ${Num.fmt(m)}")))
      kw.exclusiveMinimum.foreach(m => chks += Chk(num, v > lit(m), "exclusiveMinimum",
        lit(s"Number must be greater than ${Num.fmt(m)}")))
      kw.maximum.foreach(m => chks += Chk(num, v <= lit(m), "maximum",
        lit(s"Number must be less than or equal to ${Num.fmt(m)}")))
      kw.exclusiveMaximum.foreach(m => chks += Chk(num, v < lit(m), "exclusiveMaximum",
        lit(s"Number must be less than ${Num.fmt(m)}")))
      kw.multipleOf.foreach { m =>
        // lib.rs:63-71: exact for int/int, float modulo otherwise
        val ok =
          if (isIntegral(dt) && m.isWhole) v % lit(m.toLong) === lit(0L)
          else v.cast(DoubleType) % lit(m) === lit(0.0)
        chks += Chk(num, ok, "multipleOf", lit(s"Number is not a multiple of ${Num.fmt(m)}!"))
      }
    }

    // --- string checks (validation/strings.rs:55-98) ---
    if (dt == StringType) {
      val str = v.isNotNull
      // length() on StringType counts Unicode code points (UTF8String.numChars),
      // matching the reference's chars().count() (strings.rs:64-67).
      kw.minLength.foreach(n => chks += Chk(str, length(v) >= lit(n), "minLength",
        lit(s"String is too short! (min length: $n)")))
      kw.maxLength.foreach(n => chks += Chk(str, length(v) <= lit(n), "maxLength",
        lit(s"String is too long! (max length: $n)")))
      // Unanchored search, like Rust Regex::is_match (strings.rs:80-87).
      kw.pattern.foreach(p => chks += Chk(str, v.rlike(p), "pattern",
        lit(s"String does not match regular expression $p!")))
      kw.format.foreach(f => chks += Chk(str, Formats.pred(f, v), "format",
        concat(lit("String \""), v, lit(s"\" is not a valid \"$f\"")))) // formats.rs:41
    }

    // --- object keywords ---
    dt match {
      case st: StructType =>
        val objAppl = v.isNotNull
        val fields = st.fields.map(f => f.name -> f).toMap
        // required (objects.rs:182-196): a null struct field = missing key
        kw.required.foreach { p =>
          val present = fields.get(p).map(_ => v.getField(p).isNotNull).getOrElse(lit(false))
          chks += Chk(objAppl, present, "required",
            lit(s"Required property '$p' is missing!"))
        }
        // properties (objects.rs:37-59): validates only PRESENT properties
        // (a null struct field models a missing key, which `required`
        // reports; the sub-rule itself is vacuous on absent keys, matching
        // JSON Schema); sub-errors surface (loop at objects.rs:128-132)
        kw.properties.foreach { case (name, r) =>
          fields.get(name).foreach { f =>
            val present = objAppl && v.getField(name).isNotNull
            val c = subChild(r, v.getField(name), f.dataType, path.child(name))
            nested += when(present, c.violations).otherwise(emptyViols)
            extraPreds += (!present || coalesce(c.pred, lit(false)))
          }
        }
        // min/maxProperties (objects.rs:199-217): count present (non-null) keys
        if (kw.minProperties.isDefined || kw.maxProperties.isDefined) {
          val cnt = st.fields.map(f => when(v.getField(f.name).isNotNull, 1).otherwise(0))
            .reduceOption((a, b) => a + b).getOrElse(lit(0))
          kw.minProperties.foreach(n => chks += Chk(objAppl, cnt >= lit(n), "minProperties",
            lit(s"Object has too few properties! Minimum is $n!")))
          kw.maxProperties.foreach(n => chks += Chk(objAppl, cnt <= lit(n), "maxProperties",
            lit(s"Object has too many properties! Maximum is $n!")))
        }
        // dependentRequired (objects.rs:222-241)
        kw.dependentRequired.foreach { case (trigger, deps) =>
          val trig = fields.get(trigger).map(_ => v.getField(trigger).isNotNull)
            .getOrElse(lit(false))
          deps.foreach { d =>
            val present = fields.get(d).map(_ => v.getField(d).isNotNull).getOrElse(lit(false))
            chks += Chk(objAppl && trig, present, "dependentRequired",
              lit(s"Required property '$d' is missing!"))
          }
        }
        // dependentSchemas (objects.rs:242-248): sub-errors surface
        kw.dependentSchemas.foreach { case (trigger, r) =>
          val trig = fields.get(trigger).map(_ => v.getField(trigger).isNotNull)
            .getOrElse(lit(false))
          val c = sub(r, v, dt, path)
          nested += when(objAppl && trig, c.violations).otherwise(emptyViols)
          extraPreds += (!(objAppl && trig) || coalesce(c.pred, lit(false)))
        }
        // open-object keywords against a struct: key names are STATIC, so
        // pattern matching / evaluated-set membership resolves at compile
        // time; only presence (field non-null) stays dynamic
        val propNamesSet = kw.properties.keySet
        def patMatches(name: String): Boolean = kw.patternProperties.keys.exists(re =>
          java.util.regex.Pattern.compile(re).matcher(name).find())
        kw.patternProperties.foreach { case (re, r) =>
          val pat = java.util.regex.Pattern.compile(re)
          st.fields.filter(f => pat.matcher(f.name).find()).foreach { f =>
            val present = objAppl && v.getField(f.name).isNotNull
            val c = subChild(r, v.getField(f.name), f.dataType, path.child(f.name))
            nested += when(present, c.violations).otherwise(emptyViols)
            extraPreds += (!present || coalesce(c.pred, lit(false)))
          }
        }
        // additionalProperties (objects.rs:64-90): keys not in properties and
        // matching no patternProperties regex
        kw.additionalProperties.foreach { apRule =>
          // `$schema` is always skipped in the property walk (objects.rs:121-125)
          val extras = st.fields.filterNot(_.name == "$schema")
            .filter(f => !propNamesSet.contains(f.name) && !patMatches(f.name))
          apRule match {
            case Rule.Reject => extras.foreach { f =>
              chks += Chk(objAppl && v.getField(f.name).isNotNull, lit(false),
                "additionalProperties",
                lit(s"Additional property '${f.name}' is not allowed!")) // objects.rs:77-80
            }
            case r => extras.foreach { f =>
              val present = objAppl && v.getField(f.name).isNotNull
              val c = subChild(r, v.getField(f.name), f.dataType, path.child(f.name))
              nested += when(present, c.violations).otherwise(emptyViols)
              extraPreds += (!present || coalesce(c.pred, lit(false)))
            }
          }
        }
        // propertyNames (objects.rs:169-178): literal names, folds statically
        kw.propertyNames.foreach { r =>
          st.fields.filterNot(_.name == "$schema").foreach { f =>
            val c = subChild(r, lit(f.name), StringType, path)
            chks += Chk(objAppl && v.getField(f.name).isNotNull, c.pred, "propertyNames",
              lit(s"Property name '${f.name}' is not valid!"))
          }
        }
        // unevaluatedProperties (yaml_schema.rs:921-961) over static names;
        // sibling-branch annotations arrive via `inh`
        kw.unevaluatedProperties.foreach { uRule =>
          val self = Rule.Check(kw.copy(unevaluatedProperties = None))
          st.fields.filterNot(_.name == "$schema").foreach { f =>
            val present = objAppl && v.getField(f.name).isNotNull
            val evald = inh.key(lit(f.name)) ||
              keyEvaluated(self, lit(f.name), v, dt, defs, active)
            uRule match {
              case Rule.Reject =>
                chks += Chk(present && !evald, lit(false), "unevaluatedProperties",
                  lit(s"Unevaluated property '${f.name}' is not allowed!"))
              case r =>
                val c = subChild(r, v.getField(f.name), f.dataType, path.child(f.name))
                nested += when(present && !evald, c.violations).otherwise(emptyViols)
                extraPreds += (!(present && !evald) || coalesce(c.pred, lit(false)))
            }
          }
        }

      case MapType(StringType, valDt, _) =>
        val objAppl = v.isNotNull
        val propNames = kw.properties.keys.toSeq
        kw.required.foreach { p =>
          chks += Chk(objAppl, array_contains(map_keys(v), p), "required",
            lit(s"Required property '$p' is missing!"))
        }
        kw.properties.foreach { case (name, r) =>
          val c = subChild(r, try_element_at(v, lit(name)), valDt, path.child(name))
          val appl = objAppl && array_contains(map_keys(v), name)
          nested += when(appl, c.violations).otherwise(emptyViols)
          extraPreds += (!appl || coalesce(c.pred, lit(false)))
        }
        // patternProperties (objects.rs:134-149)
        kw.patternProperties.foreach { case (re, r) =>
          val viol = ArrayLoop.flatMap(map_entries(v)) { (e, _) =>
            val c = subChild(r, e.getField("value"), valDt, path.childDyn(e.getField("key")))
            when(e.getField("key").rlike(re), c.violations).otherwise(emptyViols)
          }
          nested += when(objAppl, viol).otherwise(emptyViols)
          extraPreds += (!objAppl || coalesce(ArrayLoop.forall(map_entries(v)) { (e, _) =>
            !e.getField("key").rlike(re) ||
              subChild(r, e.getField("value"), valDt, path).pred }, lit(false)))
        }
        // additionalProperties (objects.rs:64-90,153-167): applies to keys not
        // in `properties` and matching no patternProperties regex
        kw.additionalProperties.foreach { apRule =>
          val isKnown: Column => Column = k => {
            val inProps =
              if (propNames.isEmpty) lit(false)
              else propNames.map(p => k === lit(p)).reduce(_ || _)
            val inPatterns = kw.patternProperties.keys
              .map(re => k.rlike(re)).reduceOption(_ || _).getOrElse(lit(false))
            // `$schema` is always skipped in the walk (objects.rs:121-125)
            inProps || inPatterns || k === lit("$schema")
          }
          apRule match {
            case Rule.Reject =>
              val viol = ArrayLoop.flatMap(map_keys(v)) { (k, _) =>
                when(!isKnown(k), array(struct(
                  path.childDyn(k).col.as("path"),
                  lit("additionalProperties").as("rule"),
                  concat(lit("Additional property '"), k, lit("' is not allowed!"))
                    .as("message")))).otherwise(emptyViols)
              }
              nested += when(objAppl, viol).otherwise(emptyViols)
              extraPreds += (!objAppl || none(map_keys(v))((k, _) => !isKnown(k)))
            case r =>
              val viol = ArrayLoop.flatMap(map_entries(v)) { (e, _) =>
                val k = e.getField("key")
                val c = subChild(r, e.getField("value"), valDt, path.childDyn(k))
                when(!isKnown(k), c.violations).otherwise(emptyViols)
              }
              nested += when(objAppl, viol).otherwise(emptyViols)
              extraPreds += (!objAppl || coalesce(ArrayLoop.forall(map_entries(v)) { (e, _) =>
                isKnown(e.getField("key")) ||
                  subChild(r, e.getField("value"), valDt, path).pred }, lit(false)))
          }
        }
        // propertyNames (objects.rs:169-178)
        kw.propertyNames.foreach { r =>
          val bad = (k: Column, _: Column) =>
            k =!= lit("$schema") && !subChild(r, k, StringType, path).pred
          val viol = ArrayLoop.flatMap(map_keys(v)) { (k, i) =>
            when(bad(k, i), array(struct(
              path.col.as("path"), lit("propertyNames").as("rule"),
              concat(lit("Property name '"), k, lit("' is not valid!")).as("message"))))
              .otherwise(emptyViols)
          }
          nested += when(objAppl, viol).otherwise(emptyViols)
          // `$schema` is skipped in BOTH channels (objects.rs:121-125) —
          // skipping it only in violations would let pred fail with an
          // empty violation list
          extraPreds += (!objAppl || none(map_keys(v))(bad))
        }
        if (kw.minProperties.isDefined || kw.maxProperties.isDefined) {
          val cnt = size(map_keys(v))
          kw.minProperties.foreach(n => chks += Chk(objAppl, cnt >= lit(n), "minProperties",
            lit(s"Object has too few properties! Minimum is $n!")))
          kw.maxProperties.foreach(n => chks += Chk(objAppl, cnt <= lit(n), "maxProperties",
            lit(s"Object has too many properties! Maximum is $n!")))
        }
        // dependentRequired (objects.rs:222-241) — map form: trigger/dep
        // presence is key membership rather than struct-field nullness
        kw.dependentRequired.foreach { case (trigger, deps) =>
          val trig = array_contains(map_keys(v), trigger)
          deps.foreach { d =>
            chks += Chk(objAppl && trig, array_contains(map_keys(v), d),
              "dependentRequired", lit(s"Required property '$d' is missing!"))
          }
        }
        // dependentSchemas (objects.rs:242-248) — map form
        kw.dependentSchemas.foreach { case (trigger, r) =>
          val trig = array_contains(map_keys(v), trigger)
          val c = sub(r, v, dt, path)
          nested += when(objAppl && trig, c.violations).otherwise(emptyViols)
          extraPreds += (!(objAppl && trig) || coalesce(c.pred, lit(false)))
        }
        // unevaluatedProperties (yaml_schema.rs:921-961): keys not evaluated
        // here nor in any successful branch; `$schema` is always skipped
        // (objects.rs:121-125)
        kw.unevaluatedProperties.foreach { uRule =>
          val self = Rule.Check(kw.copy(unevaluatedProperties = None))
          val isEval: Column => Column = k =>
            k === lit("$schema") || inh.key(k) ||
              keyEvaluated(self, k, v, dt, defs, active)
          uRule match {
            case Rule.Reject =>
              val viol = ArrayLoop.flatMap(map_keys(v)) { (k, _) =>
                when(!isEval(k), array(struct(
                  path.childDyn(k).col.as("path"),
                  lit("unevaluatedProperties").as("rule"),
                  concat(lit("Unevaluated property '"), k,
                    lit("' is not allowed!")).as("message")))) // yaml_schema.rs:949-953
                  .otherwise(emptyViols)
              }
              nested += when(objAppl, viol).otherwise(emptyViols)
              extraPreds += (!objAppl || none(map_keys(v))((k, _) => !isEval(k)))
            case r =>
              val viol = ArrayLoop.flatMap(map_entries(v)) { (e, _) =>
                val k = e.getField("key")
                val c = subChild(r, e.getField("value"), valDt, path.childDyn(k))
                when(!isEval(k), c.violations).otherwise(emptyViols)
              }
              nested += when(objAppl, viol).otherwise(emptyViols)
              extraPreds += (!objAppl || coalesce(ArrayLoop.forall(map_entries(v)) { (e, _) =>
                isEval(e.getField("key")) ||
                  subChild(r, e.getField("value"), valDt, path).pred }, lit(false)))
          }
        }

      case _ => // object keywords vacuous on non-object types
    }

    // --- array keywords (schemas/array.rs) ---
    dt match {
      case ArrayType(elemDt, _) =>
        val arrAppl = v.isNotNull
        val n = size(v)
        // minItems/maxItems (array.rs:151-174) — dynamic found-count in message
        kw.minItems.foreach(m => chks += Chk(arrAppl, n >= lit(m), "minItems",
          concat(lit(s"Array has too few items (minimum $m, found "), n.cast(StringType),
            lit(")"))))
        kw.maxItems.foreach(m => chks += Chk(arrAppl, n <= lit(m), "maxItems",
          concat(lit(s"Array has too many items (maximum $m, found "), n.cast(StringType),
            lit(")"))))
        // uniqueItems (array.rs:176-187): report 2nd+ occurrences. Detection
        // must be null-safe (`<=>`): `array_position` returns null for null
        // elements, so [null, null] produced an empty violations array while
        // the pred channel (array_distinct) said "duplicate" — the two
        // channels now derive from the SAME dups expression so they always
        // agree (the reference rejects duplicate nulls too: HashSet insert).
        if (kw.uniqueItems) {
          val isDup = (x: Column, i: Column) =>
            ArrayLoop.exists(v)((y, j) => j < i && (y eqNullSafe x))
          nested += when(arrAppl, ArrayLoop.flatMap(v) { (x, i) =>
            when(isDup(x, i), array(struct(
              path.childDyn(i).col.as("path"),
              lit("uniqueItems").as("rule"),
              concat(lit("Duplicate array element: "), fmtValue(elemDt, x)).as("message"))))
              .otherwise(emptyViols)
          }).otherwise(emptyViols)
          extraPreds += (!arrAppl || none(v)(isDup))
        }
        // contains + min/maxContains (array.rs:190-222); default min=1
        kw.contains.foreach { r =>
          val cnt = ArrayLoop.count(v)((x, _) => subChild(r, x, elemDt, path).pred)
          val minC = kw.minContains.getOrElse(1)
          chks += Chk(arrAppl, cnt >= lit(minC), "minContains",
            concat(lit(s"Array must contain at least $minC item(s) matching the contains " +
              "schema, but only "), cnt.cast(StringType), lit(" matched")))
          kw.maxContains.foreach(maxC => chks += Chk(arrAppl, cnt <= lit(maxC), "maxContains",
            concat(lit(s"Array must contain at most $maxC item(s) matching the contains " +
              "schema, but "), cnt.cast(StringType), lit(" matched"))))
        }
        // prefixItems (array.rs:225-259): positional sub-errors surface.
        // `get` (0-based) is null on out-of-bounds — ANSI `element_at`
        // throws, and codegen subexpression elimination can hoist it past
        // the `applies` guard (observed: INVALID_ARRAY_INDEX_IN_ELEMENT_AT
        // on the reference's Tuple-validation scenario)
        kw.prefixItems.zipWithIndex.foreach { case (r, i) =>
          val c = subChild(r, get(v, lit(i)), elemDt, path.child(i.toString))
          val applies = arrAppl && n > lit(i)
          nested += when(applies, c.violations).otherwise(emptyViols)
          extraPreds += (!applies || coalesce(c.pred, lit(false)))
        }
        // items (array.rs:261-278); `items: false` => no elements beyond prefix
        kw.items.foreach {
          case Rule.Reject =>
            chks += Chk(arrAppl, n <= lit(kw.prefixItems.length), "items",
              lit("Array items are not allowed!")) // array.rs:268
          case r =>
            val skip = kw.prefixItems.length
            val tailViols = ArrayLoop.flatMap(v) { (x, i) =>
              val c = subChild(r, x, elemDt, path.childDyn(i))
              if (skip == 0) c.violations
              else when(i >= lit(skip), c.violations).otherwise(emptyViols)
            }
            val tailPred = ArrayLoop.forall(v) { (x, i) =>
              val c = subChild(r, x, elemDt, path).pred
              if (skip == 0) c else i < lit(skip) || c
            }
            nested += when(arrAppl, tailViols).otherwise(emptyViols)
            extraPreds += (!arrAppl || coalesce(tailPred, lit(false)))
        }
        // unevaluatedItems (yaml_schema.rs:963-1003): indices covered by
        // neither prefixItems/items/contains here nor in successful branches
        kw.unevaluatedItems.foreach { uRule =>
          val self = Rule.Check(kw.copy(unevaluatedItems = None))
          val covered: (Column, Column) => Column = (x, i) =>
            inh.item(x, i) || itemCovered(self, x, i, elemDt, v, dt, defs, active)
          uRule match {
            case Rule.Reject =>
              val viol = ArrayLoop.flatMap(v) { (x, i) =>
                when(covered(x, i), emptyViols).otherwise(array(struct(
                  path.childDyn(i).col.as("path"),
                  lit("unevaluatedItems").as("rule"),
                  concat(lit("Unevaluated array item at index "), i.cast(StringType),
                    lit(" is not allowed!")).as("message")))) // yaml_schema.rs:981
              }
              nested += when(arrAppl, viol).otherwise(emptyViols)
              extraPreds += (!arrAppl ||
                coalesce(ArrayLoop.forall(v)(covered), lit(true)))
            case r =>
              val viol = ArrayLoop.flatMap(v) { (x, i) =>
                val c = subChild(r, x, elemDt, path.childDyn(i))
                when(!covered(x, i), c.violations).otherwise(emptyViols)
              }
              nested += when(arrAppl, viol).otherwise(emptyViols)
              extraPreds += (!arrAppl ||
                coalesce(ArrayLoop.forall(v)((x, i) =>
                  covered(x, i) || subChild(r, x, elemDt, path).pred), lit(true)))
          }
        }
      case _ => // array keywords vacuous on non-array types
    }

    // --- composition (SURVEY.md §2.5; branch errors discarded per
    //     context.rs:72-103, only summary messages surface) ---
    if (kw.allOf.nonEmpty) {
      val pred = kw.allOf.map(sub(_, v, dt, path).pred).reduce(_ && _)
      chks += Chk(lit(true), pred, "allOf",
        lit("Not all of the schemas in `allOf` matched!")) // all_of.rs:62
    }
    if (kw.anyOf.nonEmpty) {
      val pred = kw.anyOf.map(sub(_, v, dt, path).pred).reduce(_ || _)
      chks += Chk(lit(true), pred, "anyOf",
        lit("None of the schemas in `anyOf` matched!")) // any_of.rs:60
    }
    if (kw.oneOf.nonEmpty) {
      val cnt = kw.oneOf.map(r => when(sub(r, v, dt, path).pred, 1).otherwise(0))
        .reduce((a, b) => a + b)
      chks += Chk(lit(true), cnt >= lit(1), "oneOf",
        lit("None of the schemas in `oneOf` matched!")) // one_of.rs:66
      chks += Chk(lit(true), cnt <= lit(1), "oneOf",
        lit("Value matched multiple schemas in `oneOf`!")) // one_of.rs:114
    }
    kw.not.foreach { r =>
      chks += Chk(lit(true), !sub(r, v, dt, path).pred, "not",
        lit("Value matches schema in `not`")) // not.rs:67
    }
    // if/then/else (if_then_else.rs:79-112): `if` errors never surface;
    // then/else sub-errors do
    kw.ifRule.foreach { ifR =>
      val ifPred = sub(ifR, v, dt, path).pred
      kw.thenRule.foreach { r =>
        val c = sub(r, v, dt, path)
        nested += when(ifPred, c.violations).otherwise(emptyViols)
        extraPreds += (!ifPred || coalesce(c.pred, lit(false)))
      }
      kw.elseRule.foreach { r =>
        val c = sub(r, v, dt, path)
        nested += when(!ifPred, c.violations).otherwise(emptyViols)
        extraPreds += (ifPred || coalesce(c.pred, lit(false)))
      }
    }

    combine(path, chks.result(), nested.result(), extraPreds.result())
  }
  // scalastyle:on method.length cyclomatic.complexity
}
