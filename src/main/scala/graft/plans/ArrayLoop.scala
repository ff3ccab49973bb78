package graft.plans

import org.apache.spark.sql.{ArrayLambdaTypes, Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}

/** What one [[ArrayLoop]] computes from its per-element body. */
sealed abstract class LoopForm(val name: String)
object LoopForm {
  /** true iff no body is false; null if none is false but one is null
    * (Spark's `forall`). Stops at the first false. */
  case object ForAll extends LoopForm("forall")
  /** true iff a body is true; null if none is true but one is null
    * (Spark's `exists`). Stops at the first true. */
  case object Exists extends LoopForm("exists")
  /** How many bodies are true (`size(filter(…))`). */
  case object Count extends LoopForm("count")
  /** The array bodies concatenated; null if one is null
    * (`flatten(transform(…))`). */
  case object FlatMap extends LoopForm("flatmap")
}

/** A loop variable of an [[ArrayLoop]]: `x<d>` (the element), `i<d>` (its
  * index) or `y<d>` (the next element, pair loops only), `d` the loop's
  * nesting depth. Equality is by value, so a plan's expression hashes — and
  * with them subexpression elimination and the generated source — are the
  * same in every task and every run. The owning loop binds the value: in
  * generated code it is a field of the generated class (so split-off
  * methods see it), interpreted it is read from the [[LoopRow]] the loop
  * evaluates its body with.
  */
case class LoopVar(name: String, dataType: DataType, nullable: Boolean) extends LeafExpression {
  override def eval(input: InternalRow): Any = input match {
    case r: LoopRow => r.value(name)
    case _ => throw new IllegalStateException(s"loop variable $name evaluated outside its loop")
  }

  override def genCode(ctx: CodegenContext): ExprCode = LoopScope.lookup(name)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = genCode(ctx)
  override def toString: String = name
  override def sql: String = name
}

/** Codegen-time bindings of loop variable names to their Java fields. The
  * innermost binding of a name wins, as in the interpreted [[LoopRow]].
  * Code generation runs on one thread, so the scope is thread-local.
  */
private object LoopScope {
  private val bound = ThreadLocal.withInitial[java.util.ArrayDeque[(String, ExprCode)]](
    () => new java.util.ArrayDeque[(String, ExprCode)]())

  def within[A](binds: Seq[(String, ExprCode)])(body: => A): A = {
    val s = bound.get
    binds.foreach(s.push)
    try body
    finally binds.foreach(_ => s.pop())
  }

  def lookup(name: String): ExprCode = {
    val it = bound.get.iterator
    while (it.hasNext) {
      val (n, code) = it.next()
      if (n == name) return code
    }
    throw new IllegalStateException(s"loop variable $name generated outside its loop")
  }
}

/** Whether methods of our own ([[ArrayLoop]] bodies, [[Outline]]s) may
  * still be added to `ctx`'s generated class. Past
  * `CodeGenerator.GENERATED_CLASS_SIZE_THRESHOLD` characters of method
  * source Spark moves further methods into nested classes, and some of its
  * own then fail at run time: an aggregate over a range scan reads the
  * iterator's protected `partitionIndex` from one (`IllegalAccessError`).
  * Ours stop at half that, leaving the rest to Spark's; past it, code is
  * generated in place.
  */
private[plans] object MethodBudget {
  def hasRoom(ctx: CodegenContext): Boolean =
    ctx.declareAddedFunctions().length <= CodeGenerator.GENERATED_CLASS_SIZE_THRESHOLD / 2
}

/** The row an interpreted loop body is evaluated with: the outer row for
  * column reads, plus this loop's variable values (outer loops' through
  * the outer row, when it is their [[LoopRow]]).
  */
private final class LoopRow(outer: InternalRow, names: Array[String]) extends InternalRow {
  val values = new Array[Any](names.length)

  def value(name: String): Any = {
    var k = 0
    while (k < names.length) {
      if (names(k) == name) return values(k)
      k += 1
    }
    outer match {
      case r: LoopRow => r.value(name)
      case _ => throw new IllegalStateException(s"loop variable $name is not bound")
    }
  }

  override def numFields: Int = if (outer == null) 0 else outer.numFields
  override def setNullAt(i: Int): Unit = outer.setNullAt(i)
  override def update(i: Int, value: Any): Unit = outer.update(i, value)
  override def copy(): InternalRow = {
    val r = new LoopRow(if (outer == null) null else outer.copy(), names)
    System.arraycopy(values, 0, r.values, 0, values.length)
    r
  }
  override def isNullAt(i: Int): Boolean = outer.isNullAt(i)
  override def getBoolean(i: Int): Boolean = outer.getBoolean(i)
  override def getByte(i: Int): Byte = outer.getByte(i)
  override def getShort(i: Int): Short = outer.getShort(i)
  override def getInt(i: Int): Int = outer.getInt(i)
  override def getLong(i: Int): Long = outer.getLong(i)
  override def getFloat(i: Int): Float = outer.getFloat(i)
  override def getDouble(i: Int): Double = outer.getDouble(i)
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    outer.getDecimal(i, precision, scale)
  override def getUTF8String(i: Int): UTF8String = outer.getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = outer.getBinary(i)
  override def getGeography(i: Int): GeographyVal = outer.getGeography(i)
  override def getGeometry(i: Int): GeometryVal = outer.getGeometry(i)
  override def getInterval(i: Int): CalendarInterval = outer.getInterval(i)
  override def getVariant(i: Int): VariantVal = outer.getVariant(i)
  override def getStruct(i: Int, numFields: Int): InternalRow = outer.getStruct(i, numFields)
  override def getArray(i: Int): ArrayData = outer.getArray(i)
  override def getMap(i: Int): MapData = outer.getMap(i)
  override def get(i: Int, dataType: DataType): AnyRef = outer.get(i, dataType)
}

/** One loop over an array, computing `form` from a per-element `body` over
  * the loop variables [[vars]]: the element `x<depth>` and its index
  * `i<depth>`; with `pairs`, the loop runs over adjacent pairs and also
  * binds the next element `y<depth>` (the offset-order check's zip of a
  * sequence with itself shifted by one). A null array gives null.
  *
  * The loop runs as generated code (Spark's `transform`/`forall`/`filter`
  * are `CodegenFallback`: interpreted per element, boxed, one array
  * allocated per call). A body that reads no column — only loop variables
  * and literals — is generated into a method of its own, with the loop,
  * so the calling method stays small enough for the JIT; a body that reads
  * columns is generated inline, where those columns are in scope. So is
  * every loop once the generated class has no [[MethodBudget]] left. A
  * body holding a `CodegenFallback` makes the whole loop run interpreted.
  *
  * Subexpression elimination never looks into the body (a
  * [[ConditionalExpression]] whose only always-evaluated input is the
  * array): a body runs once per element, or not at all, so nothing over a
  * loop variable is hoisted out of its loop. The loop itself, and every
  * expression around it, stays eligible, as with Spark's HOFs: [[LoopVar]]
  * carries no `LAMBDA_VARIABLE` pattern, which would make Spark skip the
  * whole projection item or aggregate input it sits in (`ruleCooccurrence`
  * uses one rule's fail flag in several counters).
  */
case class ArrayLoop(form: LoopForm, array: Expression, body: Expression, depth: Int,
    pairs: Boolean) extends Expression with ConditionalExpression {
  import LoopForm._

  override def children: Seq[Expression] = Seq(array, body)
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(array)
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): ArrayLoop =
    copy(array = inputs.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil
  override def prettyName: String = s"array_${form.name}"

  private def arrayType: ArrayType = array.dataType.asInstanceOf[ArrayType]

  /** x, i and (pair loops) y. */
  lazy val vars: Seq[LoopVar] =
    Seq(LoopVar(s"x$depth", arrayType.elementType, arrayType.containsNull),
      LoopVar(s"i$depth", IntegerType, nullable = false)) ++
      (if (pairs) Seq(LoopVar(s"y$depth", arrayType.elementType, arrayType.containsNull))
      else Nil)

  override def dataType: DataType = form match {
    case ForAll | Exists => BooleanType
    case Count => IntegerType
    case FlatMap => body.dataType
  }

  override def nullable: Boolean = array.nullable || (form match {
    case ForAll | Exists | FlatMap => body.nullable
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = (array.dataType, form) match {
    case (_: ArrayType, FlatMap) if body.dataType.isInstanceOf[ArrayType] =>
      TypeCheckResult.TypeCheckSuccess
    case (_: ArrayType, _) if body.dataType == BooleanType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array and a ${if (form == FlatMap) "array" else "boolean"} " +
        s"body, got ${array.dataType.simpleString} and ${body.dataType.simpleString}")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ArrayLoop =
    copy(array = newChildren(0), body = newChildren(1))

  // --- interpreted ---

  override def eval(input: InternalRow): Any = {
    val a = array.eval(input)
    if (a == null) return null
    val arr = a.asInstanceOf[ArrayData]
    val et = arrayType.elementType
    val row = new LoopRow(input, vars.map(_.name).toArray)
    val last = if (pairs) arr.numElements() - 1 else arr.numElements()
    def elem(k: Int): Any = if (arr.isNullAt(k)) null else arr.get(k, et)
    def run(k: Int): Any = {
      row.values(0) = elem(k)
      row.values(1) = k
      if (pairs) row.values(2) = elem(k + 1)
      body.eval(row)
    }
    form match {
      case ForAll | Exists =>
        val stopOn = form == Exists
        var stopped = false
        var sawNull = false
        var k = 0
        while (k < last && !stopped) {
          run(k) match {
            case null => sawNull = true
            case b: Boolean => stopped = b == stopOn
          }
          k += 1
        }
        if (sawNull && !stopped) null else stopped == stopOn
      case Count =>
        var n = 0
        var k = 0
        while (k < last) {
          if (run(k) == true) n += 1
          k += 1
        }
        n
      case FlatMap =>
        val bt = body.dataType.asInstanceOf[ArrayType].elementType
        val out = Array.newBuilder[Any]
        var k = 0
        while (k < last) {
          run(k) match {
            case null => return null
            case part: ArrayData =>
              var j = 0
              while (j < part.numElements()) {
                out += (if (part.isNullAt(j)) null else part.get(j, bt))
                j += 1
              }
          }
          k += 1
        }
        new GenericArrayData(out.result())
    }
  }

  // --- generated ---

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (body.exists(_.isInstanceOf[CodegenFallback])) return interpretedCode(ctx, ev)
    val a = array.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val binds = vars.map { v =>
      val value = ctx.addMutableState(CodeGenerator.javaType(v.dataType), s"loop_${v.name}",
        forceInline = true)
      val isNull =
        if (v.nullable) JavaCode.isNullGlobal(ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
          s"loop_${v.name}_isNull", forceInline = true))
        else FalseLiteral
      v.name -> ExprCode(isNull, JavaCode.global(value, v.dataType))
    }
    val readsColumns = body.exists {
      case _: BoundReference | _: Attribute => true
      case _ => false
    }
    val arr = ctx.freshName("loopArr")
    val res = ctx.freshName("loopRes")
    val resNull = ctx.freshName("loopResIsNull")
    val decls =
      s"""boolean $resNull = false;
         |$javaType $res = ${CodeGenerator.defaultValue(dataType)};""".stripMargin
    val run = if (readsColumns || !MethodBudget.hasRoom(ctx)) {
      s"""$decls
         |ArrayData $arr = ${a.value};
         |${loopCode(ctx, binds, arr, res, resNull)}
         |${ev.value} = $res;
         |${ev.isNull} = $resNull;""".stripMargin
    } else {
      // The body reads no column, so the loop becomes a method of its own.
      // Inside it splitting stays on (a row parameter, no input variables)
      // so a large body is split further, and the caller's common
      // subexpressions, which are its locals, are out of scope.
      val row = ctx.freshName("loopRow")
      val nullField = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "loopResIsNull",
        forceInline = true)
      val (outerRow, outerVars) = (ctx.INPUT_ROW, ctx.currentVars)
      ctx.INPUT_ROW = row
      ctx.currentVars = null
      val loop =
        try ctx.withSubExprEliminationExprs(Map.empty)(
          Seq(ExprCode(code"${loopCode(ctx, binds, arr, res, resNull)}", FalseLiteral,
            FalseLiteral))).head.code
        finally {
          ctx.INPUT_ROW = outerRow
          ctx.currentVars = outerVars
        }
      val fnName = ctx.freshName("arrayLoop")
      val fn = ctx.addNewFunction(fnName,
        s"""
           |private $javaType $fnName(ArrayData $arr, InternalRow $row) {
           |  $decls
           |  $loop
           |  $nullField = $resNull;
           |  return $res;
           |}
         """.stripMargin)
      s"""${ev.value} = $fn(${a.value}, ${Option(outerRow).getOrElse("null")});
         |${ev.isNull} = $nullField;""".stripMargin
    }
    ev.copy(code = code"""
      |${a.code}
      |boolean ${ev.isNull} = ${a.isNull};
      |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  $run
      |}
      """.stripMargin)
  }

  private def boxed(dt: DataType, v: String): String =
    if (CodeGenerator.isPrimitiveType(dt)) s"${CodeGenerator.boxedType(dt)}.valueOf($v)" else v

  /** The loop over `arr` into the locals `res`/`resNull`. */
  private def loopCode(ctx: CodegenContext, binds: Seq[(String, ExprCode)], arr: String,
      res: String, resNull: String): String = {
    import LoopForm._
    val b = LoopScope.within(binds)(body.genCode(ctx))
    val et = arrayType.elementType
    val Seq(x, i) = binds.take(2).map(_._2)
    val k = ctx.freshName("k")
    val last = ctx.freshName("last")
    def bind(v: ExprCode, at: String): String = {
      val get = s"${v.value} = ${CodeGenerator.getValue(arr, et, at)};"
      if (v.isNull == FalseLiteral) get
      else s"${v.isNull} = $arr.isNullAt($at);\nif (!${v.isNull}) $get"
    }
    val setVars = Seq(bind(x, k), s"${i.value} = $k;") ++
      binds.drop(2).map { case (_, y) => bind(y, s"$k + 1") }
    val Gad = classOf[GenericArrayData].getName
    val flag = ctx.freshName("flag")
    val sawNull = ctx.freshName("sawNull")
    val out = ctx.freshName("out")
    // (declarations, extra loop condition, per-element step, result)
    val (init, cond, step, finish) = form match {
      case ForAll | Exists =>
        val stopOn = form == Exists
        (s"boolean $flag = false;\nboolean $sawNull = false;", s" && !$flag",
          s"if (${b.isNull}) { $sawNull = true; } " +
            s"else if (${if (stopOn) "" else "!"}${b.value}) { $flag = true; }",
          s"$resNull = $sawNull && !$flag;\n$res = ${if (stopOn) flag else s"!$flag"};")
      case Count =>
        (s"$res = 0;", "", s"if (!${b.isNull} && ${b.value}) { $res++; }", "")
      case FlatMap =>
        val part = ctx.freshName("part")
        val j = ctx.freshName("j")
        val pt = body.dataType.asInstanceOf[ArrayType].elementType
        (s"java.util.ArrayList $out = null;\nboolean $sawNull = false;", s" && !$sawNull",
          s"""if (${b.isNull}) { $sawNull = true; } else {
             |  ArrayData $part = ${b.value};
             |  for (int $j = 0; $j < $part.numElements(); $j++) {
             |    if ($out == null) $out = new java.util.ArrayList();
             |    $out.add($part.isNullAt($j) ? null :
             |      ${boxed(pt, CodeGenerator.getValue(part, pt, j))});
             |  }
             |}""".stripMargin,
          s"""$resNull = $sawNull;
             |if (!$sawNull) {
             |  $res = new $Gad($out == null ? new Object[0] : $out.toArray());
             |}""".stripMargin)
    }
    s"""int $last = ${if (pairs) s"Math.max($arr.numElements() - 1, 0)" else s"$arr.numElements()"};
       |$init
       |for (int $k = 0; $k < $last$cond; $k++) {
       |  ${setVars.mkString("\n")}
       |  ${b.code}
       |  $step
       |}
       |$finish""".stripMargin
  }

  /** A body holding a `CodegenFallback` cannot see the generated loop
    * variables, so the loop is evaluated whole, like Spark's own HOFs (the
    * operator is then outside whole-stage codegen, so the input row is the
    * projection's row).
    */
  private def interpretedCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.references.length
    ctx.references += this
    val obj = ctx.freshName("obj")
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      |Object $obj = ((Expression) references[$idx]).eval(${ctx.INPUT_ROW});
      |boolean ${ev.isNull} = $obj == null;
      |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $obj;
      """.stripMargin)
  }
}

/** The analysis-time form of an [[ArrayLoop]]: a Spark higher-order
  * function, so the analyzer binds its lambda variables to the array's
  * element type (the array column is unresolved when the loop is built).
  * It is never evaluated: [[LoopLowering]] replaces it.
  */
case class ArrayLoopFn(form: LoopForm, argument: Expression, function: Expression,
    pairs: Boolean) extends ArrayLambdaTypes with Unevaluable {

  override def arguments: Seq[Expression] = argument :: Nil
  override def functions: Seq[Expression] = function :: Nil
  override def children: Seq[Expression] = Seq(argument, function)
  override def prettyName: String = s"array_${form.name}"
  override lazy val dataType: DataType = lower(0).dataType

  override def bindInternal(
      f: (Expression, Seq[(DataType, Boolean)]) => LambdaFunction): ArrayLoopFn = {
    val ArrayType(et, containsNull) = argument.dataType
    copy(function = f(function, Seq((et, containsNull), (IntegerType, false)) ++
      (if (pairs) Seq((et, containsNull)) else Nil)))
  }

  /** The [[ArrayLoop]] at nesting depth `depth`: the lambda variables
    * become [[LoopVar]]s, and loops built inside the lambda are lowered one
    * level deeper. */
  def lower(depth: Int): ArrayLoop = {
    val LambdaFunction(body, args, _) = function
    val loop = ArrayLoop(form, argument, body, depth, pairs)
    val bound = args.map(_.exprId).zip(loop.vars).toMap
    loop.copy(body = body.transformDown {
      case LoopLowering(inner: ArrayLoopFn) => inner.lower(depth + 1)
      case v: NamedLambdaVariable if bound.contains(v.exprId) => bound(v.exprId)
    })
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ArrayLoopFn =
    copy(argument = newChildren(0), function = newChildren(1))
}

/** Replaces a resolved [[ArrayLoopFn]] with its [[ArrayLoop]] in the
  * optimizer's first batch, so no higher-order function or
  * `NamedLambdaVariable` reaches a physical plan.
  */
case class LoopLowering(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.asInstanceOf[ArrayLoopFn].lower(0)
  override lazy val canonicalized: Expression =
    if (child.resolved) replacement.canonicalized else withCanonicalizedChildren
  override def prettyName: String = child.prettyName
  override protected def withNewChildInternal(newChild: Expression): LoopLowering =
    copy(child = newChild)
}

/** The [[ArrayLoop]]s as Columns. Each takes the array column and a
  * body over the loop's variable columns. */
object ArrayLoop {
  import LoopForm._

  private def loop(form: LoopForm, arr: Column, pairs: Boolean)(
      body: Seq[Column] => Column): Column = {
    val vars = (Seq("x", "i") ++ (if (pairs) Seq("y") else Nil)).map(n =>
      UnresolvedNamedLambdaVariable(Seq(UnresolvedNamedLambdaVariable.freshVarName(n))))
    val fn = LambdaFunction(GraftShims.expression(body(vars.map(GraftShims.column))), vars)
    GraftShims.column(LoopLowering(ArrayLoopFn(form, GraftShims.expression(arr), fn, pairs)))
  }

  /** Does `f(x, i)` hold for every element? (Spark's `forall`.) */
  def forall(arr: Column)(f: (Column, Column) => Column): Column =
    loop(ForAll, arr, pairs = false)(v => f(v(0), v(1)))

  /** Does `f(x, i)` hold for some element? (Spark's `exists`.) */
  def exists(arr: Column)(f: (Column, Column) => Column): Column =
    loop(Exists, arr, pairs = false)(v => f(v(0), v(1)))

  /** How many elements `f(x, i)` holds for. */
  def count(arr: Column)(f: (Column, Column) => Column): Column =
    loop(Count, arr, pairs = false)(v => f(v(0), v(1)))

  /** The arrays `f(x, i)` concatenated; null if one is null. */
  def flatMap(arr: Column)(f: (Column, Column) => Column): Column =
    loop(FlatMap, arr, pairs = false)(v => f(v(0), v(1)))

  /** The arrays `f(a, b)` of every adjacent pair, concatenated. */
  def flatMapPairs(arr: Column)(f: (Column, Column) => Column): Column =
    loop(FlatMap, arr, pairs = true)(v => f(v(0), v(2)))
}
