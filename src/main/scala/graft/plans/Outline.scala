package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Identity wrapper whose child, inside whole-stage codegen, is generated
  * as a method of its own that takes the input variables it reads as
  * parameters — Spark's split of common subexpressions, applied to one
  * subtree. Whole-stage codegen never splits an operator's expressions,
  * and HotSpot does not JIT-compile a method over 8,000 bytes of bytecode,
  * so a rule with a few dozen checks would otherwise run its projection in
  * the bytecode interpreter (a 20-property rule: one 8,479-byte method,
  * twice the wall time of Spark's higher-order functions; see ROADMAP F).
  *
  * The child is generated without the caller's common subexpressions,
  * which are locals of the calling method, so one the caller shares with
  * the child is evaluated again inside the method. Subexpression
  * elimination does not look into the child either, on both eval paths.
  *
  * Outside whole-stage codegen Spark already moves large expressions into
  * methods of their own, so there the child is generated in place. So is a
  * child that would need more parameters than a Java method may have, and
  * every child once the generated class has no [[MethodBudget]] left.
  */
case class Outline(child: Expression) extends UnaryExpression with ConditionalExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // opaque to subexpression elimination, which would hoist the child's
  // common subexpressions back into the caller, evaluated on every row
  override def alwaysEvaluatedInputs: Seq[Expression] = Nil
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): Outline = this
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    lazy val (inputs, pending) = CodeGenerator.getLocalInputVariableValues(ctx, child, Map.empty)
    // sorted: the parameter order is part of the generated source, which
    // must be the same in every task for the compiled class to be reused
    lazy val params = inputs.toSeq.sortBy(_.variableName)
    if (ctx.currentVars == null || !MethodBudget.hasRoom(ctx) ||
        !CodeGenerator.isValidParamLength(
          CodeGenerator.calculateParamLengthFromExprValues(params))) {
      val c = child.genCode(ctx)
      return ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    // inputs not yet evaluated are evaluated here, before the call
    val before = pending.toSeq.filter(_.code.nonEmpty).sortBy(_.value.toString).map { e =>
      val code = e.code
      e.code = EmptyBlock
      code
    }
    // the caller's common subexpressions are its locals: out of scope
    val c = ctx.withSubExprEliminationExprs(Map.empty)(Seq(child.genCode(ctx))).head
    val javaType = CodeGenerator.javaType(dataType)
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "outlinedIsNull",
      forceInline = true)
    val name = ctx.freshName("outlined")
    val fn = ctx.addNewFunction(name,
      s"""
         |private $javaType $name(${params.map(p =>
            s"${CodeGenerator.typeName(p.javaType)} ${p.variableName}").mkString(", ")}) {
         |  ${c.code}
         |  $isNull = ${c.isNull};
         |  return ${c.value};
         |}
       """.stripMargin)
    ev.copy(code = code"""
      |${before.mkString("\n")}
      |$javaType ${ev.value} = $fn(${params.map(_.variableName).mkString(", ")});
      |boolean ${ev.isNull} = $isNull;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Outline =
    copy(child = newChild)
}
