package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that hides its (genuinely deterministic) child from the
  * optimizer's expression-duplicating rules — the Scala twin of the guide's
  * "mark the expensive UDF non-deterministic" pattern (optimization guide
  * §4.4).
  *
  * Why it exists: a filter over a projected column (`isnotnull(bh)`, or the
  * `size(e) > 0` InferFiltersFromGenerate adds under an explode) is pushed
  * below the projection with the column's DEFINITION inlined, so an
  * expensive kernel such as [[MinHashOps.bandHashes]] ends up evaluated 2-3× per row
  * in the same scan stage (once per inlined filter conjunct + once in the
  * projection; codegen does no cross-operator CSE). Marking the wrapper
  * non-deterministic stops predicate pushdown and project collapsing at
  * this node, so the kernel runs exactly once per row and the filters test
  * the materialized column.
  *
  * The child must be truly deterministic (same input → same output): the
  * flag only blocks plan rewrites, it never licenses unstable values under
  * task retry.
  */
case class NoInline(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): NoInline =
    copy(child = newChild)
}
