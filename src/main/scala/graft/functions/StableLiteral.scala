package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/**
 * stable_literal(c): the value of the constant expression `c`, with
 * generated code that does not depend on that value.
 *
 * Catalyst folds a constant into a `Literal`, and whole-stage codegen
 * spells a primitive literal (a timestamp, a double) out in the Java
 * source. Two plans that differ only in such a value then compile to two
 * classes: a fresh Janino compile, class load and JIT warm-up, and one more
 * entry pushing live classes out of Spark's bounded codegen cache. A value
 * that changes on every call, such as a pipeline cycle's audit timestamp,
 * pays that on every call. This expression is not foldable; its code reads
 * the value from the plan's reference array, so plans that differ only in
 * the value share one compiled class. The child must be foldable; it is
 * evaluated once, at code generation.
 */
case class StableLiteral(child: Expression) extends UnaryExpression {

  override def prettyName: String = "stable_literal"
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a constant argument, got ${child.sql}")

  override def eval(input: InternalRow): Any = child.eval(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.eval() match {
      case null => ExprCode.forNullValue(dataType)
      case v =>
        val ref = ctx.addReferenceObj("stableLiteral", v,
          CodeGenerator.boxedType(dataType))
        val javaType = CodeGenerator.javaType(dataType)
        val value =
          if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
          else ref
        ExprCode.forNonNullValue(JavaCode.expression(value, dataType))
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
