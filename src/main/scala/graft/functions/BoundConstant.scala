package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A non-null primitive constant passed to generated code as a parameter
  * instead of being spelled into its source.
  *
  * Spark inlines a primitive `Literal` into the generated Java, so two
  * statements that differ only in a constant (a time window, a threshold)
  * generate different source, miss the JVM-wide class cache and pay a
  * Janino compile each. This expression puts the value in the plan's
  * `references` array and unboxes it once into a primitive field, so the
  * source, and therefore the compiled class, is the same for every value.
  *
  * Deterministic and NOT foldable: it is placed after the optimizer (see
  * `graft.engine.BindConstants`), where folding, pruning and pushdown have
  * already seen the literal. `toString` and `sql` print that literal, so
  * EXPLAIN text is unchanged.
  */
case class BoundConstant(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null, "BoundConstant carries a non-null value")

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundConstant", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundConstant",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode(EmptyBlock, FalseLiteral, JavaCode.global(field, dataType))
  }

  private def literal: Literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql
}
