package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A `bigint` constant that generated code reads from the class's
  * `references` array instead of spelling it in the source.
  *
  * A `Literal(123L)` compiles to the text `123L`, so each new value gives
  * new source, a codegen-cache miss and a Janino compile. Two plans that
  * differ only in their `BoundLong` values generate the same source, so the
  * second one reuses the first one's class. It is not `foldable`, so
  * `ConstantFolding` never turns it back into a `Literal`.
  */
case class BoundLong(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value))
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }

  override def toString: String = value.toString
}
