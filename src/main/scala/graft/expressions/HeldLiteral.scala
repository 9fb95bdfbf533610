package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A primitive constant the generated code reads from its reference
  * array instead of inlining it. A primitive [[Literal]] is spliced
  * into the generated source (`42L`), so a plan re-run with a new value
  * — a per-batch stamp — compiles a new class every time; this one's
  * source is the same for every value. Not foldable, or the optimizer
  * would fold it back into a [[Literal]]. */
case class HeldLiteral(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"HeldLiteral holds a non-null primitive, got $value: $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("held", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"$javaType ${ev.value} = $ref.${javaType}Value();", isNull = FalseLiteral)
  }

  override def toString: String = s"held($value)"
}

object HeldLiteral {

  /** `lit(v)` whose value stays out of the generated source. */
  def of(v: Any): Column = {
    val l = Literal(v)
    column(HeldLiteral(l.value, l.dataType))
  }
}
