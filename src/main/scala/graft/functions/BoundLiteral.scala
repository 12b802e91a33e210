package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value
  * from a referenced object instead of inlining it as a Java constant.
  *
  * Why: Spark's `Literal` writes an integral, floating, date or
  * timestamp value into the generated source, so two plans that differ
  * only in that value compile two classes, and a point read with a new
  * key misses the codegen cache. Here the value rides in the generated
  * class's `references` array (the [[KeySetProbe]] pattern), so every
  * key shares one compiled class.
  *
  * It renders exactly as the literal it replaces (`toString`, `sql`),
  * so plan strings do not change. [[graft.BindFilterLiterals]] puts it
  * into physical filters only, after the scan has captured its pushed
  * filters from the real `Literal`. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && BoundLiteral.inlined(dataType), s"not an inlined literal: $value: $dataType")

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value

  private def literal: Literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object BoundLiteral {
  /** The types whose `Literal` code generation inlines the value. */
  def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
