package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Multi-table LSH bucket signatures of an `array<float>` vector column:
  * `array<bigint>` with one bucket per hash table — see
  * graft.functions.GraftLsh for the bit-compatibility contract. The
  * planes (`planes(t)(p)`, table t's plane p) ride the expression as a
  * reference object, so the generated source is the same for every
  * plane set and table count. nullable = false: a null vector yields
  * bucket 0 in every table.
  */
case class LshBucketsExpr(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_buckets"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def eval(input: InternalRow): Any =
    graft.functions.GraftLsh.buckets(
      child.eval(input).asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.GraftLsh.buckets(${c.isNull} ? null : ${c.value}, $planesRef);
        """,
      isNull = FalseLiteral)
  }
}
