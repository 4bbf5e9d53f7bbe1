package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over `array<float>` columns — the similarity
  * kernel (SURVEY.md §2.11 / §7 stretch goal).
  *
  * Why an Expression and not the higher-order-function formulation:
  * `aggregate(zip_with(a, b, *), 0d, +)` materializes a 64-element
  * intermediate array PER PAIR — at an all-pairs similarity join that is
  * millions of allocations (measured: q50 at sf0.1 spent 15 s of an 85 s
  * bench in that kernel). This expression generates a single fused loop in
  * whole-stage codegen: no allocation, no virtual calls, same pipeline.
  *
  * Arithmetic contract: floats are widened to double BEFORE multiplying and
  * the accumulation is strictly left-to-right — bit-identical to both the
  * HOF formulation it replaces and the DuckDB oracle's
  * `list_sum(list_transform(...))`, so oracle'd results are unchanged. */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  // expected input: two array<float> columns (ArrayType(FloatType, _));
  // AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4, so the
  // contract is asserted here instead of via inputTypes.
  require(Seq(left, right).forall(e => !e.resolved ||
    e.dataType.isInstanceOf[ArrayType]), "graft_dot expects array inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  /** `graft_dot(a, b)` as a Column. */
  def graftDot(a: Column, b: Column): Column = SqlFunctions("graft_dot", a, b)
}
