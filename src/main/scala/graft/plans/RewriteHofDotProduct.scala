package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{DotProductDouble, SqlFunctions}

/** SURVEY.md §2.11/§4 — a Catalyst optimizer rule that rewrites the
  * declarative higher-order-function dot product
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0d, (acc, v) -> acc + v) }}}
  *
  * into the fused codegen'd [[DotProductDouble]] kernel whenever `a`/`b` are
  * `array<float>` columns. Users keep writing the idiomatic Spark HOF
  * formulation; the engine silently drops the per-row 64-element
  * intermediate array (measured 20× on all-pairs cosine, BASELINE.md).
  * The rewrite is semantics-preserving bit-for-bit: both sides widen floats
  * to double before multiplying and fold strictly left-to-right.
  *
  * Activation: `spark.experimental.extraOptimizations` (runtime, used by the
  * specs) or [[GraftExtensions]] via `spark.sql.extensions` (cluster deploy).
  * The Column API needs neither: `graftDot` builds the kernel directly. */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def asDoubleCastOf(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case c: Cast => c.dataType == DoubleType && (c.child match {
      case nv: NamedLambdaVariable => nv.exprId == v.exprId
      case _ => false
    })
    case _ => false
  }

  private def isIdentityLambda(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      body.exprId == arg.exprId
    case _ => false
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(mul: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(zero, DoubleType),
          LambdaFunction(add: Add, Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          finish)
        if zero == 0.0 &&
          isFloatArray(a) && isFloatArray(b) &&
          asDoubleCastOf(mul.left, x) && asDoubleCastOf(mul.right, y) &&
          (add.left, add.right) == ((acc, el)) &&
          isIdentityLambda(finish) =>
      DotProductDouble(a, b)
  }
}

/** Deployment entry point: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * installs the two optimizer rules and every [[SqlFunctions]] name on every
  * session of the cluster. The names serve SQL text only; the Column helpers
  * build their kernels directly and need no extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => RewriteHofDotProduct)
    extensions.injectOptimizerRule(_ => RewriteApproxDistinct)
    SqlFunctions.table.foreach { case (name, build) =>
      extensions.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(SqlFunctions.getClass.getName, name), build))
    }
  }
}
