package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Codegen'd Count-Min-Sketch frequency probe over a STRING column
  * (SURVEY.md §2.11) — the frequency analog of
  * [[BloomMightContainLong]]: build a KB-sized CMS with Spark's
  * `count_min_sketch` aggregate, embed the serialized grid in the plan as
  * a binary literal, and read back per-row OVER-estimates of each value's
  * frequency MAP-SIDE, inside whole-stage codegen. Because CMS never
  * under-counts, `graft_cms_estimate(sk, tok) >= T` is a lossless
  * pre-filter for "frequency ≥ T" predicates: every truly-hot value
  * passes, and the cheap exact re-count on the survivors removes the
  * (≤ eps·N biased) false positives — the sketch-then-verify pattern q286
  * operationalizes.
  *
  * Probing hashes the value's UTF-8 bytes — the exact byte path
  * `CountMinSketchAgg` uses when adding a string column, so estimates are
  * consistent with the aggregate that built the sketch. Each executor
  * deserializes the grid once (transient lazy reference object); the
  * generated code is a single `estimateCount` call — no UDF, no boxing. */
case class CmsEstimateString(bytes: Array[Byte], child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  @transient private lazy val cms: CountMinSketch =
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))

  override def nullSafeEval(v: Any): Any =
    cms.estimateCount(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCms", cms,
      classOf[CountMinSketch].getName)
    defineCodeGen(ctx, ev, c => s"$ref.estimateCount($c.getBytes())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CmsExpression {

  /** `graft_cms_estimate(bytes, value)` as a Column. */
  def cmsEstimate(bytes: Array[Byte], value: Column): Column =
    SqlFunctions("graft_cms_estimate", lit(bytes), value)
}
