package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe over a LONG key column
  * (SURVEY.md §2.11) — the explicit form of runtime semi-join pruning:
  * build a KB-sized sketch from the small side's join keys, broadcast it
  * inside the plan as a binary literal, and drop non-matching fact rows
  * MAP-SIDE, before they reach the shuffle. Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` injects the same
  * `BloomFilterMightContain` shape when statistics allow; the catalyst
  * expressions it uses are internal-only (`might_contain` is not in the
  * public registry), so the engine carries its own deterministic version —
  * the operator works regardless of stats, thresholds, or AQE decisions.
  *
  * The serialized filter travels in the expression (task-binary broadcast);
  * each executor deserializes it once (transient lazy), and the generated
  * code is a single `mightContainLong` call — fully inside whole-stage
  * codegen, no UDF, no per-row allocation. */
case class BloomMightContainLong(bytes: Array[Byte], child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpression {

  /** Serialize a sketch for embedding as a binary literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Build a Bloom filter over `keyCol` of `df` (one pass over the small
    * side — a driver-built sketch, same lifecycle as an ML fit: the DATA
    * never collects, only the KB-sized bitset returns). */
  def buildLongFilter(df: DataFrame, keyCol: String, expected: Long,
      fpp: Double = 0.01): Array[Byte] =
    serialize(df.stat.bloomFilter(keyCol, math.max(expected, 1L), fpp))

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  /** `graft_bloom_contains(bytes, key)` as a Column. */
  def bloomContains(bytes: Array[Byte], key: Column): Column =
    SqlFunctions("graft_bloom_contains", lit(bytes), key)
}
