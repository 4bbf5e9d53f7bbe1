package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 3-gram word-shingle SET of a text column: the sorted, distinct
  * shingles of `split(text, ' ')`, shingle i being tokens i..i+2 joined by
  * single spaces — bit for bit the declarative
  * `array_sort(array_distinct(transform(sequence(1, size(t) - 2),
  * i -> concat_ws(' ', slice(t, i, 3)))))` over `t = split(text, ' ')`,
  * which evaluates its lambda interpreted, one slice array and one
  * concat per shingle. Empty for fewer than 3 tokens; null for null text.
  *
  * One pass over the UTF-8 bytes: a space byte (0x20) never occurs inside
  * a multi-byte UTF-8 sequence, so token boundaries are byte offsets and
  * each shingle is the byte range from its first token's start to its
  * third token's end (the two separating spaces included, empty tokens
  * too — exactly what concat_ws rebuilds). Sorting is Spark's UTF8_BINARY
  * string order (unsigned byte compare); ShingleSpec pins equality with
  * the declarative form. */
case class ShingleSet3(child: Expression) extends UnaryExpression {

  require(!child.resolved || child.dataType.isInstanceOf[StringType],
    "graft_shingle_set expects a string input")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_set"

  override def nullSafeEval(text: Any): Any =
    ShingleExpression.setOf(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.ShingleExpression.setOf($t)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleExpression {

  private val Space: Byte = ' '.toByte

  /** Sorted distinct 3-gram shingles of `text` split on single spaces. */
  def setOf(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var spaces = 0
    var p = 0
    while (p < n) { if (bytes(p) == Space) spaces += 1; p += 1 }
    val tokens = spaces + 1
    if (tokens < 3) return new GenericArrayData(Array.empty[Any])
    // starts(k) = first byte of token k, whose end (exclusive) is the
    // separator at starts(k + 1) - 1; a virtual one closes the last token
    val starts = new Array[Int](tokens + 1)
    var k = 1
    p = 0
    while (p < n) { if (bytes(p) == Space) { starts(k) = p + 1; k += 1 }; p += 1 }
    starts(tokens) = n + 1
    val sh = new Array[AnyRef](tokens - 2)
    var i = 0
    while (i < sh.length) {
      sh(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + 3) - 1 - starts(i))
      i += 1
    }
    java.util.Arrays.sort(sh, ByteOrder)
    var m = 0
    i = 0
    while (i < sh.length) {
      if (m == 0 || sh(i) != sh(m - 1)) { sh(m) = sh(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sh, m).asInstanceOf[Array[Any]])
  }

  private val ByteOrder: java.util.Comparator[AnyRef] =
    (a: AnyRef, b: AnyRef) => a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])

  /** `graft_shingle_set(text)` as a Column. */
  def shingleSet(text: Column): Column = SqlFunctions("graft_shingle_set", text)
}
