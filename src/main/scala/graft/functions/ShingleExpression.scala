package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-grams of a text column: gram i is tokens i..i+n-1 of
  * `split(text, ' ')` joined by single spaces — bit for bit the declarative
  * `transform(sequence(1, size(t) - n + 1), i -> concat_ws(' ', slice(t, i, n)))`
  * over `t = split(text, ' ')`, which evaluates its lambda interpreted, one
  * slice array and one concat per gram. Two outputs of one core:
  * `graft_word_ngrams` keeps the grams in position order, duplicates
  * included; `graft_shingle_set` (`distinct`) sorts them by Spark's
  * UTF8_BINARY order (unsigned byte compare) and drops repeats — the
  * `array_sort(array_distinct(...))` form. Empty for fewer than n tokens
  * (where `sequence` would count down); null for null text.
  *
  * One pass over the UTF-8 bytes: a space byte (0x20) never occurs inside
  * a multi-byte UTF-8 sequence, so token boundaries are byte offsets and
  * each gram is the byte range from its first token's start to its n-th
  * token's end (the separating spaces included, empty tokens too — exactly
  * what concat_ws rebuilds). ShingleSpec pins equality with the
  * declarative forms. */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean) extends UnaryExpression {

  require(!child.resolved || child.dataType.isInstanceOf[StringType],
    s"$prettyName expects a string input")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (distinct) "graft_shingle_set" else "graft_word_ngrams"
  override protected def stringArgs: Iterator[Any] = Iterator(child, n)
  override def sql: String = s"$prettyName(${child.sql}, $n)"

  override def nullSafeEval(text: Any): Any =
    ShingleExpression.ngrams(text.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.ShingleExpression.ngrams($t, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleExpression {

  private val Space: Byte = ' '.toByte

  /** Word n-grams of `text` split on single spaces: position order, or
    * sorted and distinct when `distinct`. */
  def ngrams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var spaces = 0
    var p = 0
    while (p < len) { if (bytes(p) == Space) spaces += 1; p += 1 }
    val tokens = spaces + 1
    if (tokens < n) return new GenericArrayData(Array.empty[Any])
    // starts(k) = first byte of token k, whose end (exclusive) is the
    // separator at starts(k + 1) - 1; a virtual one closes the last token
    val starts = new Array[Int](tokens + 1)
    var k = 1
    p = 0
    while (p < len) { if (bytes(p) == Space) { starts(k) = p + 1; k += 1 }; p += 1 }
    starts(tokens) = len + 1
    val grams = new Array[AnyRef](tokens - n + 1)
    var i = 0
    while (i < grams.length) {
      grams(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - 1 - starts(i))
      i += 1
    }
    if (!distinct) return new GenericArrayData(grams.asInstanceOf[Array[Any]])
    java.util.Arrays.sort(grams, ByteOrder)
    var m = 0
    i = 0
    while (i < grams.length) {
      if (m == 0 || grams(i) != grams(m - 1)) { grams(m) = grams(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, m).asInstanceOf[Array[Any]])
  }

  private val ByteOrder: java.util.Comparator[AnyRef] =
    (a: AnyRef, b: AnyRef) => a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])

  /** `graft_word_ngrams(text, n)` as a Column. */
  def wordNgrams(text: Column, n: Int): Column = SqlFunctions("graft_word_ngrams", text, lit(n))

  /** `graft_shingle_set(text, n)` as a Column. */
  def shingleSet(text: Column, n: Int): Column = SqlFunctions("graft_shingle_set", text, lit(n))
}
