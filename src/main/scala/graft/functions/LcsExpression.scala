package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Longest-common-subsequence LENGTH over two `array<string>` token columns
  * — the kernel under ROUGE-L (Lin 2004), the summarization/near-dup
  * overlap metric that, unlike shingle Jaccard, rewards IN-ORDER overlap
  * while tolerating gaps (a doc with sentences deleted still scores high;
  * a bag-of-words shuffle does not).
  *
  * Native codegen Expression (#9 in the kernel family) rather than any HOF
  * composition: LCS is an O(m·n) dynamic program with a mutable rolling
  * row — inexpressible in `aggregate`/`transform` without building an
  * array per DP cell (the exact allocation storm the SimHash64 scaladoc
  * documents). Here it is one fused loop in generated Java over a single
  * reused int buffer; the equality test runs directly on UTF8String bytes
  * (no JVM String materialization).
  *
  * Cost class: per-row O(|a|·|b|) like the built-in `levenshtein` — meant
  * for BLOCKED candidate pairs (q437 feeds it the q45 capped-inverted-index
  * candidates), never a raw cross join. Null array elements never match
  * (whitespace `split` produces none). */
case class LcsLength(left: Expression, right: Expression)
    extends BinaryExpression {

  require(!left.resolved || left.dataType.isInstanceOf[ArrayType],
    "graft_lcs expects array<string> inputs")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lcs"

  override def nullSafeEval(a: Any, b: Any): Any =
    LcsLength.lcs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LcsLength.lcs($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcsLength {

  /** Two-row DP, O(m·n) time / O(n) space; UTF8String byte equality. */
  def lcs(aData: ArrayData, bData: ArrayData): Long = {
    val m = aData.numElements()
    val n = bData.numElements()
    if (m == 0 || n == 0) return 0L
    // materialize the shorter side once; stream the longer
    val (outer, inner, oLen, iLen) =
      if (m >= n) (aData, bData, m, n) else (bData, aData, n, m)
    val innerToks = new Array[UTF8String](iLen)
    var j = 0
    while (j < iLen) {
      innerToks(j) = if (inner.isNullAt(j)) null else inner.getUTF8String(j)
      j += 1
    }
    val prev = new Array[Int](iLen + 1)
    val cur = new Array[Int](iLen + 1)
    var i = 0
    while (i < oLen) {
      val oTok = if (outer.isNullAt(i)) null else outer.getUTF8String(i)
      j = 0
      while (j < iLen) {
        val iTok = innerToks(j)
        cur(j + 1) =
          if (oTok != null && iTok != null && oTok.equals(iTok)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, iLen + 1)
      i += 1
    }
    prev(iLen).toLong
  }

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  def lcsLength(a: Column, b: Column): Column = SqlFunctions("graft_lcs", a, b)
}
