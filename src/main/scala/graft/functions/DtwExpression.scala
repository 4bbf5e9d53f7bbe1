package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Dynamic-time-warping distance over two `array<bigint>` series with a
  * Sakoe–Chiba band (Sakoe & Chiba 1978) — the elastic similarity measure
  * for time series that drift in phase (two regions with the same weekly
  * revenue shape offset by a few days score close; Euclidean does not).
  * Cost model: |aᵢ − bⱼ| per cell + min(insert, delete, match), band
  * |i − j| ≤ w. INTEGER in, INTEGER out: on integer-cents inputs every
  * cell cost and the returned optimal path cost are exact BIGINTs, so
  * results are engine- and run-deterministic with no float-order caveats.
  *
  * Codegen kernel #10, same shape as [[LcsLength]]: an O(|a|·w) DP with
  * two reused rolling rows in one static Java call — the mutable-state
  * pattern `aggregate` HOFs cannot express without per-cell array
  * allocation. Meant for CENSUS-sized pair sets (q443 feeds it the 5×5
  * priority daily-revenue census), the per-row cost class of levenshtein. */
case class DtwDistance(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  require(!first.resolved || first.dataType.isInstanceOf[ArrayType],
    "graft_dtw expects array<bigint> series")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dtw"

  override def nullSafeEval(a: Any, b: Any, w: Any): Any =
    DtwDistance.dtw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, w) =>
      s"graft.functions.DtwDistance.dtw($a, $b, (int)$w)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DtwDistance {

  private val Inf = Long.MaxValue / 4 // headroom: Inf + cost never overflows

  /** Banded DP, O(m·(2w+1)) time / O(n) space. Returns the exact optimal
    * warp cost, or Inf when the band cannot connect (|m − n| > w). */
  def dtw(aData: ArrayData, bData: ArrayData, w: Int): Long = {
    val m = aData.numElements()
    val n = bData.numElements()
    if (m == 0 || n == 0) return if (m == n) 0L else Inf
    if (math.abs(m - n) > w) return Inf
    val a = aData.toLongArray()
    val b = bData.toLongArray()
    var prev = Array.fill(n + 1)(Inf)
    var cur = Array.fill(n + 1)(Inf)
    prev(0) = 0L
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(cur, Inf)
      val lo = math.max(1, i - w)
      val hi = math.min(n, i + w)
      var j = lo
      while (j <= hi) {
        val best = math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        if (best < Inf) cur(j) = math.abs(a(i - 1) - b(j - 1)) + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }

  def dtwDistance(a: Column, b: Column, w: Column): Column =
    SqlFunctions("graft_dtw", a, b, w)
}
