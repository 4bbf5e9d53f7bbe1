package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** UNRESTRICTED Damerau–Levenshtein edit distance (Lowrance & Wagner 1975)
  * — Levenshtein's three edits plus TRANSPOSITION of adjacent characters,
  * the typo metric record-linkage stacks default to (≈80% of human typos
  * are a swap, per Damerau 1964). Unrestricted (not the cheaper
  * optimal-string-alignment variant): a substring may be edited after a
  * transposition, so dl("CA","ABC") = 2, where OSA says 3 — matching
  * DuckDB's `damerau_levenshtein`, which makes the kernel STRICT-ORACLE-
  * verifiable cross-engine (the only kernel in the family with that
  * property; the others pin bit-equality in ScalaTest).
  *
  * Native codegen Expression (#11 in the kernel family) for the same
  * reason as [[LcsLength]]: an O(m·n) DP with a last-occurrence table is
  * inexpressible in HOFs without per-cell array allocation. One generated
  * call, no boxing; the DP matrix is (m+2)×(n+2) ints (full matrix — the
  * transposition case reaches arbitrarily far back, so the rolling-rows
  * trick of LCS does not apply). Comparison is by UTF-16 code unit
  * (exact for ASCII and the whole BMP — the part/supplier/document name
  * domains here are ASCII).
  *
  * Cost class: per-pair O(m·n) like the built-in `levenshtein` — for
  * BLOCKED candidate pairs only (q476 feeds bounded brand×size-band
  * buckets), never a raw cross join. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_damerau"

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.dl(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DamerauLevenshtein.dl($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {

  def dl(a: UTF8String, b: UTF8String): Long = dlStr(a.toString, b.toString)

  /** Per-thread scratch so the hot path allocates NOTHING per pair: the
    * DP matrix grows to the largest pair seen, and the 2¹⁶-entry
    * last-occurrence table is invalidated by generation stamp instead of
    * being cleared (O(alphabet) clears would dominate short strings). */
  private final class Scratch {
    var mat: Array[Int] = new Array[Int](64 * 64)
    val lastRow = new Array[Int](65536)
    val stamp = new Array[Int](65536)
    var gen = 0
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Lowrance–Wagner DP over the full (m+2)×(n+2) matrix with an INF
    * border row/column and a per-character last-occurrence table. */
  def dlStr(a: String, b: String): Long = {
    val m = a.length
    val n = b.length
    if (m == 0) return n.toLong
    if (n == 0) return m.toLong
    val sc = scratch.get()
    if (sc.gen == Int.MaxValue) { // stamp-wrap guard
      java.util.Arrays.fill(sc.stamp, 0)
      sc.gen = 0
    }
    sc.gen += 1
    val g = sc.gen
    val w = n + 2
    val need = (m + 2) * w
    if (sc.mat.length < need) sc.mat = new Array[Int](need)
    val d = sc.mat
    val inf = m + n
    d(0) = inf
    var i = 0
    while (i <= m) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= n) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    i = 1
    while (i <= m) {
      var db = 0 // last column in THIS row where a(i-1) matched b
      val ai = a.charAt(i - 1)
      j = 1
      while (j <= n) {
        val bj = b.charAt(j - 1)
        val k = if (sc.stamp(bj) == g) sc.lastRow(bj) else 0
        val l = db
        var cost = 1
        if (ai == bj) { cost = 0; db = j }
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val tra = d(k * w + l) + (i - 1 - k) + 1 + (j - 1 - l)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (tra < best) best = tra
        d((i + 1) * w + j + 1) = best
        j += 1
      }
      sc.stamp(ai) = g
      sc.lastRow(ai) = i
      i += 1
    }
    d((m + 1) * w + n + 1).toLong
  }

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  def damerau(a: Column, b: Column): Column = SqlFunctions("graft_damerau", a, b)
}
