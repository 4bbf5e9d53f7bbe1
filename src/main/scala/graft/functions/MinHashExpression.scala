package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd 16-permutation MinHash over an `array<string>` token
  * column (SURVEY.md §2.10/§2.11 — the set-similarity fingerprint kernel,
  * the sixth graft codegen Expression after dot/simhash/JW/bloom/CMS).
  *
  * Semantics: each token is hashed ONCE with xxHash64 (seed 42 — the same
  * base hash as [[SimHash64]] and Spark's `xxhash64()`), then each of the
  * 16 "permutations" re-mixes that 8-byte value with `XXH64.hashLong(h,
  * seed = 1000 + i)` and keeps the per-permutation SIGNED minimum. By the
  * min-wise property, P[sig_a(i) = sig_b(i)] = Jaccard(A, B) per
  * permutation — 16 independent estimators, banded 4×4 by
  * [[graft.llm.Dedup.q372MinhashBanded]]. Null tokens are skipped; an
  * empty/all-null array yields null (callers filter size ≥ 1).
  *
  * Why an Expression, not MLlib's MinHashLSH (q46): the MLlib path
  * requires a HashingTF detour into sparse vectors, a fitted model, and an
  * explode-heavy `approxSimilarityJoin`; this kernel is one fused loop in
  * generated Java — one base hash per token, one 16-long buffer reused
  * across rows — and the banding stays a plain relational join the planner
  * can see through (the exact q105 play, for Jaccard instead of Hamming).
  * MinHashSpec pins bit-equality against an independent Scala reference. */
case class MinHash64(child: Expression) extends UnaryExpression {

  require(!child.resolved || child.dataType.isInstanceOf[ArrayType],
    "graft_minhash64 expects an array<string> input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash64"

  /** The expression itself can yield null (empty/all-null token array) even
    * when the child cannot: without this override `nullable` would follow
    * the child, and under a non-nullable child the generated `isNull = true`
    * assignment targets an undeclared variable — Janino rejects the whole
    * projection ("isNull_N is not an rvalue") and every query using the
    * kernel silently falls back to interpreted mode. */
  override def nullable: Boolean = true

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(MinHashExpression.K)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        any = true
        val h = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        var i = 0
        while (i < MinHashExpression.K) {
          val m = XXH64.hashLong(h, 1000L + i)
          if (m < mins(i)) mins(i) = m
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = MinHashExpression.K
    val mins = ctx.addMutableState("long[]", "minhashMins", v => s"$v = new long[$k];")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      val any = ctx.freshName("any")
      s"""
         |final int $n = $a.numElements();
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    $any = true;
         |    final long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($a.getUTF8String($j), 42L);
         |    for (int $i = 0; $i < $k; $i++) {
         |      final long $m = org.apache.spark.sql.catalyst.expressions.XXH64
         |        .hashLong($h, 1000L + $i);
         |      if ($m < $mins[$i]) $mins[$i] = $m;
         |    }
         |  }
         |}
         |if (!$any) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    java.util.Arrays.copyOf($mins, $k));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpression {

  /** Number of permutations (16 = 4 bands × 4 rows in q372's banding). */
  val K = 16

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  /** `graft_minhash64(tokens)` as a Column. */
  def minhash64(tokens: Column): Column = SqlFunctions("graft_minhash64", tokens)

  /** Independent Scala reference (the MinHashSpec bit-equality twin). */
  def reference(tokens: Seq[String]): Array[Long] = {
    val mins = Array.fill(K)(Long.MaxValue)
    for (t <- tokens) {
      val h = XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
      var i = 0
      while (i < K) {
        val m = XXH64.hashLong(h, 1000L + i)
        if (m < mins(i)) mins(i) = m
        i += 1
      }
    }
    mins
  }
}
