package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd 64-bit SimHash over an `array<string>` token column
  * (SURVEY.md §2.10/§2.11 — the dedup fingerprint kernel).
  *
  * Semantics (identical to the declarative HOF formulation it replaces, see
  * `Dedup.simhashesHof`): each token is hashed once with xxHash64 (seed 42 —
  * the same hash and seed as Spark's `xxhash64()` SQL function applied to a
  * single string, so signatures are stable across both formulations); each of
  * the 64 hash bits votes +1/-1 on its position; the signature sets bit i iff
  * the vote sum at position i is strictly positive. Null tokens are skipped
  * (whitespace `split` never produces them).
  *
  * Why an Expression and not the HOF formulation: the nested
  * `aggregate(… zip_with(… transform(sequence(0,63), …)))` evaluates
  * interpreted (nested higher-order functions are outside whole-stage
  * codegen), allocates two 64-element arrays per token, and — the real
  * killer — recomputes `xxhash64(tok)` once per BIT, i.e. 64× per token.
  * Measured at sf0.1: ~270 s for the signature projection alone, which made
  * the q105 banded self-join (two derivations of the projection, single
  * input partition) cost ~550 s. This kernel is one fused loop in generated
  * Java: one hash per token, a single reused 64-int vote array, no
  * allocation beyond it — microseconds per document. Same play as
  * [[DotProductDouble]] (15.2 s → 0.75 s on the cosine kernel). */
case class SimHash64(child: Expression) extends UnaryExpression {

  require(!child.resolved || child.dataType.isInstanceOf[ArrayType],
    "graft_simhash64 expects an array<string> input")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        var i = 0
        while (i < 64) {
          votes(i) += (((h >>> i) & 1L).toInt << 1) - 1
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one vote buffer per operator instance, reused across rows
    val votes = ctx.addMutableState("int[]", "simhashVotes", v => s"$v = new int[64];")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |final int $n = $a.numElements();
         |java.util.Arrays.fill($votes, 0);
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    final long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($a.getUTF8String($j), 42L);
         |    for (int $i = 0; $i < 64; $i++) {
         |      $votes[$i] += ((((int) ($h >>> $i)) & 1) << 1) - 1;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < 64; $k++) {
         |  if ($votes[$k] > 0) $sig |= 1L << $k;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PORTABLE 60-bit SimHash over an `array<string>` token column — the
  * [[SimHash64]] kernel with the token hash swapped from xxHash64 to the
  * first 60 bits of MD5, i.e. exactly `conv(substr(md5(tok), 1, 15), 16,
  * 10)`: a value BOTH engines compute identically (DuckDB:
  * `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)` — the q468 portable-
  * hash pattern), which is what lets the ENTIRE banded simhash near-dup
  * path (q105/q108) be strict-verified by the driver's DuckDB oracle
  * end to end, not just kernel-gated in ScalaTest.
  *
  * Trade: MD5 per token costs ~3× xxHash64 — still one hash per token
  * fused in generated Java (vs 60 rehashes/token in the interpreted HOF
  * form). [[SimHash64]] remains the production-rate variant (q47); this
  * one buys cross-engine verifiability for the same signature algebra.
  * 60 bits (not 64) because a BIGINT parse of 16 hex chars would overflow
  * signed 64-bit in both engines; the 4×16-bit banding still applies with
  * band 3 carrying 12 effective bits — the hamming≤3 pigeonhole over 4
  * bands is unchanged. */
case class SimHash60Md5(child: Expression) extends UnaryExpression {

  require(!child.resolved || child.dataType.isInstanceOf[ArrayType],
    "graft_simhash60_md5 expects an array<string> input")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60_md5"

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = SimHashExpression.md5Head60(arr.getUTF8String(j).getBytes)
        var i = 0
        while (i < 60) {
          votes(i) += (((h >>> i) & 1L).toInt << 1) - 1
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val votes = ctx.addMutableState("int[]", "simhash60Votes", v => s"$v = new int[60];")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |final int $n = $a.numElements();
         |java.util.Arrays.fill($votes, 0);
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    final long $h = graft.functions.SimHashExpression
         |      .md5Head60($a.getUTF8String($j).getBytes());
         |    for (int $i = 0; $i < 60; $i++) {
         |      $votes[$i] += ((((int) ($h >>> $i)) & 1) << 1) - 1;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < 60; $k++) {
         |  if ($votes[$k] > 0) $sig |= 1L << $k;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpression {

  /** First 60 bits of MD5(bytes) as an unsigned long — identical to
    * `conv(substr(md5(x), 1, 15), 16, 10)` (Spark) and
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` (DuckDB): the first
    * 15 hex chars are bytes 0–6 plus the high nibble of byte 7, i.e. the
    * big-endian head shifted right by one nibble. Called from generated
    * code, so it must stay public. */
  def md5Head60(bytes: Array[Byte]): Long = {
    val d = org.apache.commons.codec.digest.DigestUtils.md5(bytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  /** `graft_simhash64(tokens)` as a Column. */
  def simhash64(tokens: Column): Column = SqlFunctions("graft_simhash64", tokens)

  /** `graft_simhash60_md5(tokens)` as a Column. */
  def simhash60md5(tokens: Column): Column = SqlFunctions("graft_simhash60_md5", tokens)
}
