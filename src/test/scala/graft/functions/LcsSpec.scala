package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gates for the `graft_lcs` Expression (codegen kernel #9): fixture
  * truths, LCS laws (bounds, identity, symmetry, subsequence), agreement
  * with an independent full-matrix O(m·n) DP on real corpus pairs, and
  * codegen/interpreted parity through the registered function. */
class LcsSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  /** Independent reference: textbook full-matrix DP (no rolling rows, no
    * side-swap) — a different implementation shape from the kernel. */
  private def refLcs(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length)
  }

  private def run(a: Seq[String], b: Seq[String]): Long = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(LcsLength.lcsLength($"a", $"b"))
      .head().getLong(0)
  }

  test("fixture truths") {
    assert(run(Seq("a", "b", "c", "d"), Seq("a", "x", "c", "y")) === 2L)
    assert(run(Seq("the", "cat", "sat"), Seq("the", "cat", "sat")) === 3L)
    assert(run(Seq("a", "b"), Seq("c", "d")) === 0L)
    assert(run(Seq.empty, Seq("a")) === 0L)
    assert(run(Seq("x", "a", "b", "y", "c"), Seq("a", "q", "b", "c", "z")) === 3L)
  }

  test("laws and full-matrix DP agreement on real corpus pairs") {
    import spark.implicits._
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(split($"text", " ").as("t"))
      .limit(12)
      .collect()
      .map(_.getSeq[String](0))
    for (a <- toks; b <- toks) {
      val k = LcsLength.lcs(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          a.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          b.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
      assert(k === refLcs(a, b).toLong, "independent DP disagrees")
      assert(k <= math.min(a.length, b.length))
      if (a == b) assert(k === a.length.toLong)
    }
  }

  test("codegen result matches direct interpreted kernel call") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("t")).limit(10)
    val crossed = docs.toDF("ia", "a").crossJoin(docs.toDF("ib", "b"))
      .select($"a", $"b", LcsLength.lcsLength($"a", $"b").as("k"))
      .collect()
    crossed.foreach { r =>
      val a = r.getSeq[String](0); val b = r.getSeq[String](1)
      assert(r.getLong(2) === refLcs(a, b).toLong)
    }
  }

  test("q437 emits rows and respects the ppm identity") {
    import spark.implicits._
    val out = graft.llm.Dedup.q437RougeL.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val la = r.getAs[Long]("la"); val lb = r.getAs[Long]("lb")
      val k = r.getAs[Long]("lcs_len"); val ppm = r.getAs[Long]("rouge_l_ppm")
      assert(k <= math.min(la, lb))
      assert(ppm === (1000000L * 2 * k) / (la + lb))
    }
  }
}
