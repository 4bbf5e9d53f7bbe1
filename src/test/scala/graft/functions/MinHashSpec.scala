package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gates for the codegen'd MinHash64 kernel and its banded join (q372):
  * bit-equality against an independent Scala reference, the min-wise
  * stability laws, and recall vs the exact-Jaccard pair set. */
class MinHashSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  test("MinHash64 bit-equality: codegen output equals the Scala reference per doc") {
    import spark.implicits._
    val rows = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("sig", MinHashExpression.minhash64($"t"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val toks = r.getSeq[String](1)
      val got = r.getSeq[Long](2).toArray
      val want = MinHashExpression.reference(toks)
      assert(got.toSeq === want.toSeq, s"doc ${r.getLong(0)} signature mismatch")
    }
  }

  test("MinHash64 laws: permutation-invariant, duplicate-insensitive, null for empty") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "a", "b")),          // permutation of 1
      (3L, Seq("a", "a", "b", "c", "c")), // duplicates of 1's set
      (4L, Seq.empty[String])
    ).toDF("id", "t").withColumn("sig", MinHashExpression.minhash64($"t"))
    val sigs = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) null else r.getSeq[Long](2))).toMap
    assert(sigs(1L) === sigs(2L), "MinHash must be order-invariant (set semantics)")
    assert(sigs(1L) === sigs(3L), "MinHash must be multiplicity-insensitive")
    assert(sigs(4L) === null, "empty token array must yield null")
  }

  test("q372 banded join recovers every exact-jaccard >= 0.8 pair (recall = 1 at smoke sf)") {
    val exact = graft.llm.Dedup.q45NeardupJaccard.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = graft.llm.Dedup.q372MinhashBanded.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.nonEmpty)
    // q45 and q372 both verify >= 0.8 on 3-gram SHINGLE sets (q372's
    // signatures hash the same space), so every exact-path pair must
    // surface through some band
    val missed = exact -- banded
    assert(missed.isEmpty, s"banding missed exact pairs: $missed")
  }

  test("q372 emits no pair below the exact shingle-jaccard threshold (verify kills FPs)") {
    import spark.implicits._
    val tk = graft.llm.Dedup.cappedShingleSets(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val banded = graft.llm.Dedup.q372MinhashBanded.fn(spark, sf).collect()
    for (r <- banded) {
      val a = tk(r.getLong(0)); val b = tk(r.getLong(1))
      val jac = a.intersect(b).size.toDouble / a.union(b).size
      assert(jac >= 0.8, s"pair (${r.getLong(0)}, ${r.getLong(1)}) jaccard $jac < 0.8")
      assert(math.abs(jac - r.getDouble(2)) < 1e-3)
    }
  }
}
