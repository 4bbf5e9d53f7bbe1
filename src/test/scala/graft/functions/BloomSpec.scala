package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gates for the `graft_bloom_contains` probe Expression (SURVEY.md §2.11):
  * no false negatives ever (the pruning-soundness contract — a Bloom filter
  * may pass a stranger, never drop a member), codegen/interpreted parity,
  * and the q165 composition law (bloom prune + exact semi join ≡ plain semi
  * join). */
class BloomSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  test("bloom probe never false-negatives and prunes most non-members") {
    import spark.implicits._
    val members = spark.range(0, 1000).select(($"id" * 7919L).as("k"))
    val bytes = BloomExpression.buildLongFilter(members, "k", 1000L)
    // every member passes
    val misses = members
      .filter(!BloomExpression.bloomContains(bytes, $"k")).count()
    assert(misses === 0L, "a Bloom filter must never reject a member")
    // non-members (odd offsets never hit k = 7919·i) are mostly pruned:
    // fpp = 1% with generous slack for the fixture's 10k probes
    val strangers = spark.range(0, 10000).select(($"id" * 7919L + 1L).as("k"))
    val passed = strangers
      .filter(BloomExpression.bloomContains(bytes, $"k")).count()
    assert(passed < 500L, s"fpp blowout: $passed of 10000 strangers passed")
  }

  test("interpreted eval matches codegen result") {
    import spark.implicits._
    val members = spark.range(0, 100).select($"id".as("k"))
    val bytes = BloomExpression.buildLongFilter(members, "k", 100L)
    val probes = spark.range(0, 200).select($"id".as("k"))
    val viaCodegen = probes
      .withColumn("hit", BloomExpression.bloomContains(bytes, $"k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // interpreted path: eval the expression directly per key
    val expr = BloomMightContainLong(bytes,
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    (0L until 200L).foreach { k =>
      val interp = BloomMightContainLong(bytes,
        org.apache.spark.sql.catalyst.expressions.Literal(k))
        .eval(null).asInstanceOf[Boolean]
      assert(interp === viaCodegen(k), s"codegen/interpreted split on key $k")
    }
    assert(expr.dataType.typeName === "boolean")
  }

  test("bloom prune + exact semi join equals plain semi join (q165 law)") {
    import spark.implicits._
    val orders = graft.sources.Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val bytes = BloomExpression.buildLongFilter(orders, "o_orderkey",
      orders.count())
    val li = graft.sources.Tables.lineitem(spark, sf)
    val pruned = li.filter(BloomExpression.bloomContains(bytes, $"l_orderkey"))
      .join(orders, $"l_orderkey" === $"o_orderkey", "left_semi")
    val plain = li.join(orders, $"l_orderkey" === $"o_orderkey", "left_semi")
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }
}
