package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gates for the `graft_cms_estimate` probe Expression (SURVEY.md §2.11):
  * the one-sided error contract (a Count-Min estimate is NEVER below the
  * true count — the soundness that makes q286's threshold pre-filter
  * lossless), codegen/interpreted parity, and the q286 composition law
  * (sketch pre-filter + exact re-count ≡ plain GROUP BY + HAVING). */
class CmsSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  private def tokens = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok"))
  }

  private def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    import spark.implicits._
    df.agg(count_min_sketch($"tok", lit(1e-4), lit(0.99), lit(42)).as("sk"))
      .head.getAs[Array[Byte]](0)
  }

  test("cms estimate never under-counts any token (one-sided error)") {
    import spark.implicits._
    val toks = tokens
    val bytes = sketchOf(toks)
    val under = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
      .withColumn("est", CmsExpression.cmsEstimate(bytes, $"tok"))
      .filter($"est" < $"exact")
      .count()
    assert(under === 0L, "Count-Min must never under-estimate a frequency")
  }

  test("interpreted eval matches codegen result") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val toks = tokens
    val bytes = sketchOf(toks)
    val probes = toks.distinct().limit(50)
      .withColumn("est", CmsExpression.cmsEstimate(bytes, $"tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    probes.foreach { case (tok, viaCodegen) =>
      val interp = CmsEstimateString(bytes,
        Literal(UTF8String.fromString(tok),
          org.apache.spark.sql.types.StringType))
        .eval(null).asInstanceOf[Long]
      assert(interp === viaCodegen, s"codegen/interpreted split on '$tok'")
    }
  }

  test("sketch pre-filter + exact re-count equals plain census (q286 law)") {
    import spark.implicits._
    val toks = tokens
    val bytes = sketchOf(toks)
    val thr = math.floor(toks.count() / 1000.0).toLong
    val twoPass = toks
      .filter(CmsExpression.cmsEstimate(bytes, $"tok") >= thr)
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .filter($"n" >= thr)
    val naive = toks
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .filter($"n" >= thr)
    assert(twoPass.count() === naive.count())
    assert(twoPass.exceptAll(naive).isEmpty && naive.exceptAll(twoPass).isEmpty)
    assert(naive.count() > 0, "fixture threshold produced an empty hot set")
  }
}
