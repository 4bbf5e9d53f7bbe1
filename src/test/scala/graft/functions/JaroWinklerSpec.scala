package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gates for the `graft_jaro_winkler` Expression: the canonical Winkler
  * (1990) worked examples, metric laws (identity, symmetry, range), and
  * codegen/interpreted parity. Cross-IMPLEMENTATION equivalence with
  * DuckDB's independent built-in is proven by q301's strict oracle
  * hash-match over every blocked candidate pair. */
class JaroWinklerSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  private val canonical = Seq(
    ("MARTHA", "MARHTA", 0.9611),
    ("DWAYNE", "DUANE", 0.8400),
    ("DIXON", "DICKSONX", 0.8133),
    ("JELLYFISH", "SMELLYFISH", 0.8963))

  test("canonical Winkler worked examples to 4dp") {
    canonical.foreach { case (a, b, expect) =>
      val got = math.rint(JaroWinkler.jw(a, b) * 10000) / 10000
      assert(got === expect, s"jw($a, $b)")
    }
  }

  test("metric laws: identity 1, symmetry, range [0, 1]") {
    val names = Seq("alpha", "alhpa", "beta", "", "a", "alphabet")
    for (a <- names; b <- names) {
      val ab = JaroWinkler.jw(a, b)
      assert(ab >= 0.0 && ab <= 1.0)
      assert(ab === JaroWinkler.jw(b, a), s"symmetry($a, $b)")
      if (a == b && a.nonEmpty) assert(ab === 1.0)
    }
  }

  test("interpreted eval matches codegen result") {
    import spark.implicits._
    val pairs = graft.sources.Tables.customer(spark, sf)
      .select($"c_name").distinct().orderBy($"c_name").limit(40)
    val crossed = pairs.toDF("a").crossJoin(pairs.toDF("b"))
      .withColumn("jw", JaroWinkler.jaroWinkler($"a", $"b"))
      .collect()
    crossed.foreach { r =>
      val interp = JaroWinkler.jw(r.getString(0), r.getString(1))
      assert(r.getDouble(2) === interp,
        s"codegen/interpreted split on (${r.getString(0)}, ${r.getString(1)})")
    }
  }
}
