package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, InjectedFunctions, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.plans.GraftExtensions

/** Gates for the one SQL-function table: its names, SQL text and plan
  * strings agree; every Column helper works on a session where nothing was
  * registered and equals the by-name `call_function` form on one where the
  * table was; `GraftExtensions` injects exactly the table. */
class SqlFunctionsSpec extends AnyFunSuite with SparkFixture {

  private val bloomBytes = {
    val bf = BloomFilter.create(100)
    bf.putLong(7L)
    BloomExpression.serialize(bf)
  }
  private val cmsBytes = {
    val cms = CountMinSketch.create(0.01, 0.99, 42)
    cms.add("kitten")
    cms.toByteArray
  }

  /** name -> (arguments, the Column helper applied to them). */
  private val helpers: Seq[(String, Seq[Column], Column)] = Seq(
    ("graft_minhash64", Seq(col("toks")), MinHashExpression.minhash64(col("toks"))),
    ("graft_word_ngrams", Seq(col("text"), lit(2)), ShingleExpression.wordNgrams(col("text"), 2)),
    ("graft_shingle_set", Seq(col("text"), lit(3)), ShingleExpression.shingleSet(col("text"), 3)),
    ("graft_simhash64", Seq(col("toks")), SimHashExpression.simhash64(col("toks"))),
    ("graft_simhash60_md5", Seq(col("toks")), SimHashExpression.simhash60md5(col("toks"))),
    ("graft_dot", Seq(col("va"), col("vb")), VectorExpressions.graftDot(col("va"), col("vb"))),
    ("graft_jaro_winkler", Seq(col("s1"), col("s2")), JaroWinkler.jaroWinkler(col("s1"), col("s2"))),
    ("graft_damerau", Seq(col("s1"), col("s2")), DamerauLevenshtein.damerau(col("s1"), col("s2"))),
    ("graft_lcs", Seq(col("toks"), col("toks2")), LcsLength.lcsLength(col("toks"), col("toks2"))),
    ("graft_dtw", Seq(col("sa"), col("sb"), lit(2)),
      DtwDistance.dtwDistance(col("sa"), col("sb"), lit(2))),
    ("graft_nfc", Seq(col("s1")), NfcExpression.nfc(col("s1"))),
    ("graft_cms_estimate", Seq(lit(cmsBytes), col("s1")), CmsExpression.cmsEstimate(cmsBytes, col("s1"))),
    ("graft_bloom_contains", Seq(lit(bloomBytes), col("k")),
      BloomExpression.bloomContains(bloomBytes, col("k"))))

  private def input(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("the cat sat on the mat", Seq("the", "cat", "sat"), Seq("cat", "sat", "mat"),
        "kitten", "sitting", Seq(1f, 2f, 3f), Seq(0.5f, -1f, 2f), Seq(1L, 5L, 2L), Seq(2L, 4L, 1L), 7L),
      ("a b", Seq("a"), Seq.empty[String], "cafe\u0301", "café",
        Seq(0f, 0f, 1f), Seq(1f, 1f, 1f), Seq(3L), Seq(3L, 3L), 8L))
      .toDF("text", "toks", "toks2", "s1", "s2", "va", "vb", "sa", "sb", "k")
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#x")

  test("the table has one row per name, and each name is its expression's prettyName") {
    val names = SqlFunctions.table.map(_._1)
    assert(names.distinct.size === names.size)
    assert(helpers.map(_._1).toSet === names.toSet, "every row needs a helper case below")
    for ((name, args, _) <- helpers) {
      val built = SqlFunctions.table.toMap.apply(name)(args.map(GraftSqlBridge.expression))
      assert(built.prettyName === name)
    }
  }

  test("every Column helper runs on an unregistered session and equals the registered call_function form") {
    val fresh = spark.newSession()
    val registered = spark.newSession()
    SqlFunctions.register(registered)
    for ((name, args, helper) <- helpers) {
      val got = input(fresh).select(helper)
      val byName = input(registered).select(call_function(name, args: _*))
      assert(got.schema.fieldNames.toSeq === byName.schema.fieldNames.toSeq, name)
      assert(plan(got) === plan(byName), name)
      assert(got.collect().toSeq === byName.collect().toSeq, name)
    }
  }

  test("SQL text resolves after register, and GraftExtensions injects exactly the table's names") {
    val s = spark.newSession()
    SqlFunctions.register(s)
    val sig = s.sql("SELECT graft_minhash64(array('a', 'b'))").head().getSeq[Long](0)
    assert(sig === MinHashExpression.reference(Seq("a", "b")).toSeq)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(InjectedFunctions.names(ext) === SqlFunctions.table.map(_._1).toSet)
  }
}
