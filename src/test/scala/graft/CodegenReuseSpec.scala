package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Repeats of catalog entries must hit Spark's codegen cache. The compile
  * counter (`CodegenMetrics.METRIC_COMPILATION_TIME`) counts cache misses
  * only, so a repeat whose generated source is already cached compiles 0
  * classes — unless it runs under another class loader, which per-session
  * artifact isolation gives every fresh session and every streaming
  * clone (see `GraftQuery.onEngineSession`). */
class CodegenReuseSpec extends AnyFunSuite with SparkFixture {

  private val isolationKey = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** Codegen compiles while every query in `queries` runs to a full
    * collect on `s`. */
  private def compilesOf(s: SparkSession, queries: Seq[String]): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach(q => SparkEntry.queries(q)(s, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second fresh session compiles nothing the first fresh session compiled") {
    val queries = Seq("q371_minhash_signatures", "q01_pricing_summary")
    val first = spark.newSession()
    compilesOf(first, queries)
    graft.engine.Memos.release(first)
    val second = spark.newSession() // new memo key: the memo build repeats too
    val n = compilesOf(second, queries)
    graft.engine.Memos.release(second)
    assert(n == 0, s"a fresh-session repeat of ${queries.mkString(" + ")} compiled $n classes")
  }

  test("a repeat of streaming q61 on one session compiles nothing") {
    val s = spark.newSession()
    compilesOf(s, Seq("q61_stream_tumbling"))
    val n = compilesOf(s, Seq("q61_stream_tumbling"))
    assert(n == 0, s"the second q61 run compiled $n classes")
  }

  test("entries turn artifact isolation off only where the caller left it unset") {
    val unset = spark.newSession()
    val explicit = spark.newSession()
    explicit.conf.set(isolationKey, true)
    for (s <- Seq(unset, explicit)) SparkEntry.queries("q01_pricing_summary")(s, sf).collect()
    assert(unset.conf.get(isolationKey) == "false")
    assert(explicit.conf.get(isolationKey) == "true")
  }
}
