package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._
import graft.sources.Tables

/** Per-kernel cost of the codegen'd functions, timed through their public
  * Column wrappers over the sf0.1 `documents`, `embeddings`, `part` and
  * `orders`/`lineitem` inputs. Each input is cached first; a kernel's cost
  * is the time of an action over the kernel's output minus the same action
  * over a trivial expression of the same inputs, divided by rows (or pairs). */
object Kernels {

  private val Reps = 3

  def nsPerRow(spark: SparkSession, dir: String): Map[String, Double] = {
    Seq[SparkSession => Unit](MinHashExpression.register, SimHashExpression.register,
      DamerauLevenshtein.register, VectorExpressions.register, JaroWinkler.register,
      LcsLength.register, BloomExpression.register).foreach(_(spark))
    import spark.implicits._

    def cached(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      c.count()
      c
    }
    // 8 copies of the 5 000 documents as token arrays; consecutive docs pair up
    val docs = Tables.documents(spark, dir).select($"doc_id", split($"text", " ").as("toks"))
    val tokens = cached(docs.crossJoin(spark.range(8).toDF("copy")).select($"toks"))
    val tokenPairs = cached(docs.as("a")
      .join(docs.as("b"), $"b.doc_id" === ($"a.doc_id" + 1) % 5000)
      .select($"a.toks".as("x"), $"b.toks".as("y")))
    val parts = Tables.part(spark, dir).select($"p_partkey", $"p_name", $"p_type")
    val namePairs = cached(parts.as("a")
      .join(parts.as("b"), $"b.p_partkey" === ($"a.p_partkey" * 7919 + 1) % 20000)
      .select(concat_ws(" ", $"a.p_name", $"a.p_type").as("x"),
        concat_ws(" ", $"b.p_name", $"b.p_type").as("y")))
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val vecPairs = cached(emb.as("a").crossJoin(spark.range(40).toDF("k").as("k"))
      .join(emb.as("b"), $"b.vec_id" === ($"a.vec_id" + $"k.k" + 1) % 2000)
      .select($"a.embedding".as("x"), $"b.embedding".as("y")))
    val bloom = BloomExpression.buildLongFilter(Tables.orders(spark, dir)
      .filter($"o_orderkey" % 2 === 0), "o_orderkey", 75000L)
    val keys = cached(Tables.lineitem(spark, dir).select($"l_orderkey".as("x")))

    def time(df: DataFrame, out: Column): Double = {
      val t0 = System.nanoTime()
      df.select(max(xxhash64(out))).head()
      (System.nanoTime() - t0).toDouble
    }
    def per(df: DataFrame, kernel: Column, base: Column): Double = {
      val rows = df.count()
      time(df, kernel); time(df, base) // warm both plans
      val k = Seq.fill(Reps)(time(df, kernel)).sorted.apply(Reps / 2)
      val b = Seq.fill(Reps)(time(df, base)).sorted.apply(Reps / 2)
      (k - b) / rows
    }
    // the base reads the same inputs through a trivial expression
    val arrays = size($"x") + size($"y")
    val strings = length($"x") + length($"y")
    val out = Map(
      "functions.minhash64_ns" -> per(tokens, MinHashExpression.minhash64($"toks"), size($"toks")),
      "functions.simhash64_ns" -> per(tokens, SimHashExpression.simhash64($"toks"), size($"toks")),
      "functions.lcs_ns" -> per(tokenPairs, LcsLength.lcsLength($"x", $"y"), arrays),
      "functions.damerau_ns" -> per(namePairs, DamerauLevenshtein.damerau($"x", $"y"), strings),
      "functions.jaro_winkler_ns" -> per(namePairs, JaroWinkler.jaroWinkler($"x", $"y"), strings),
      "functions.graft_dot_ns" -> per(vecPairs, VectorExpressions.graftDot($"x", $"y"), arrays),
      "functions.bloom_contains_ns" ->
        per(keys, BloomExpression.bloomContains(bloom, $"x"), $"x" + 1))
    Seq(tokens, tokenPairs, namePairs, vecPairs, keys).foreach(_.unpersist(blocking = true))
    out
  }
}
