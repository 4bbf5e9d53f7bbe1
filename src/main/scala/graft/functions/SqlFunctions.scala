package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{BinaryType, IntegerType}

/** The engine's SQL-function table: the SQL name and builder of every
  * codegen'd kernel, declared once. The Column helpers (`minhash64`,
  * `graftDot`, `cmsEstimate`, …) apply their row's builder to their argument
  * expressions, so they resolve on any session with nothing registered. The
  * names matter only to SQL text: [[register]] installs them on one session,
  * `graft.plans.GraftExtensions` on every session of a deployment. */
object SqlFunctions {

  type Builder = Seq[Expression] => Expression

  /** Sketch probes take their serialized sketch as a binary literal. */
  private def probe(name: String, sketch: String)(
      build: (Array[Byte], Expression) => Expression): Builder = exprs =>
    exprs.head match {
      case Literal(b: Array[Byte], BinaryType) => build(b, exprs(1))
      case other => throw new IllegalArgumentException(
        s"$name expects a binary literal $sketch, got $other")
    }

  /** The word-n-gram kernels take their gram length as a positive integer
    * literal. */
  private def ngrams(name: String, distinct: Boolean): Builder = {
    case Seq(text, Literal(n: Int, IntegerType)) if n > 0 => WordNgrams(text, n, distinct)
    case exprs => throw new IllegalArgumentException(
      s"$name(text, n) expects n as a positive integer literal, got ${exprs.drop(1).mkString(", ")}")
  }

  val table: Seq[(String, Builder)] = Seq(
    "graft_minhash64" -> (e => MinHash64(e(0))),
    "graft_word_ngrams" -> ngrams("graft_word_ngrams", distinct = false),
    "graft_shingle_set" -> ngrams("graft_shingle_set", distinct = true),
    "graft_simhash64" -> (e => SimHash64(e(0))),
    "graft_simhash60_md5" -> (e => SimHash60Md5(e(0))),
    "graft_dot" -> (e => DotProductDouble(e(0), e(1))),
    "graft_jaro_winkler" -> (e => JaroWinkler(e(0), e(1))),
    "graft_damerau" -> (e => DamerauLevenshtein(e(0), e(1))),
    "graft_lcs" -> (e => LcsLength(e(0), e(1))),
    "graft_dtw" -> (e => DtwDistance(e(0), e(1), e(2))),
    "graft_nfc" -> (e => NfcNormalize(e(0))),
    "graft_cms_estimate" -> probe("graft_cms_estimate", "sketch")(CmsEstimateString(_, _)),
    "graft_bloom_contains" -> probe("graft_bloom_contains", "filter")(BloomMightContainLong(_, _)))

  private val builders: Map[String, Builder] = table.toMap

  /** `name(args…)` as a Column, built from the table row: the same
    * expression `call_function(name, args…)` resolves to on a registered
    * session, without the registry lookup. */
  def apply(name: String, args: Column*): Column =
    GraftSqlBridge.column(builders(name)(args.map(GraftSqlBridge.expression)))

  /** Register every row in `spark`'s FunctionRegistry (idempotent), for
    * SQL text such as `spark.sql("SELECT graft_dot(a, b) …")`. */
  def register(spark: SparkSession): Unit =
    table.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}
