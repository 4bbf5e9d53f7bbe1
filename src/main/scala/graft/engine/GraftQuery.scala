package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** One named engine capability: an idiomatic Spark query/pipeline plus — when
  * the operation is SQL-expressible — its ANSI-SQL twin for the driver's
  * DuckDB oracle (SURVEY.md §5.1).
  *
  * Catalog discipline (SURVEY.md §7): SURVEY.md §2 is the checklist, and the
  * assembled catalog in [[graft.SparkEntry]] is its manifest. Every oracle'd
  * query must be output-deterministic: full `ORDER BY` with unique tie-break
  * keys on BOTH sides, money/stat doubles `round(x, k)` on BOTH sides but
  * kept as DOUBLE — never DECIMAL: the driver's value-hash reads our parquet
  * via pandas (DECIMAL → `Decimal('1.50')`) and the oracle via DuckDB
  * (DECIMAL → float `1.5`), so numerically-equal decimals still hash-mismatch
  * on trailing zeros (round-2 root cause, 24 queries) —
  * and `events.ts` truncated to microseconds on the DuckDB
  * side (ns parquet vs Spark µs TimestampType, SURVEY.md §5.6).
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object GraftQuery {

  /** A query with a DuckDB-verifiable ANSI-SQL twin. */
  def oracled(name: String, oracle: String, doc: String = "")(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, onEngineSession(fn), Some(oracle.stripMargin.trim), doc)

  /** Non-SQL-expressible op (approx algorithms, ML fits, streaming, LSH):
    * the driver records a weaker rows-only check; correctness is asserted in
    * ScalaTest instead (SURVEY.md §5.2–5.5). */
  def rowsOnly(name: String, doc: String = "")(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, onEngineSession(fn), None, doc)

  // lazy: building the catalog must not initialize SQLConf ahead of the session
  private lazy val IsolationKey = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** `fn` behind the engine's one session hook, which every catalog entry
    * runs before its body: unless the caller set
    * `spark.sql.artifact.isolation.enabled` on the session, set it to
    * `false`. The engine adds no artifacts, so the only effect is on which
    * class loader compiles generated code.
    *
    * Why: Spark 4.1 caches compiled whole-stage and expression classes per
    * (thread context class loader, source) (`CodeGenerator.compile`). With
    * per-session artifact isolation on (Spark's default),
    * `ArtifactManager.withResources` tags each session's jobs with the
    * session's UUID, and the executor builds a fresh class loader for every
    * new UUID — every `newSession()`, and every cloned session a streaming
    * query runs its batches on. Each task-side compile then misses the cache
    * although the generated source is byte-identical to a cached one: a
    * fresh-session repeat of q57 recompiled 17 classes, and a second run of
    * streaming q61 on one session 12. Without isolation the tasks run under
    * the executor's default loader and hit the cache. Answers cannot
    * change: the same source compiles, only the loader differs.
    *
    * Limit: `ArtifactManager.state` is lazy and reads the setting once, so a
    * session that already ran a job before its first engine call keeps its
    * isolated loader; the streaming clones it makes later copy the session
    * conf and still run without it. */
  private[graft] def onEngineSession(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (spark, dir) =>
    if (!spark.sessionState.conf.contains(IsolationKey))
      spark.conf.set(IsolationKey, false)
    fn(spark, dir)
  }
}
