package perfbench

import graft.engine.GraftQuery

/** A benchmark workload: catalog entries run once per pass, whether each
  * pass gets a fresh session (memo-cold, released at the end of the pass),
  * and the memo families whose
  * build cost the traced run measures (family -> its representative first
  * consumer, as in graft.tools.MemoCold). */
final case class Workload(name: String, queries: Seq[GraftQuery], freshSession: Boolean,
    memoFamilies: Seq[(String, String)])

object Workloads {

  private lazy val catalog = graft.SparkEntry.catalog

  private def entry(id: String): GraftQuery =
    catalog.find(_.name.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no catalog entry $id"))

  private def pick(ids: String): Seq[GraftQuery] = ids.trim.split("\\s+").toSeq.map(entry)

  /** Every memo family any workload measures, so traced runs report the
    * same metric names on every workload. */
  val allFamilies: Seq[String] = Seq("mlSplit", "cappedShingleSets-minhashSigs")

  lazy val all: Map[String, Workload] = Seq(
    // memo-cold batch jobs on a fresh session per pass: the paper's spark.ml
    // logistic regression on the seeded split memo, and LLM-data near-dup
    // curation, two queries sharing the capped-shingle-set and MinHash
    // signature memos that the first of them to run builds (the codegen'd
    // MinHash kernel's banded pair join and its signature dump). One
    // classifier, to keep a run near a minute on 4 cores.
    Workload("classify_curate", pick("q57 q372 q371"), freshSession = true,
      Seq("mlSplit" -> "q57", "cappedShingleSets-minhashSigs" -> "q372")),
    // one long-lived warm session: short relational queries (semi join,
    // rollup, graft top-k exec, cross join) next to the write side (a
    // streaming state store and checkpoint, partitioned parquet, CSV).
    Workload("analytics_ingest", pick("q01 q16 q18 q22 q218 q61 q83 q67"),
      freshSession = false, Nil)
  ).map(w => w.name -> w).toMap

  private lazy val modules: Map[String, String] = {
    def names(m: String, qs: Seq[GraftQuery]*) = qs.flatten.map(_.name -> m)
    import graft.{llm, ml, operators}
    (names("llm", llm.Dedup.all, llm.Curation.all, llm.Chunking.all, llm.Search.all,
      llm.Similarity.all, llm.FuzzyJoin.all) ++
      names("ml", ml.Classification.all, ml.MlExtras.all, ml.Features.all) ++
      names("operators", operators.RelationalCore.all, operators.Joins.all,
        operators.Aggregates.all, operators.Windows.all, operators.Subqueries.all)).toMap
  }

  /** The layer module (llm, ml, operators) that owns a catalog entry, else "other". */
  def module(query: String): String = modules.getOrElse(query, "other")
}
