package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Memo build cost, measured: the [[graft.engine.Memos]] registry makes
  * every *reported* number memo-warm (the bench's min-of-2 always sees
  * pass 2 read materialized blocks), so the shared-stage BUILD cost
  * vanishes from BENCH.json. For each registry key in [[families]] this
  * main runs the key's representative consumer — the catalog entry that
  * builds it — with the SAME count() action twice on a FRESH
  * `spark.newSession()` (a new session = new registry entries, so pass 1
  * is memo-COLD by construction) and reports cold, warm, and their
  * difference: the build cost charged to whichever catalog entry happens
  * to touch that key first in a full sweep. Keys that share one
  * representative are measured together, under their names joined by
  * "+". Each run also reports its codegen compiles (`CodegenMetrics`,
  * cache misses only): a warm run that compiles 0 classes shows the
  * difference is memo build cost, not recompilation.
  *
  * After all builds it sums the block-manager storage the memos pin
  * (`getRDDStorageInfo`).
  *
  * Usage: sbt "runMain graft.tools.MemoCold [sfDir]" (SPARK_GRAFT_CPUS
  * overrides the local thread count, default the host's cores)
  * Output: one JSON line (families + storage) — recorded in
  * OPTIMIZATION_r11.md, never in BENCH.json. */
object MemoCold {

  /** Registry key -> its representative consumer. */
  val families: Seq[(String, String)] = Seq(
    "exactPairs" -> "q45_neardup_jaccard",
    "exactClusters" -> "q365_contrastive_negatives",
    "portableSigs" -> "q494_minhash_portable",
    "portablePairs" -> "q343_cluster_champion",
    "portableClusters" -> "q343_cluster_champion",
    "shingleSigs" -> "q372_minhash_banded",
    "contamination" -> "q114_contamination",
    "simhash60" -> "q105_simhash_neardup",
    "coOrderEdges" -> "q154_triangles",
    "boruvkaForest" -> "q409_boruvka_msf",
    "ed1Pairs" -> "q160_edit_distance_join",
    "corpusKmeans-10" -> "q117_kmeans_clusters",
    "pqIndex" -> "q140_knn_pq",
    "mlSplit" -> "q121_dt_confusion",
    "partPairDl" -> "q476_damerau_closest_pairs")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // default: the host's cores — more local threads (and shuffle
    // partitions) than cores misstates what a build costs on this host
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fns = graft.SparkEntry.queries
    val byQuery = families.map(_._2).distinct
      .map(q => (families.collect { case (k, `q`) => k }.mkString("+"), q))
    val rows = byQuery.map { case (family, q) =>
      val s = spark.newSession() // fresh memo key -> pass 1 is memo-cold
      // (seconds, codegen compiles)
      def once(): (Double, Long) = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fns(q)(s, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      val cold = once(); val warm = once()
      (family, q, cold, warm)
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    val memBytes = storage.map(_.memSize).sum
    val diskBytes = storage.map(_.diskSize).sum
    val fam = rows.map { case (f, q, (c, cc), (w, wc)) =>
      f""""$f":{"query":"$q","cold_sec":$c%.3f,"warm_sec":$w%.3f,""" +
        f""""memo_build_sec":${math.max(0, c - w)}%.3f,"cold_compiles":$cc,"warm_compiles":$wc}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"memo_cold","sf":"$sfDir","families":$fam,""" +
        s""""pinned_rdds":${storage.length},"pinned_mem_bytes":$memBytes,"pinned_disk_bytes":$diskBytes}""")
    spark.stop()
  }
}
