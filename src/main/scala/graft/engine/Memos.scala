package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one registry of per-(SparkSession, dir) memos: corpus
  * stages that several catalog entries share (pair sets, signatures, the
  * seeded ML split, KMeans/PQ indexes, co-order edges, the Borůvka forest)
  * are built once per session and data dir and handed to every later
  * consumer.
  *
  *  - Keys are (session, dir, key). The session is compared by reference,
  *    so a fresh `newSession()` builds its own entries and never sees
  *    another session's RDD handles; `key` names the stage (the module's
  *    tag, plus any parameter such as KMeans' k).
  *  - [[memo]] runs a build under its key's holder, outside the map's own
  *    lock: each key is built exactly once, a build may call [[memo]] for
  *    other keys in any order, and a build that throws caches nothing.
  *  - Entries live until [[release]], which drops the session's entries
  *    and unpersists every frame held in a value (one frame, or each frame
  *    of a tuple); driver-side values such as a `KMeansModel` are simply
  *    dropped. Per-query frames a build checkpoints but does not return are
  *    not covered: `ContextCleaner` frees them once unreferenced.
  *
  * Memoized frames materialize through [[checkpoint]] at
  * `MEMORY_AND_DISK_SER` instead of localCheckpoint's default deserialized
  * level: they live for the whole session, so they belong in compact
  * serialized form (3–6× less heap for the string-heavy shingle/pair
  * frames), keeping block-manager storage from squeezing execution memory
  * over a 508-query sweep. Blocks spill to disk, never drop, so a consumer
  * can always read them back.
  *
  * Cluster story: `localCheckpoint` state is executor-local and lost on
  * executor failure — on a real cluster swap [[checkpoint]]'s body for
  * reliable `checkpoint()` against the cluster checkpoint dir; every memo
  * inherits the swap. */
object Memos {

  /** Storage level for session-lifetime memoized frames. */
  val MemoLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** Eager, lineage-truncating materialization at [[MemoLevel]]. */
  def checkpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, storageLevel = MemoLevel)

  /** [[checkpoint]] deferred to the first action over the returned frame,
    * which stores the blocks as it computes them — one job fewer for a
    * builder that runs its own action over the frame right away. */
  def deferredCheckpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false, storageLevel = MemoLevel)

  /** One key's slot; `value` is set, under the holder's monitor, by the
    * build that wins it. */
  private final class Holder { var value: Option[Any] = None }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Holder]()

  /** The value memoized for (`spark`, `dir`, `key`), built by `build` on the
    * first call. Concurrent callers of one key wait for that build; if it
    * throws, the entry is removed and the next call builds again. */
  @annotation.tailrec
  private[graft] def memo[V](spark: SparkSession, dir: String, key: String)(build: => V): V = {
    val k = (spark, dir, key)
    val h = entries.computeIfAbsent(k, _ => new Holder)
    val got = h.synchronized {
      // a holder that left the map (failed build, release) is stale: retry
      if (h.value.isEmpty && (entries.get(k) eq h))
        try h.value = Some(build)
        catch { case t: Throwable => entries.remove(k, h); throw t }
      h.value
    }
    got match {
      case Some(v) => v.asInstanceOf[V]
      case None => memo(spark, dir, key)(build)
    }
  }

  /** (dir, key) -> value of every entry built for `spark`. */
  private[graft] def held(spark: SparkSession): Map[(String, String), Any] = {
    val out = Map.newBuilder[(String, String), Any]
    entries.forEach { (k, h) =>
      if (k._1 eq spark) h.synchronized(h.value).foreach(v => out += (k._2, k._3) -> v)
    }
    out.result()
  }

  /** The frames a memo value holds: the value itself, or each member of a
    * tuple. */
  private[graft] def framesIn(value: Any): Iterator[DataFrame] = value match {
    case df: DataFrame @unchecked => Iterator(df)
    case p: Product => p.productIterator.flatMap(framesIn)
    case _ => Iterator.empty
  }

  /** The checkpointed RDD behind a materialized frame, if it is
    * LogicalRDD-rooted. */
  private[graft] def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Unpersist the checkpointed RDD behind a materialized frame (no-op for
    * frames that are not LogicalRDD-rooted). */
  private[graft] def unpersistFrame(df: DataFrame): Unit =
    rddOf(df).foreach(_.unpersist(blocking = true)) // deterministic storage return

  /** Release every memo held for `spark`: the entries are dropped and the
    * frames in their values unpersisted, so the next consumer rebuilds from
    * the parquet inputs. A build still running finishes first. */
  def release(spark: SparkSession): Unit =
    entries.forEach { (k, h) =>
      if (k._1 eq spark) {
        entries.remove(k, h)
        h.synchronized { h.value.foreach(framesIn(_).foreach(unpersistFrame)); h.value = None }
      }
    }
}
