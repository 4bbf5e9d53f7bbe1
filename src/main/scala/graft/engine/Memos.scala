package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped LIFECYCLE for the per-(SparkSession, dir) corpus memos
  * (r10 verdict item 5: "memoized frames are never released").
  *
  * Two pieces:
  *
  *  1. [[checkpoint]] — every memoized corpus frame materializes through
  *     this helper at `MEMORY_AND_DISK_SER` instead of localCheckpoint's
  *     default deserialized level: the memos live for the whole session, so
  *     they belong in compact serialized form (3–6× less heap for the
  *     string-heavy shingle/pair frames), keeping block-manager storage
  *     from squeezing execution memory over a 508-query sweep (guide §5 —
  *     this is what forced r10's 8g→16g driver-heap bump). Blocks spill to
  *     disk, never drop, so a consumer can always read them back.
  *  2. [[release]] — unpersists every memoized frame belonging to a
  *     session and drops the owning map entries, so a long-lived session
  *     (REPL, server) can return the storage without restarting the JVM.
  *     Each memo-owning object registers a clearer at class-init via
  *     [[onRelease]]. MemoLifecycleSpec proves build → release → rebuild.
  *
  * Cluster story (unchanged from r10, now centralized): `localCheckpoint`
  * state is executor-local and lost on executor failure — on a real
  * cluster swap [[checkpoint]]'s body for reliable `checkpoint()` against
  * the cluster checkpoint dir; every memo inherits the swap. */
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

  private val clearers =
    new java.util.concurrent.CopyOnWriteArrayList[SparkSession => Unit]()

  /** Register a per-session clearer (called by memo-owning objects once,
    * at class init). */
  private[graft] def onRelease(f: SparkSession => Unit): Unit = clearers.add(f)

  /** Unpersist the checkpointed RDD behind a memoized frame (no-op for
    * frames that are not LogicalRDD-rooted, e.g. driver-side models). */
  private[graft] def unpersistFrame(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = true)) // deterministic storage return

  /** Release every memoized corpus frame held for `spark`: storage is
    * unpersisted and the memo entries dropped, so the next consumer
    * rebuilds from the parquet inputs. */
  def release(spark: SparkSession): Unit =
    clearers.forEach(f => f(spark))
}
