package graft.api

import org.apache.spark.sql.DataFrame

/** Storage-lifecycle helpers. `Dataset.localCheckpoint` persists its
  * RDD for the LIFE of the SparkContext (not the life of the plan that
  * made it), so any function that checkpoints a frame it fully
  * consumes before returning must release the blocks itself — the
  * round-7 CurationPipeline lesson (`Stages.close`), shared here so
  * every index build/fold applies the same discipline.
  */
object Lifecycle {

  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tempDirs.forEach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
      ()
    }))

  /** A fresh directory under the system temp dir for a JVM-lifetime
    * cache (the catalog's `SharedStages` artifacts), deleted with its
    * contents when the JVM exits. */
  private[graft] def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Unpersist the locally-checkpointed RDD(s) backing `df`. Only
    * valid once every consumer of `df` has materialized: a
    * localCheckpoint truncates lineage, so after release the frame
    * can never be recomputed.
    */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit = {
    val rdds = checkpointRdds(df)
    rdds.foreach(r => cacheOwned.remove(r.id))
    rdds.foreach(_.unpersist(blocking = false))
  }

  /** The LogicalRDD-backed RDDs of a (checkpointed) frame's analyzed
    * plan — the handles both the liveness check and the cache-owned
    * registry key on.
    */
  private[graft] def checkpointRdds(df: DataFrame)
      : Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Is every RDD backing this checkpointed frame still persisted?
    * False once anything (a bench drain, an explicit close) has
    * unpersisted a block-holding RDD — the frame is then unrecoverable
    * (truncated lineage) and any cache holding it must recompute.
    */
  private[graft] def isLive(df: DataFrame): Boolean =
    checkpointRdds(df).forall(
      _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)

  // ---- session-cache-owned checkpoint registry -------------------------
  // Long-lived caches (CurationQueries.stagesCache) deliberately share
  // localCheckpointed frames ACROSS query invocations — the one shape
  // BenchHarness.drainLocalCheckpoints' "no thunk sees a previous
  // invocation's checkpoint" argument does not cover. Owners register
  // their live checkpoint RDD ids here; the drain skips registered ids.
  // The leak bound still holds: an owner unregisters+releases the old
  // run's ids whenever it refreshes (at most one run's worth of
  // cache-owned blocks is ever pinned).

  private val cacheOwned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Register `df`'s checkpoint RDD ids as cache-owned (drain-exempt). */
  private[graft] def registerCacheOwned(df: DataFrame): Unit =
    checkpointRdds(df).foreach(r => cacheOwned.add(r.id))

  /** Is this RDD id owned by a live session cache? */
  private[graft] def isCacheOwned(id: Int): Boolean = cacheOwned.contains(id)
}
