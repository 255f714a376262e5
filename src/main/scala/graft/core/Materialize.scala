package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage-truncating materialization for iterative / multi-consumer
  * frames (connected-components rounds, shingle sets read by both the
  * candidate and verify sides of a dedup join).
  *
  * Cluster posture: when the session has a checkpoint directory
  * configured (`sparkContext.setCheckpointDir`, backed by HDFS/object
  * storage on a real cluster), `pin` uses reliable `checkpoint()` —
  * blocks survive executor loss, so an iterative job degrades to a
  * re-read instead of aborting. Without one it falls back to
  * `localCheckpoint()` (blocks live in executor storage; single-node /
  * dev-only, an executor loss kills the lineage). The fallback keeps
  * `local[*]` tests and notebooks zero-config.
  *
  * Reliable-checkpoint hygiene: `checkpoint()` alone computes the plan
  * TWICE (once for the action, once to write the checkpoint files), so
  * `pin` persists the frame first and unpersists after — one compute,
  * one file write. Checkpoint directories are only reclaimed when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (then the
  * ContextCleaner deletes them as the checkpointed RDDs are GC'd);
  * set it on any long-running application using a checkpoint dir, or
  * the directory grows by one rdd-N per `pin` for the app lifetime.
  *
  * Row counts: on the `localCheckpoint` path, the one job that
  * materializes the frame also counts the rows of each partition, and
  * `pin` keeps them ([[rowCounts]]) so `Tables.fanOut` can spread a frame
  * whose rows sit in a few of its partitions without a shuffle. They sit
  * in a weak map keyed by the pinned RDD, so they go when it does;
  * [[release]] drops them at once. A reliable checkpoint records none.
  */
object Materialize {

  /** Debug hook for the optimization-round audit trail (r15 verdict
    * "what's wrong" #1): `pin` truncates lineage, so explaining a query
    * whose RETURNED frame was pinned prints an evidence-free
    * `Scan ExistingRDD` stub. When a sink is installed (graft.PlanDump
    * does, nothing else ever should), `pin` hands it the formatted plan
    * of its INPUT frame before checkpointing — the real operator tree
    * the pin materializes. Volatile + None-by-default: zero cost and
    * zero behavior change outside PlanDump runs.
    */
  @volatile private[graft] var planSink: Option[String => Unit] = None

  private val counted = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Array[Long]]())

  /** Materialize `df` eagerly and truncate its lineage. A local
    * checkpoint is marked lazily, then materialized by one job that
    * counts each partition's rows: `runJob`'s trailing `doCheckpoint`
    * finds every block stored and starts none. (The eager
    * `localCheckpoint()` runs its own job, so counting after it would
    * add a second.) A frame with no partitions runs no job either way.
    */
  def pin(df: DataFrame): DataFrame = {
    planSink.foreach(_(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)))
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint()
      finally df.unpersist(blocking = false)
    } else {
      val pinned = df.localCheckpoint(eager = false)
      pinnedRdds(pinned).filter(_.partitions.nonEmpty).foreach { rdd =>
        counted.put(rdd, sc.runJob(rdd, (rows: Iterator[InternalRow]) => {
          var n = 0L
          while (rows.hasNext) { rows.next(); n += 1 }
          n
        }))
      }
      pinned
    }
  }

  /** The rows in each partition of `rdd`, if a local [[pin]] made it and
    * it has not been released.
    */
  private[graft] def rowCounts(rdd: RDD[_]): Option[Array[Long]] = Option(counted.get(rdd))

  private def pinnedRdds(df: DataFrame): Seq[RDD[InternalRow]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  /** Release the storage behind a frame previously returned by [[pin]],
    * once no live frame depends on it: frees the executor blocks
    * (localCheckpoint case) and deletes the rdd-N checkpoint directory
    * (reliable case) — without this an iterative algorithm that pins
    * every round grows storage linearly with rounds for the application
    * lifetime (the ContextCleaner only reclaims checkpoint dirs when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` AND the
    * RDD is GC'd). It also drops the frame's row counts. The released
    * frame must not be read again. No-op on frames that were never
    * pinned.
    */
  def release(df: DataFrame): Unit =
    pinnedRdds(df).foreach { rdd =>
      counted.remove(rdd)
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    }
}
