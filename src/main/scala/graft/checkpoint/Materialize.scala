package graft.checkpoint

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * The one way graft materialises a reused intermediate frame. The policy
 * is decided from the master, so no caller branches on it:
 *
 *  - local master: `localCheckpoint(eager = true, level)`. The job runs
 *    here and the returned frame's plan is a `LogicalRDD` over the stored
 *    blocks, so both the logical plan and the RDD graph are cut. Blocks
 *    are reclaimed by the ContextCleaner once the frame is dropped; no
 *    CacheManager entry is registered.
 *  - any other master: `persist(level)` plus a `count()`. Local-checkpoint
 *    blocks are not recomputable, so on a cluster an executor loss (or a
 *    dynamic-allocation decommission) would fail the job; a persisted
 *    frame recomputes the lost partitions instead. The frame stays a
 *    CacheManager entry until the owner unpersists it (its
 *    `storageLevel` is then not `NONE`; `T2KResult.release()` does this
 *    for the pipeline's frames). Durable truncation on a cluster is the
 *    [[ParquetCheckpointer]]'s job.
 *
 * Eager on both paths, measured: under AQE a "lazy" `localCheckpoint`
 * is not lazy — `Dataset.localCheckpoint` calls `queryExecution.toRdd`,
 * whose adaptive loop materialises every shuffle stage serially right
 * there — and it never cut the RDD graph (AQE runs stages through
 * `DAGScheduler.submitMapStage`, which skips the `rdd.doCheckpoint()`
 * hook), so task binaries grew along the pipeline (2 -> 13 MiB on the
 * 10-row micro corpus). Eager costs one result-stage job per barrier and
 * cuts for real (micro-pipeline definition 16.8 s -> 14.8 s).
 *
 * `level` is the block storage level on both paths.
 */
object Materialize {
  def apply(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.sparkSession.sparkContext.isLocal)
      df.localCheckpoint(eager = true, storageLevel = level)
    else {
      val p = df.persist(level)
      p.count()
      p
    }
}
