package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Lineage-truncation posture for the LONG-CHAIN frames of the composed
 * batch pipeline (dedup tier survivor ids, the flagged frame).
 *
 * Default is `localCheckpoint()`: eager, ContextCleaner-managed,
 * zero-configuration — but the blocks live on EXECUTOR LOCAL storage,
 * non-replicated. On a real cluster a single lost executor invalidates
 * the checkpoint and triggers a recompute storm mid-job (invisible at
 * local[32], fatal in hour 30 of a 40-hour chain). Two durable
 * postures exist, in order of preference:
 *
 *  1. **stageDir** ([[Incremental.commitStage]]): manifest-guarded
 *     parquet commits at the stage boundaries — survives full driver
 *     loss, resumable, and the recommended production posture
 *     (the `stageDir` parameter of BatchConfig.BatchSpec.run and of
 *     BatchPipeline.run; docs/pipeline/batch.md "Durability at cluster
 *     scale").
 *  2. **Reliable checkpoints** (this knob): set
 *     `spark.graft.reliableCheckpoints=true` AND a Spark checkpoint dir
 *     (`sc.setCheckpointDir` — HDFS/S3 on a cluster), and every
 *     chain-frame truncation goes through `DataFrame.checkpoint()`
 *     instead: blocks in the fault-tolerant store, executor loss is a
 *     re-read, not a recompute. Costs one distributed write per
 *     truncation — between localCheckpoint (cheapest, fragile) and
 *     stageDir (dearest, resumable).
 *
 * Operator-INTERNAL localCheckpoints (CC label fixpoints, LSH edge
 * frames) deliberately stay local: their loss recomputes within one
 * operator, not across stages, and they are released before the
 * operator returns.
 */
object Checkpoints {

  val ReliableConf = "spark.graft.reliableCheckpoints"

  /** True when the session opted into reliable chain checkpoints. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableConf, "false").toBoolean

  /** Truncate a chain-frame's lineage under the session's posture:
   * `checkpoint()` (reliable, eager) when [[ReliableConf]] is true —
   * requiring a checkpoint dir with a clear error — else
   * `localCheckpoint()` (eager). */
  def stage(df: DataFrame): DataFrame =
    if (reliable(df)) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true needs a checkpoint dir: call " +
          "sc.setCheckpointDir(<fault-tolerant path>) first")
      df.checkpoint()
    } else df.localCheckpoint()
}
