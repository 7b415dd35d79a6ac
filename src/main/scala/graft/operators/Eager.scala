package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager terminal materialization + deterministic storage release for
  * cache-releasing operators.
  *
  * Operators that persist a large intermediate (shingle digests, deduped
  * corpora) localCheckpoint their SMALL terminal result so the persisted
  * frame can be unpersisted before returning — otherwise the cache pins
  * storage memory for the caller's whole session (measured as multi-×
  * bench interference deep into a 150-query suite). localCheckpoint, not
  * persist: the materializing job still runs under AQE.
  *
  * The round-6 lesson extends that discipline to the checkpoint blocks
  * THEMSELVES: `localCheckpoint` persists its RDD (deserialized
  * MEMORY_AND_DISK) and those blocks are reclaimed only when a
  * driver-side GC lets the ContextCleaner notice the RDD is
  * unreachable — which demonstrably does not happen on time 150 queries
  * into a long-lived session (driver medians for the iterative family
  * inflated 3.5–4.8× vs isolated runs). [[tracked]] therefore returns an
  * explicit release handle next to each checkpointed frame, and the
  * iterative operators ([[Graph]], [[NearDup.dedupClusters]]) release
  * round i's blocks as soon as round i+1 is materialized.
  *
  * `graft.eagerRelease=false` (session conf) disables the terminal
  * checkpoint so plan-audit harnesses ([[graft.Explain]]) see the full
  * logical plan instead of an ExistingRDD scan; results are identical
  * either way — the unpersist then merely means lazy consumers recompute
  * the intermediate (deterministic plans, just uncached).
  */
private[graft] object Eager {

  /** Defensive conf parse: only an explicit "false" (case-insensitive,
    * trimmed) disables eager release — a typo'd value ("0", "True ")
    * must degrade to the default, not throw inside every
    * cache-releasing operator. */
  def enabled(spark: SparkSession): Boolean =
    !spark.conf.getOption("graft.eagerRelease")
      .exists(_.trim.equalsIgnoreCase("false"))

  def terminal(df: DataFrame): DataFrame =
    if (enabled(df.sparkSession)) df.localCheckpoint() else df

  /** localCheckpoint plus an idempotent handle that drops the
    * checkpoint's storage blocks. A locally checkpointed RDD has
    * truncated lineage — once its blocks are gone it can never be
    * recomputed — so release is deliberately explicit: call the handle
    * only when every plan referencing the frame has been materialized
    * (in the iterative operators, when round i+1's checkpoint exists).
    */
  def tracked(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint()
    // the checkpointed Dataset IS a LogicalRDD scan over the persisted
    // internal-row RDD; unpersisting that exact RDD (not df.rdd, which
    // is a fresh deserializing wrapper) frees the blocks
    val rdd: Option[RDD[_]] = out.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }
    var released = false
    val release = () => if (!released) {
      released = true
      rdd.foreach(_.unpersist(blocking = false))
    }
    (out, release)
  }

  /** Checkpoint a terminal result, then release the superseded
    * intermediates (checkpoints the terminal no longer references).
    * With eagerRelease=false neither happens: the returned lazy plan
    * still reads the superseded RDDs, so releasing them would break it.
    */
  def terminalReleasing(df: DataFrame, superseded: (() => Unit)*): DataFrame =
    if (enabled(df.sparkSession)) {
      val out = df.localCheckpoint()
      superseded.foreach(_.apply())
      out
    } else df

  /** Broadcast-block ids resident right now — the "before" snapshot for
    * [[releaseBroadcastsSince]]. */
  def broadcastSnapshot(spark: SparkSession): Set[Long] =
    org.apache.spark.graft.Storage.broadcastIds(spark.sparkContext).toSet

  /** Destroy every broadcast block created since `before` — the same
    * by-handle discipline [[tracked]] gives checkpoint blocks, applied
    * to the broadcast exchanges an iterative operator's rounds leave
    * behind (one per broadcast join; reclaimed otherwise only when a
    * driver GC lets the ContextCleaner run, which demonstrably lags a
    * long-lived multi-query session). Call ONLY after the operator's
    * terminal has been materialized to a checkpoint (an RDD scan
    * references no broadcast); a destroyed torrent broadcast cannot be
    * re-fetched, so a still-lazy plan would die. No-op when
    * eagerRelease is off — the lazy plan may still read them (the
    * harness's between-queries [[graft.Harness.sweep]] releases them
    * regardless). Assumes the session runs one query at a time
    * (Bench/Verify/spec discipline); a concurrent query's in-flight
    * broadcast would be indistinguishable from ours.
    */
  def releaseBroadcastsSince(spark: SparkSession, before: Set[Long]): Unit =
    if (enabled(spark)) {
      val sc = spark.sparkContext
      // blocking: the removal must be VISIBLE when this returns —
      // ReleaseSpec asserts zero residual broadcast blocks right after
      // an operator returns, and an async remove would flap that
      (org.apache.spark.graft.Storage.broadcastIds(sc).toSet -- before)
        .foreach(id =>
          org.apache.spark.graft.Storage.removeBroadcast(sc, id, blocking = true))
    }

}
