package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * The one owner of the intermediates graft operators hold for the
 * lifetime of their (lazy) returned plans, and of their release.
 *
 * Two holds, one registry:
 *  - a plain `persist` for a cache that several branches of one plan
 *    read and that is cheap to recompute: the tf-idf term-frequency
 *    table, the n-gram Jaccard inverted index, the embedding prep of
 *    the sizing probes, the training-set builder's gate stage, the
 *    budget selector's sorted relation (a correctness pin);
 *  - a lazy `localCheckpoint(false)` for a multi-read sketch, where
 *    every scan of a cached relation would cost an AQE materialization
 *    job and checkpoint reads are plain RDD reads: the MinHash batch
 *    sketch of [[graft.llm.IncrementalMinHash.classifyBanded]] and of
 *    the training-set builder's stage 6b, and the surviving round of
 *    [[rounds]].
 *
 * Each registers with [[track]]; [[releaseSession]] releases everything
 * registered — the graft-only alternative to
 * `spark.catalog.clearCache()`, which a long-lived multi-tenant session
 * cannot call without dropping caches the application persisted itself.
 * Bench, Verify, JobProfile and PlanDump call it between queries; a
 * library caller looping over an operator calls it after consuming each
 * result. Release only after the result has been consumed: a released
 * persist recomputes from lineage (slower, never wrong), but a released
 * checkpoint has no lineage left to recompute from.
 *
 * Storage a caller holds only within one call (a per-batch or
 * per-round checkpoint) is dropped through [[release]] as soon as it is
 * superseded, never registered.
 */
object CacheScope {
  private val held = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Register a persisted or checkpointed intermediate for
    * [[releaseSession]]; returns it. */
  def track(df: DataFrame): DataFrame = {
    held.add(df)
    df
  }

  /** Release every intermediate registered with [[track]] (non-blocking)
    * and forget it; caches the application persisted itself are never
    * touched. Never throws: a cache that is already gone is the desired
    * state. */
  def releaseSession(): Unit = {
    var df = held.poll()
    while (df != null) {
      // a persist is dropped as a cache even when it pins a checkpoint
      // root, so the checkpoint storage underneath is left to its owner
      try {
        if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
        else release(df)
      } catch { case _: Exception => () }
      df = held.poll()
    }
  }

  /** Unpersist the storage behind each frame that is a checkpoint root
    * (`DataFrame.unpersist` only targets catalog-cached plans, not
    * checkpoint storage); any other frame — a caller's plan, or one
    * derived from a checkpoint — is left alone. Non-blocking and
    * idempotent; after release a checkpoint frame must not be read
    * again. */
  def release(frames: DataFrame*): Unit =
    frames.flatMap(checkpointRdd).foreach(_.unpersist(blocking = false))

  /** Row count of a lazy `localCheckpoint(false)` DataFrame in ONE job:
    * counting the checkpoint RDD materializes its storage and counts in
    * the same job, where `DataFrame.count()` under AQE runs two (the
    * partial-aggregate map stage, then the result). A frame that is not
    * a checkpoint root counts through `count()`. */
  private[graft] def checkpointCount(df: DataFrame): Long =
    checkpointRdd(df).fold(df.count())(_.count())

  /**
   * A fixpoint loop over lazily checkpointed rounds: starting from
   * `init`, each round checkpoints `step(previous)` with a lazy
   * `localCheckpoint(false)` and probes it with `done`, whose action
   * materializes that checkpoint; the previous round is then released
   * (a no-op when it is `init` and `init` is not a checkpoint root), so
   * the loop holds at most two rounds. The surviving round is
   * registered with [[track]] and returned. After `maxRounds` rounds
   * without `done`, the last round is released and the loop throws an
   * `IllegalStateException` naming `name` and `maxRounds`, rather than
   * return a partial fixpoint.
   */
  def rounds(init: DataFrame, maxRounds: Int, name: String)(
      step: DataFrame => DataFrame)(done: DataFrame => Boolean): DataFrame = {
    var cur = init
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxRounds) {
        release(cur)
        throw new IllegalStateException(
          s"$name did not converge within maxRounds=$maxRounds: a partial " +
            "result would be wrong — raise maxRounds")
      }
      val next = step(cur).localCheckpoint(false)
      converged = done(next)
      release(cur)
      cur = next
      round += 1
    }
    track(cur)
  }

  /** The storage-holding RDD behind a `localCheckpoint`ed DataFrame —
    * only when the frame's own plan is the checkpoint, never for a frame
    * derived from one. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
