package graft

import org.apache.spark.sql.DataFrame

/**
 * Release handle for the intermediates graft operators persist.
 *
 * Several operators cache a shared intermediate for the lifetime of
 * their (lazy) returned plan — the tf-idf term-frequency table, the
 * bucketed as-of union, the training-set builder's gate stage and
 * fuzzy-tier sketch, the batch sketch of
 * [[graft.llm.IncrementalMinHash.classify]] — and before this handle
 * existed the only release path was the session-wide
 * `spark.catalog.clearCache()`, which a long-lived multi-tenant
 * session cannot call without dropping every tenant's caches.
 *
 * A caching operator registers everything it persists in a scope:
 * most take a `scope: CacheScope = CacheScope.session` parameter;
 * `IncrementalMinHash.classify`/`classifyBanded` always use the
 * session scope (their loop-shaped callers — the streaming sink and
 * the maintaining builder — read the sketch from a checkpoint instead
 * and persist nothing). Callers that want per-operator release pass
 * their own scope, consume the result, then `scope.release()`; callers
 * that don't care inherit the session scope and release everything
 * graft persisted at once via [[CacheScope.releaseSession]] — which,
 * unlike `clearCache()`, never touches caches the application
 * persisted itself.
 *
 * Release is idempotent. For plain `persist` caches it is safe even
 * while downstream plans are unconsumed — Spark recomputes from
 * lineage (slower, never wrong). Iterative operators (DupClusters,
 * resolveKeepers) release their per-round checkpoints inline as each
 * round supersedes the last and register only the FINAL round here;
 * that entry is `localCheckpoint` storage, whose lineage is truncated —
 * release it only after the returned DataFrame has been consumed (or
 * abandoned), the same rule `clearCache()` never enforced because it
 * cannot see RDD-level storage at all.
 */
final class CacheScope {
  private val items = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** Register an already-persisted DataFrame for release; returns it. */
  def track(df: DataFrame): DataFrame = {
    items.add(() => { df.unpersist(blocking = false); () })
    df
  }

  /** Register an already-persisted RDD (checkpoint storage) for release. */
  def track(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    items.add(() => { rdd.unpersist(blocking = false); () })

  /** Unpersist every tracked intermediate (non-blocking) and forget it.
    * Never throws: a cache that is already gone is the desired state. */
  def release(): Unit = {
    var f = items.poll()
    while (f != null) {
      try f() catch { case _: Exception => () }
      f = items.poll()
    }
  }
}

object CacheScope {
  /** Where operators called without an explicit scope register. */
  val session = new CacheScope

  /** Release every intermediate persisted by operators that were called
    * without an explicit scope — the graft-only alternative to
    * `spark.catalog.clearCache()` (Bench and Verify call this between
    * queries; application-owned caches survive). */
  def releaseSession(): Unit = session.release()

  /** The storage-holding RDD behind a `localCheckpoint`ed DataFrame —
    * what the iterative operators unpersist as each round's checkpoint
    * supersedes the last (`DataFrame.unpersist` only targets
    * catalog-cached plans, not checkpoint storage). None when the plan
    * isn't a checkpoint root. */
  private[graft] def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Row count of a lazy `localCheckpoint(false)` DataFrame in ONE job:
    * counting the checkpoint RDD materializes its storage and counts in
    * the same job, where `DataFrame.count()` under AQE runs two (the
    * partial-aggregate map stage, then the result). A frame that is not
    * a checkpoint root counts through `count()`. */
  private[graft] def checkpointCount(df: DataFrame): Long =
    checkpointRdd(df).fold(df.count())(_.count())
}
