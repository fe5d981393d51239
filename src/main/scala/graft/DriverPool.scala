package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.LocalProperties

import java.util.concurrent.{ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future, Promise}
import scala.util.{Failure, Success, Try}

/** The one driver-side pool for Spark actions that run side by side:
  * `IncrementalPipeline.processBatch`'s state updates and the study
  * pass's stages ([[graft.cli.Play]]). Four daemon threads, so at most
  * four driver actions are in flight at once, and a caller saturating
  * the global ExecutionContext cannot serialize them.
  *
  * Each task runs under the submitter's SparkContext local properties
  * (job group, description, scheduler pool, call site), captured at
  * submit time and restored when the task ends, as Spark's
  * `SQLExecution.withThreadLocalCaptured` does; the SQL execution id is
  * not carried over. Without this a pool thread keeps the properties of
  * the thread that created it, and charges its jobs to a stale job group.
  *
  * A task's future completes on EVERY Throwable (scala.concurrent's
  * Future catches only NonFatal, so a fatal error, such as an executor
  * OOM surfacing in the task, would otherwise never complete it and stall
  * the join). A task must not wait on another pool task: with every
  * thread waiting, the awaited task would never start. */
object DriverPool {

  val Threads = 4

  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(Threads, new ThreadFactory {
      private val n = new AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-driver-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private val unfinished = new AtomicInteger(0)

  /** Runs `body` on the pool under the caller's local properties. */
  def submit[T](spark: SparkSession)(body: => T): Future[T] = {
    val sc = spark.sparkContext
    val props = LocalProperties.capture(sc)
    val p = Promise[T]()
    val task: Runnable = () => {
      val outcome =
        try Success(LocalProperties.within(sc, props)(body))
        catch { case t: Throwable => Failure(t) }
      unfinished.decrementAndGet()
      p.complete(outcome)
    }
    unfinished.incrementAndGet()
    pool.execute(task)
    p.future
  }

  /** Waits for every task and returns each outcome, in order; never throws
    * a task's failure. Each wait is bounded purely defensively: a task
    * completes on every Throwable, so a wedged wait needs a hang inside
    * Spark itself. */
  def awaitAll[T](tasks: Seq[Future[T]]): Seq[Try[T]] =
    tasks.map { t => Await.ready(t, Duration(1, "day")); t.value.get }

  /** Tasks submitted and not yet finished; a task counts as finished
    * before its future completes. */
  private[graft] def unfinishedTasks: Int = unfinished.get
}
