package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records every Spark job started while attached: its job group (absent
  * for jobs launched outside one, such as streaming micro-batches), its
  * description, stage count, and start and end in epoch ms. A job with
  * no description records its call site: for every job of a SQL
  * execution, the DataFrame action's (AQE submits jobs from a pool
  * thread, whose own call site names no user code); else the name of its
  * result stage, the last one created, such as `count at Foo.scala:12`.
  * A description or call site in a JDK frame counts as absent.
  * Callbacks run on the listener-bus thread, so a read sees only
  * delivered events; [[settle]] waits for delivery to stop. Bench counts
  * jobs per group; JobProfile lists the jobs of its timed window. */
final class JobLog extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, JobLog.Job]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      executions.put(x.executionId.toString, x.description)
      ()
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    // a JDK frame (a broadcast's CompletableFuture, which the scheduler
    // writes as a zero-partition job's description) names no caller
    def named(k: String) = prop(k).filterNot(JobLog.JdkFrame.matches)
    starts.put(js.jobId, JobLog.Job(js.jobId, prop("spark.jobGroup.id"),
      named("spark.job.description").orElse(named("callSite.short"))
        .orElse(prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id))))
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?"),
      js.stageInfos.size, js.time, None))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    ends.put(je.jobId, je.time)
    ()
  }

  /** Every recorded job, by id; `end` is absent until delivered. */
  def jobs: Seq[JobLog.Job] = {
    import scala.jdk.CollectionConverters._
    starts.values.asScala.toSeq.sortBy(_.id)
      .map(j => j.copy(end = Option(ends.get(j.id)).map(_.longValue)))
  }

  /** Polls until no event has arrived for 1 s (10 s cap): the actions
    * have returned, only event delivery lags. */
  def settle(): Unit = {
    def seen = starts.size + ends.size
    var last = seen
    var stableMs = 0
    val deadline = System.nanoTime() + 10_000_000_000L
    while (stableMs < 1000 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = seen
      stableMs = if (n == last) stableMs + 50 else 0
      last = n
    }
  }
}

object JobLog {
  /** A short-form call site in a `.java` file: graft and the flows that
    * drive it are Scala, so such a frame is the JDK's. */
  private val JdkFrame = """\S+ at [\w$]+\.java:\d+""".r

  final case class Job(id: Int, group: Option[String], desc: String, stages: Int,
      start: Long, end: Option[Long])
}
