package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Records every Spark job started while attached: its job group (absent
  * for jobs launched outside one, such as streaming micro-batches), its
  * description, stage count, and start and end in epoch ms. Callbacks run
  * on the listener-bus thread, so a read sees only delivered events;
  * [[settle]] waits for delivery to stop. Bench counts jobs per group;
  * JobProfile lists the jobs of its timed window. */
final class JobLog extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, JobLog.Job]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    starts.put(js.jobId, JobLog.Job(js.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description").orElse(prop("callSite.short")).getOrElse("?"),
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
  final case class Job(id: Int, group: Option[String], desc: String, stages: Int,
      start: Long, end: Option[Long])
}
