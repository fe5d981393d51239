package flowbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One recorded span: a timed call into one layer of the program. */
final case class Span(name: String, seq: Int, iteration: Int, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span by the listener. */
final case class JobWork(jobs: Int, stages: Int, jobUnionS: Double,
    executorCpuS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long)
object JobWork { val zero: JobWork = JobWork(0, 0, 0.0, 0.0, 0L, 0L, 0L, 0L) }

/**
 * Records spans around the benchmark's calls into the program, kept in
 * memory and read out when the run ends. Not installed, `span` is a bare
 * call: untraced runs pay nothing and register no listener. Installed, it
 * records only while `on` is set, so a traced run can interleave untraced
 * iterations and measure the trace overhead.
 *
 * Each traced span runs under the job group `flowbench:<name>#<seq>`.
 * Spark jobs are attributed to the span whose group they carry; jobs
 * submitted from the program's own worker threads inherit a stale group,
 * so those fall back to the span whose interval holds their submit time
 * (spans never overlap: the benchmark calls one layer at a time).
 */
final class Tracer(sc: SparkContext, val installed: Boolean) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val listener = new WorkListener
  if (installed) sc.addSparkListener(listener)

  /** recording; only ever set on an installed tracer */
  var on: Boolean = false
  /** the timed iteration the next spans belong to */
  var iteration: Int = 0

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val seq = recorded.size
      sc.setJobGroup(s"flowbench:$name#$seq", name, interruptOnCancel = false)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        recorded += Span(name, seq, iteration, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
        sc.clearJobGroup()
      }
    }

  /** Spark work per span, keyed by span seq. Drains the listener bus
   *  first so every finished job's events have been seen. */
  def work(): Map[Int, JobWork] = {
    if (!installed) return Map.empty
    org.apache.spark.FlowBenchBus.drain(sc)
    val bySeq = recorded.map(s => s.seq -> s).toMap
    def owner(j: listener.Job): Option[Span] =
      j.group.flatMap { g =>
        val seq = scala.util.Try(g.substring(g.lastIndexOf('#') + 1).toInt).toOption
        seq.flatMap(bySeq.get).filter(s => j.submitMs >= s.startMs && j.submitMs <= s.endMs)
      }.orElse(recorded.find(s => j.submitMs >= s.startMs && j.submitMs <= s.endMs))
    // jobs that did not succeed are left out: adaptive execution cancels
    // query stages it no longer needs, and how many it starts first is a
    // race, so counting them would make job counts differ between runs
    listener.jobs.values.toSeq.filter(_.succeeded).flatMap(j => owner(j).map(_ -> j))
      .groupBy(_._1).map { case (span, js) =>
        val jobs = js.map(_._2)
        val stages = jobs.flatMap(_.stageIds).distinct.flatMap(listener.stages.get)
        // the union of the span's job intervals, clipped to the span
        val iv = jobs.map(j => (j.submitMs.max(span.startMs), j.endMs.min(span.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var union = 0L
        var (curA, curB) = (-1L, -1L)
        iv.foreach { case (a, b) =>
          if (a > curB) { union += (curB - curA).max(0L); curA = a; curB = b }
          else curB = curB.max(b)
        }
        union += (curB - curA).max(0L)
        span.seq -> JobWork(jobs.size, stages.size, union / 1e3,
          stages.map(_.cpuNs).sum / 1e9, stages.map(_.shuffleRead).sum,
          stages.map(_.shuffleWrite).sum, stages.map(_.spill).sum,
          stages.map(_.output).sum)
      }
  }

  def close(): Unit = if (installed) sc.removeSparkListener(listener)

  private final class WorkListener extends SparkListener {
    final case class Job(group: Option[String], submitMs: Long, stageIds: Seq[Int],
        var endMs: Long, var succeeded: Boolean = false)
    final case class Stage(cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
        spill: Long, output: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.HashMap.empty[Int, Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("flowbench:"))
      jobs(e.jobId) = Job(group, e.time, e.stageIds, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.succeeded = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null && e.stageInfo.failureReason.isEmpty)
        stages(e.stageInfo.stageId) = Stage(m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }
}

/** JVM- and host-level readings. */
object Host {

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Sum of the heap pools' peak usage since JVM start. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The scheduler floor: median wall time of a no-op one-row job. */
  def jobFloorS(spark: org.apache.spark.sql.SparkSession, reps: Int = 7): Double = {
    spark.range(1).write.format("noop").mode("overwrite").save() // warm
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** A fixed single-thread integer spin (xorshift64*, constant count):
   *  its drift between runs is host-speed drift, never program drift. */
  def cpuRefS(): Double = {
    def spin(): (Double, Long) = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < 50000000L) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        x *= 0x2545F4914F6CDD1DL
        i += 1
      }
      ((System.nanoTime() - t0) / 1e9, x)
    }
    val (_, warm) = spin() // JIT warm-up, dropped
    val (seconds, x) = spin()
    if (x != warm) sys.error("cpu_ref spin diverged")
    seconds
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Bytes and regular-file count under a directory tree. */
  def dirStats(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }.toSeq
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    } finally s.close()
  }
}
