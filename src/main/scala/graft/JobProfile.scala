package graft


/**
 * Dev aid: run ONE declared query (warmup at sf0.001, then once timed
 * at SPARK_GRAFT_SF_DIR) and print every Spark job it launched —
 * (jobId, seconds, #stages, description/callsite) — so a row's job
 * count is attributable line by line instead of guessed from totals.
 *
 * Usage: runMain graft.JobProfile <queryName>
 */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: JobProfile <queryName>")
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    // warmup — same env contract as Bench (SPARK_GRAFT_WARM_DIR
    // overrides; VERDICT r21 nit: dev mains must honor the env too)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    CacheScope.releaseSession()
    // listener callbacks run on the bus thread; everything shared with
    // the main thread is volatile / concurrent (a plain var would have
    // no happens-before edge and could silently drop the whole profile)
    case class J(id: Int, desc: String, stages: Int, start: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var recording = false
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (recording) {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs.put(js.jobId, J(js.jobId, d, js.stageInfos.size, js.time))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobEnds.put(je.jobId, je.time)
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    recording = true
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    recording = false
    Thread.sleep(1500) // drain listener bus
    import scala.jdk.CollectionConverters._
    val all = jobs.values().asScala.toSeq.sortBy(_.id)
    println(f"== $name: ${secs}%.2f s, ${all.size} jobs ==")
    all.foreach { j =>
      val dur = (jobEnds.getOrDefault(j.id, j.start) - j.start) / 1000.0
      println(
        f"job ${j.id}%4d  $dur%7.3f s  stages=${j.stages}%2d  ${j.desc.take(140)}")
    }
    CacheScope.releaseSession()
    spark.stop()
  }
}
