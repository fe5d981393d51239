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
    // every job SUBMITTED in the timed window, grouped or not (streaming
    // micro-batches run outside any job group)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val until = System.currentTimeMillis()
    log.settle()
    val all = log.jobs.filter(j => j.start >= from && j.start <= until)
    println(f"== $name: ${secs}%.2f s, ${all.size} jobs ==")
    all.foreach { j =>
      val dur = (j.end.getOrElse(j.start) - j.start) / 1000.0
      println(
        f"job ${j.id}%4d  $dur%7.3f s  stages=${j.stages}%2d  ${j.desc.take(140)}")
    }
    CacheScope.releaseSession()
    spark.stop()
  }
}
