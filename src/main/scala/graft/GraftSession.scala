package graft

import org.apache.spark.sql.SparkSession

/** The local session the dev mains (Bench, Verify, JobProfile,
  * PlanDump) share: `local[cpus]` with `cpus` shuffle partitions,
  * nanosecond parquet timestamps read as longs, UTC session time, no
  * UI, and graft's SQL functions registered. */
object GraftSession {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.GraftExtensions.register(spark) // SQL surface: graft_dot
    spark
  }
}
