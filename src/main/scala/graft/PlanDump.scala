package graft


/**
 * Dev aid: dump `.explain("formatted")` for named declared queries to
 * text files — the before/after plan evidence the optimization rounds
 * commit under `plans/<round>/`.
 *
 * Usage: runMain graft.PlanDump <outDir> <suffix> <name>[,<name>...]
 * Env: SPARK_GRAFT_SF_DIR (data dir, default sf0.1), SPARK_GRAFT_CPUS.
 *
 * Each file is `<outDir>/<name>_<suffix>.txt`. Queries whose builder
 * runs eager side-effecting stages (the maintaining-builder rows)
 * execute those stages while building; the dumped plan is then the
 * returned emission's plan — the internal per-stage plans are captured
 * by the lazy one-shot rows that share the same operators.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <names,comma-separated>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), text)
      System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
      CacheScope.releaseSession()
    }
    spark.stop()
  }
}
