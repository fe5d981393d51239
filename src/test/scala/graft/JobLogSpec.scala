package graft

import org.scalatest.funsuite.AnyFunSuite

class JobLogSpec extends AnyFunSuite {

  test("two actions inside a job group and one outside give two grouped records and one ungrouped") {
    val sc = TestSpark.spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      sc.setJobGroup("joblog-spec", "grouped")
      try (1 to 2).foreach(_ => sc.parallelize(1 to 10, 2).count())
      finally sc.clearJobGroup()
      sc.setJobDescription("joblog-spec-outside")
      try sc.parallelize(1 to 10, 2).count()
      finally sc.setJobDescription(null)
      log.settle()
    } finally sc.removeSparkListener(log)
    val grouped = log.jobs.filter(_.group.contains("joblog-spec"))
    val outside = log.jobs.filter(_.desc == "joblog-spec-outside")
    assert(grouped.size == 2 && grouped.forall(_.desc == "grouped"))
    assert(outside.size == 1 && outside.head.group.isEmpty)
    assert((grouped ++ outside).forall(j =>
      j.stages == 1 && j.end.exists(_ >= j.start)))
  }

  test("a job with no group and no description records its call site") {
    val sc = TestSpark.spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      sc.parallelize(1 to 10, 2).count()
      log.settle()
    } finally sc.removeSparkListener(log)
    val mine = log.jobs.filter(_.desc.contains("JobLogSpec.scala"))
    assert(mine.size == 1 && mine.head.group.isEmpty, log.jobs.mkString("\n"))
    assert(mine.head.desc.startsWith("count at "), mine.head.desc)
  }

  test("every job of a DataFrame action, AQE map stages included, records the action's call site") {
    val spark = TestSpark.spark
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      spark.range(0, 1000, 1, 4).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count().collect()
      log.settle()
    } finally spark.sparkContext.removeSparkListener(log)
    assert(log.jobs.size >= 2, log.jobs.mkString("\n"))
    assert(log.jobs.forall(_.desc.startsWith("collect at JobLogSpec.scala:")), log.jobs.mkString("\n"))
  }

  test("a job submitted through the driver pool records the submitter's job group") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      // every pool thread exists, created or last used under group A
      sc.setJobGroup("pool-spec-A", "A")
      try DriverPool.awaitAll((1 to DriverPool.Threads).map(_ => DriverPool.submit(spark)(())))
      finally sc.clearJobGroup()
      sc.setJobGroup("pool-spec-B", "B")
      try DriverPool.awaitAll(Seq(DriverPool.submit(spark)(sc.parallelize(1 to 10, 2).count())))
      finally sc.clearJobGroup()
      log.settle()
    } finally sc.removeSparkListener(log)
    val mine = log.jobs.filter(_.group.exists(_.startsWith("pool-spec")))
    assert(mine.map(j => (j.group, j.desc)) == Seq((Some("pool-spec-B"), "B")), log.jobs.mkString("\n"))
  }

  test("a broadcast of an empty relation is named by its SQL execution, not a JDK frame") {
    val spark = TestSpark.spark
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      spark.range(0, 100, 1, 2).join(org.apache.spark.sql.functions.broadcast(empty),
        org.apache.spark.sql.functions.col("id") === org.apache.spark.sql.functions.col("k"),
        "left").collect()
      log.settle()
    } finally spark.sparkContext.removeSparkListener(log)
    assert(log.jobs.exists(_.stages == 0), log.jobs.mkString("\n"))
    assert(log.jobs.forall(_.desc.startsWith("collect at JobLogSpec.scala:")),
      log.jobs.mkString("\n"))
  }
}
