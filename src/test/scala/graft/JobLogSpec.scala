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
}
