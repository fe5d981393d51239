package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact contract: the stdout line stays compact
  * (bounded tail captures must keep it whole — round 8 lost the gate
  * header when per-query maps were inlined), the per-query maps live in
  * the side file, and the two oracle passes merge per-query min. */
class BenchArtifactSpec extends AnyFunSuite {

  private val timings = scala.collection.immutable.ListMap(
    "vq1_scan_filter" -> 0.5,
    "pq18_streaming_sessionize" -> 2.0, // a streaming row of SparkEntry.registry
    "vq14_dup_identifiers" -> 1.0)
  private val oracle = Map(
    "vq1_scan_filter" -> 0.1, "pq18_streaming_sessionize" -> 0.02,
    "vq14_dup_identifiers" -> 0.4)

  test("compact line: gate header first, totals split, ratio over matched batch rows, no per-query map") {
    val line = Bench.compactLine(timings, Some(oracle), Seq(3.5, 3.6), Seq("pq9_ann_bucketed"), "/sf")
    assert(line.startsWith("""{"metric":"batch_total","value":1.500"""))
    assert(line.contains(""""total":3.500""") && line.contains(""""streaming_total":2.000"""))
    assert(line.contains(""""oracle_batch_total":0.500"""))
    assert(line.contains(""""batch_vs_oracle":3.000""")) // 1.5 / 0.5, streaming excluded
    assert(line.contains(""""failed":["pq9_ann_bucketed"]"""))
    assert(!line.contains("vq1_scan_filter"), "per-query timings must stay out of stdout")
    assert(line.length < 500, s"compact line must stay tail-capture-safe, was ${line.length}")
  }

  test("cpu_ref: min of the sweep samples lands in both artifacts; absent when not measured") {
    val line = Bench.compactLine(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      floorSweeps = Seq(0.03), cpuRefSweeps = Seq(0.41, 0.39, 0.44))
    assert(line.contains(""""cpu_ref":0.390"""))
    assert(!Bench.compactLine(timings, Some(oracle), Seq(3.5), Nil, "/sf")
      .contains("cpu_ref"))
    val d = Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      cpuRefSweeps = Seq(0.41, 0.39))
    assert(d.contains(""""cpu_ref_sweeps":[0.410,0.390]""") &&
      d.contains(""""cpu_ref":0.390"""))
  }

  test("compact line without oracle omits the denominator fields") {
    val line = Bench.compactLine(timings, None, Seq(3.5), Nil, "/sf")
    assert(!line.contains("oracle") && line.contains(""""metric":"batch_total""""))
  }

  test("details file carries the per-query maps") {
    val d = Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf")
    assert(d.contains(""""vq14_dup_identifiers":1.000"""))
    assert(d.contains(""""oracle_queries""""))
    assert(JsonStr.parseFlatNumberMap(d).contains("vq1_scan_filter"))
  }

  test("job floor: floored ratio subtracts one floor per matched batch row; sweeps land in details") {
    val line = Bench.compactLine(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      floorSweeps = Seq(0.2, 0.1))
    assert(line.contains(""""job_floor":0.100""")) // min across sweeps
    // (1.5 - 0.1 * 2 matched batch rows) / 0.5 oracle seconds
    assert(line.contains(""""batch_vs_oracle_floored":2.600"""))
    assert(line.contains(""""batch_vs_oracle":3.000"""), "raw ratio must survive unchanged")
    val d = Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      floorSweeps = Seq(0.2, 0.1))
    assert(d.contains(""""job_floor_sweeps":[0.200,0.100]"""))
    assert(d.contains(""""job_floor":0.100"""))
    // floorless calls emit neither field (back-compat with old artifacts)
    assert(!Bench.compactLine(timings, Some(oracle), Seq(3.5), Nil, "/sf")
      .contains("job_floor"))
  }

  test("details carries per-query job counts when measured; omits the field when not") {
    val d = Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      queryJobs = Map("vq1_scan_filter" -> 3.0, "vq14_dup_identifiers" -> 1.5))
    assert(d.contains(""""query_jobs":{"vq14_dup_identifiers":1.500,"vq1_scan_filter":3.000}"""))
    assert(!Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf")
      .contains("query_jobs"))
  }

  test("details carries per-query raw AND floored ratios — floored denominator is max(oracle, floor x jobs)") {
    val d = Bench.detailsJson(timings, Some(oracle), Seq(3.5), Nil, "/sf",
      floorSweeps = Seq(0.1),
      queryJobs = Map("vq1_scan_filter" -> 3.0, "vq14_dup_identifiers" -> 1.5))
    // raw: plain spark/oracle per query
    assert(d.contains(""""query_ratio":{"pq18_streaming_sessionize":100.000,""" +
      """"vq14_dup_identifiers":2.500,"vq1_scan_filter":5.000}"""))
    // vq1: 3 jobs x 0.1 floor = 0.3 > 0.1 oracle -> 0.5/0.3; vq14's
    // 0.15 job floor < 0.4 oracle -> unchanged; pq18 has no job count
    // -> raw denominator
    assert(d.contains(""""query_ratio_floored":{"pq18_streaming_sessionize":100.000,""" +
      """"vq14_dup_identifiers":2.500,"vq1_scan_filter":1.667}"""))
    assert(!Bench.detailsJson(timings, None, Seq(3.5), Nil, "/sf")
      .contains("query_ratio"), "no oracle -> no ratio maps")
  }

  test("oracle passes merge per-query min; one-sided passes survive") {
    val a = Map("q1" -> 1.0, "q2" -> 5.0)
    val b = Map("q1" -> 2.0, "q3" -> 0.5)
    assert(Bench.mergeOracle(Some(a), Some(b)) ==
      Some(Map("q1" -> 1.0, "q2" -> 5.0, "q3" -> 0.5)))
    assert(Bench.mergeOracle(Some(a), None) == Some(a))
    assert(Bench.mergeOracle(None, None).isEmpty)
  }
}
