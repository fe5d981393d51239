package flowbench

import graft.sink.Hosts
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * The benchmark's JVM side: sets up one workload over generated inputs,
 * times the program's public entry points for at least `--seconds`, checks
 * every output, and writes a JSON report (metrics, counts, checks, digest).
 *
 *   flowbench.Main --workload W --input DIR --work DIR --report FILE
 *       --seconds S --trace 0|1 --seed N --cpus C [--port P]
 *
 * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced it
 * alternates untraced and traced iterations (spans + a SparkListener) and
 * reports the per-layer metrics plus the trace overhead: traced over
 * untraced median run time, both from this run.
 */
object Main {

  final case class Args(workload: String, input: String, work: String, report: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int, port: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("input"), req("work"), req("report"), req("seconds").toDouble,
      req("trace") == "1", req("seed").toLong, m.getOrElse("cpus", "4").toInt,
      m.getOrElse("port", "0").toInt)
  }

  /** metric name → (value, unit) */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += what }
    }
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = SparkSession.builder()
      .appName("flowbench")
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    val tr = new Tracer(spark.sparkContext, installed = args.trace)
    val out = new Outcome
    val metrics: Metrics = mutable.LinkedHashMap.empty
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val digest =
      try args.workload match {
        case "curation-batches" =>
          runCuration(spark, args, tr, out, metrics, detail, jvmStartMs)
        case w if w.startsWith("study-") =>
          runStudy(spark, args, tr, out, metrics, detail, jvmStartMs)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally tr.close()
    if (args.trace) {
      metrics("jvm.gc_s") = (detail("gc_s").asInstanceOf[Double], "s")
      metrics("jvm.peak_heap_mb") = (Host.peakHeapMb(), "MB")
      metrics("jvm.peak_rss_mb") = (Host.peakRssMb(), "MB")
    }
    val floor = Host.jobFloorS(spark)
    val cpuRef = Host.cpuRefS()
    if (args.trace) {
      metrics("host.job_floor_s") = (floor, "s")
      metrics("host.cpu_ref_s") = (cpuRef, "s")
    }
    detail("job_floor_s") = floor
    detail("cpu_ref_s") = cpuRef
    spark.stop()
    val report = mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "digest" -> digest,
      "failures" -> out.failures.take(20).toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> detail)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(args.report), report)
  }

  /** Iterations until `seconds` of timed work and at least `minIters`. */
  private def loop(seconds: Double, minIters: Int)(body: Int => Double): Unit = {
    var timed = 0.0
    var i = 0
    while (i < minIters || timed < seconds) {
      timed += body(i)
      i += 1
    }
  }

  /** The highest percentile with at least ten samples beyond it (the
   *  maximum when there are fewer than eleven): (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Median of the last quarter over median of the first quarter. */
  def growth(xs: Seq[Double]): Double = {
    val q = (xs.size / 4).max(1)
    Host.median(xs.takeRight(q)) / Host.median(xs.take(q))
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  // ------------------------------------------------------------- study

  private def runStudy(spark: SparkSession, args: Args, tr: Tracer, out: Outcome,
      metrics: Metrics, detail: mutable.LinkedHashMap[String, Any], jvmStartMs: Long): String = {
    val w = args.workload
    val (expected, inputRows, prefix) = Study.expected(args.input)
    val expectedTotal = expected.values.sum
    val stub = if (w == "study-bundles") None else Some(new Stub(args.port, args.cpus, args.seed))
    try {
      // the retry path runs, without the reference's 35 s pause
      sys.props("graft.http.backoff429Millis") = "20"
      val host = stub.map(_ => Hosts.load(s"${args.input}/fhir_hosts", _ => ())("stub"))
      val studyId = "whistle-output" // loadfhir names the study after the document
      val noInvalidRefs = (dir: String) =>
        !Files.exists(Paths.get(dir, "invalid-references.json"))

      def loadChecks(o: Study.PlayOut, acked: Map[String, Set[String]]): Unit = {
        out.check(o.rc == 0, s"loadResources exit ${o.rc}")
        val got = acked.map { case (t, ids) => t -> ids.size.toLong }
        out.check(got == expected, s"server resources per type $got != expected $expected")
        val missing = (expectedTotal - got.values.sum).max(0L)
        out.attempted += expectedTotal
        out.failed += missing
        out.check(Study.studyIds(o.outDir, studyId, "stub") == acked,
          "study_ids.json differs from the ids the server acknowledged")
        out.check(noInvalidRefs(o.outDir), "invalid-references.json written")
      }

      // reload: one cold load primes the server and the id cache
      val primeDir = s"${args.work}/prime"
      var primeAcked = Map.empty[String, Set[String]]
      if (w == "study-reload") {
        val o = Study.loadfhir(spark, tr, s"${args.input}/whistle-output.json", primeDir,
          host.get, prefix, studyId)
        primeAcked = stub.get.ackedIds
        loadChecks(o, primeAcked)
      }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val gc0 = Host.gcSeconds()

      val untraced = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[(Int, Double)]
      val stubDeltas = mutable.ArrayBuffer.empty[Map[String, Double]]
      // traced passes: (whistle-input document bytes, bundle bytes, bundle files)
      val written = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val digests = mutable.LinkedHashSet.empty[String]
      val editSets = 8
      // traced: a cold untraced pass, then traced and untraced alternately
      loop(args.seconds, if (args.trace) 3 else 1) { i =>
        val on = args.trace && i % 2 == 1
        tr.on = on
        tr.iteration = i
        val (doc, outDir) = w match {
          // a seed-chosen 5 % of the observations edited since the priming load
          case "study-reload" =>
            (s"${args.input}/edits/${i % editSets}/whistle-output.json", primeDir)
          case "study-load" => (s"${args.input}/whistle-output.json", s"${args.work}/out-$i")
          case _ => (s"${args.input}/study.yaml", s"${args.work}/out-$i")
        }
        stub.foreach(s => if (w == "study-load") s.reset() else s.resetAttempts())
        val before = stub.map(_.counters).getOrElse(Map.empty)
        val t0 = System.nanoTime()
        val o =
          if (w == "study-bundles")
            Study.play(spark, tr, doc, args.input, outDir, None, bundles = true)
          else Study.loadfhir(spark, tr, doc, outDir, host.get, prefix, studyId)
        val dt = (System.nanoTime() - t0) / 1e9
        tr.on = false
        val after = stub.map(_.counters).getOrElse(Map.empty)
        if (on) {
          traced += i -> dt
          stubDeltas += after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        } else untraced += dt
        w match {
          case "study-bundles" =>
            val (counts, dg, bytes) = Study.bundleCounts(outDir)
            out.check(counts == expected, s"bundle entries per type $counts != expected $expected")
            out.attempted += expectedTotal
            out.failed += expected.map { case (t, n) => (n - counts.getOrElse(t, 0L)).abs }.sum
            out.check(noInvalidRefs(outDir), "invalid-references.json written")
            digests += dg
            if (on) written += ((Host.dirStats(s"$outDir/whistle-input")._1, bytes,
              Host.dirStats(s"$outDir/bundles")._2))
          case "study-load" =>
            loadChecks(o, stub.get.ackedIds)
            digests += Study.sha(new String(Files.readAllBytes(
              Paths.get(outDir, "study_ids.json")), StandardCharsets.UTF_8))
          case _ =>
            val acked = stub.get.ackedIds
            loadChecks(o, acked)
            out.check(after("post") == before("post"),
              s"reload POSTed ${after("post") - before("post")} resources")
            out.check(acked == primeAcked, "reload changed the server's ids")
            digests += Study.sha(new String(Files.readAllBytes(
              Paths.get(outDir, "study_ids.json")), StandardCharsets.UTF_8))
        }
        if (w != "study-reload") deleteTree(outDir)
        dt
      }
      out.check(digests.size == 1, s"iterations disagree: ${digests.size} output digests")
      detail("gc_s") = Host.gcSeconds() - gc0
      detail("pass_s") = untraced.toSeq

      if (!args.trace) {
        val runS = Host.median(untraced.toSeq)
        val (tailS, tailPct) = tail(untraced.toSeq)
        metrics("setup_s") = (setupS, "s")
        metrics("run_s") = (runS, "s")
        metrics("records_per_s") = (inputRows / runS, "1/s")
        // a study play is this flow's unit of work: its "batch"
        metrics("batch_p50_s") = (runS, "s")
        metrics("batch_tail_s") = (tailS, "s")
        metrics("batch_growth") = (growth(untraced.toSeq), "ratio")
        detail("batch_tail_percentile") = tailPct
        detail("batch_samples") = untraced.size
      } else {
        studyLayers(tr, traced.map(_._1).toSet, stubDeltas.toSeq, written.toSeq, metrics)
        curationLayers(tr, Nil, Nil, metrics)
        // the first (cold) play is left out of the comparison
        metrics("trace.overhead") =
          (Host.median(traced.map(_._2).toSeq) / Host.median(untraced.drop(1).toSeq), "ratio")
      }
      digests.headOption.getOrElse("")
    } finally stub.foreach(_.stop())
  }

  /** Per-layer metrics of the whistler flow: per traced play, summed per
   *  span name, then the median over traced plays. */
  private def studyLayers(tr: Tracer, tracedIters: Set[Int],
      stubDeltas: Seq[Map[String, Double]], written: Seq[(Long, Long, Long)],
      metrics: Metrics): Unit = {
    val work = tr.work()
    val spans = tr.spans.filter(s => tracedIters(s.iteration))
    def per(name: String)(f: (Span, JobWork) => Double): Double =
      Host.median(tracedIters.toSeq.sorted.map { i =>
        spans.filter(s => s.iteration == i && s.name == name)
          .map(s => f(s, work.getOrElse(s.seq, JobWork.zero))).sum
      })
    def m(name: String, metric: String, unit: String)(f: (Span, JobWork) => Double): Unit =
      metrics(s"$name.$metric") = (if (tracedIters.isEmpty) 0.0 else per(name)(f), unit)
    val wall = (s: Span, _: JobWork) => s.wallS
    val driver = (s: Span, w: JobWork) => (s.wallS - w.jobUnionS).max(0.0)
    val jobs = (_: Span, w: JobWork) => w.jobs.toDouble
    val stages = (_: Span, w: JobWork) => w.stages.toDouble
    for (n <- Seq("sources.dd", "harmony.conceptmaps")) {
      m(n, "wall_s", "s")(wall); m(n, "driver_s", "s")(driver); m(n, "jobs", "count")(jobs)
    }
    m("extract", "wall_s", "s")(wall)
    m("extract", "driver_s", "s")(driver)
    m("extract", "jobs", "count")(jobs)
    m("extract", "stages", "count")(stages)
    m("extract", "executor_cpu_s", "s")((_, w) => w.executorCpuS)
    m("extract", "shuffle_write_bytes", "bytes")((_, w) => w.shuffleWriteBytes.toDouble)
    // the whistle-input document is written from the driver, not by a job
    metrics("extract.output_bytes") = (Host.median(written.map(_._1.toDouble)), "bytes")
    m("project", "wall_s", "s")(wall)
    m("project", "executor_cpu_s", "s")((_, w) => w.executorCpuS)
    m("project", "shuffle_read_bytes", "bytes")((_, w) => w.shuffleReadBytes.toDouble)
    m("project", "shuffle_write_bytes", "bytes")((_, w) => w.shuffleWriteBytes.toDouble)
    m("project", "spill_bytes", "bytes")((_, w) => w.spillBytes.toDouble)
    m("sink.bundle", "wall_s", "s")(wall)
    m("sink.bundle", "jobs", "count")(jobs)
    // bundle text as written (the part files' bytes and count)
    metrics("sink.bundle.output_bytes") = (Host.median(written.map(_._2.toDouble)), "bytes")
    metrics("sink.bundle.files") = (Host.median(written.map(_._3.toDouble)), "count")
    m("sink.load", "wall_s", "s")(wall)
    m("sink.load", "driver_s", "s")(driver)
    m("sink.load", "jobs", "count")(jobs)
    m("sink.load", "stages", "count")(stages)
    val loadWall = metrics("sink.load.wall_s")._1
    val stubMed = (k: String) => Host.median(stubDeltas.map(_.getOrElse(k, 0.0)))
    metrics("sink.load.req_per_s") =
      (if (loadWall > 0) stubMed("requests") / loadWall else 0.0, "1/s")
    for ((k, unit) <- Seq("requests" -> "count", "post" -> "count", "put" -> "count",
        "status_429" -> "count", "retries" -> "count", "busy_s" -> "s", "bytes_in" -> "bytes"))
      metrics(s"stub.$k") = (stubMed(k), unit)
  }

  // ---------------------------------------------------------- curation

  private def runCuration(spark: SparkSession, args: Args, tr: Tracer, out: Outcome,
      metrics: Metrics, detail: mutable.LinkedHashMap[String, Any], jvmStartMs: Long): String = {
    val cur = new Curation(spark, args.input, args.work)
    val exp = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(args.input, "expected.json")))
    import scala.jdk.CollectionConverters._
    val kinds = exp.path("kinds").elements().asScala.map(_.asText()).toSeq
    val inputRows = exp.path("input_rows").asLong
    require(kinds.size == cur.batchFiles.size, s"${cur.batchFiles.size} batch files, ${kinds.size} kinds")
    cur.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val gc0 = Host.gcSeconds()

    val flows = mutable.ArrayBuffer.empty[(Boolean, Double, Seq[Double])] // traced, run_s, batches
    val digests = mutable.LinkedHashSet.empty[String]
    val stateAfter = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val maintainRuns = mutable.ArrayBuffer.empty[Boolean]
    loop(args.seconds, if (args.trace) 2 else 1) { f =>
      val on = args.trace && f % 2 == 1
      if (f > 0) cur.resetCorpus()
      tr.on = on
      tr.iteration = f
      val checks = new CurationChecks
      val emitted = mutable.ArrayBuffer.empty[Seq[(Int, Long, Long, Long, Long)]]
      val times = mutable.ArrayBuffer.empty[Double]
      var runS = 0.0
      cur.batchFiles.zipWithIndex.foreach { case (file, b) =>
        val rows =
          try {
            val o = cur.batch(tr, file)
            times += o.seconds
            runS += o.seconds
            o.rows
          } catch {
            case e: Exception =>
              out.failed += 1
              out.failures += s"batch $b threw: $e"
              Nil
          }
        out.attempted += 1
        emitted += rows
        if (on) stateAfter += cur.state(tr)
        if ((b + 1) % cur.maintainEvery == 0) {
          val t0 = System.nanoTime()
          val ran = cur.maintain(tr)
          runS += (System.nanoTime() - t0) / 1e9
          if (on) maintainRuns ++= ran
        }
      }
      tr.on = false
      // output checks, from the batch files themselves
      val texts = cur.batchFiles.map(cur.texts)
      emitted.zipWithIndex.foreach { case (rows, b) =>
        checks.batch(b, kinds(b) == "replay", rows.map(_._3).toSet, texts(b))
      }
      out.attempted += checks.checks
      out.failed += checks.failures.size
      out.failures ++= checks.failures
      digests += Study.sha(emitted.map(_.sorted.mkString(";")).mkString("\n"))
      flows += ((on, runS, times.toSeq))
      runS
    }
    out.check(digests.size == 1, s"flows disagree: ${digests.size} output digests")
    detail("gc_s") = Host.gcSeconds() - gc0
    val plain = flows.filter(!_._1)
    val batchTimes = plain.flatMap(_._3).toSeq
    detail("pass_s") = batchTimes
    if (!args.trace) {
      val runS = Host.median(plain.map(_._2).toSeq)
      val (tailS, tailPct) = tail(batchTimes)
      metrics("setup_s") = (setupS, "s")
      metrics("run_s") = (runS, "s")
      metrics("records_per_s") = (inputRows / runS, "1/s")
      metrics("batch_p50_s") = (Host.median(batchTimes), "s")
      metrics("batch_tail_s") = (tailS, "s")
      metrics("batch_growth") = (Host.median(plain.map(p => growth(p._3)).toSeq), "ratio")
      detail("batch_tail_percentile") = tailPct
      detail("batch_samples") = batchTimes.size
    } else {
      studyLayers(tr, Set.empty, Nil, Nil, metrics)
      curationLayers(tr, stateAfter.toSeq, maintainRuns.toSeq, metrics)
      metrics("trace.overhead") = (Host.median(flows.filter(_._1).map(_._2).toSeq) /
        Host.median(plain.map(_._2).toSeq), "ratio")
    }
    digests.headOption.getOrElse("")
  }

  /** Per-layer metrics of the curation flow (zeros when it did not run). */
  private def curationLayers(tr: Tracer, stateAfter: Seq[(Long, Long, Long)],
      maintainRuns: Seq[Boolean], metrics: Metrics): Unit = {
    val work = if (stateAfter.isEmpty) Map.empty[Int, JobWork] else tr.work()
    val batches = tr.spans.filter(_.name == "llm.batch")
      .map(s => s -> work.getOrElse(s.seq, JobWork.zero))
    val fields: Seq[(String, String, ((Span, JobWork)) => Double)] = Seq(
      ("wall_s", "s", p => p._1.wallS),
      ("driver_s", "s", p => (p._1.wallS - p._2.jobUnionS).max(0.0)),
      ("jobs", "count", p => p._2.jobs.toDouble),
      ("stages", "count", p => p._2.stages.toDouble),
      ("executor_cpu_s", "s", p => p._2.executorCpuS),
      ("shuffle_write_bytes", "bytes", p => p._2.shuffleWriteBytes.toDouble),
      ("spill_bytes", "bytes", p => p._2.spillBytes.toDouble))
    for ((f, unit, get) <- fields) {
      val xs = batches.map(get)
      metrics(s"llm.batch.median.$f") = (Host.median(xs), unit)
      metrics(s"llm.batch.total.$f") = (xs.sum, unit)
    }
    metrics("llm.batch.count") = (batches.size.toDouble, "count")
    val last = stateAfter.lastOption.getOrElse((0L, 0L, 0L))
    metrics("llm.state.index_rows") = (last._1.toDouble, "count")
    metrics("llm.state.state_bytes") = (last._2.toDouble, "bytes")
    metrics("llm.state.files") = (last._3.toDouble, "count")
    val maint = tr.spans.filter(_.name == "llm.maintain")
    metrics("llm.maintain.wall_s") = (maint.map(_.wallS).sum, "s")
    metrics("llm.maintain.runs") = (maintainRuns.count(identity).toDouble, "count")
    metrics("llm.maintain.bytes_rewritten") =
      (maint.map(s => work.getOrElse(s.seq, JobWork.zero).outputBytes.toDouble).sum, "bytes")
  }
}
