package graft.streaming

import graft.TestSpark
import graft.llm.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Incremental per-stratum sampling laws:
 *
 *  - UNION LAW: after merging batches B1..Bn (any boundaries), the
 *    table equals topKPerStratum(B1 ∪ … ∪ Bn) — min-k is a
 *    semilattice;
 *  - the streaming sink maintains the same table through real
 *    micro-batches;
 *  - replay idempotence: re-merging a delivered batch changes nothing;
 *  - knob drift (salt or k) is refused by the stamps.
 */
class StreamingSampleSpec extends AnyFunSuite {
  import TestSpark.spark

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "source")

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_ssample").resolve(name).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("union law: three arbitrary batch boundaries converge to the one-shot sample; replay changes nothing") {
    val tbl = "graft_ssample_union"
    try {
      val expect = rows(Sampling.topKPerStratum(docs, "doc_id", "source",
        k = 5, salt = "ss"))
      Seq(0, 1, 2).foreach { m =>
        StreamingSample.mergeBatch(docs.filter(pmod(col("doc_id"), lit(3)) === m),
          "doc_id", "source", k = 5, salt = "ss", tbl, tmp(tbl))
        ()
      }
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss")) == expect,
        "batch merges must equal the one-shot batch sample")
      // replay: merge batch 1 again — idempotent
      StreamingSample.mergeBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 1),
        "doc_id", "source", k = 5, salt = "ss", tbl, tmp(tbl))
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss")) == expect,
        "a replayed batch must not change the sample")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("streaming sink: micro-batches maintain the table to the batch law") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tbl = "graft_ssample_stream"
    try {
      val data = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (b1, b2) = data.splitAt(data.length / 2)
      val input = MemoryStream[(Long, String)]
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = StreamingSample.sink(
          input.toDF().toDF("doc_id", "source"), "doc_id", "source",
          k = 5, salt = "ss2", tbl, tmp(tbl),
          onBatch = (n, _) => counts.synchronized { counts += n; () })
        .option("checkpointLocation", tmp("chk"))
        .start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val expect = rows(Sampling.topKPerStratum(docs, "doc_id", "source",
        k = 5, salt = "ss2"))
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss2")) == expect)
      assert(counts.nonEmpty && counts.last == expect.size)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("merges swap locations, never drop the table: stamps survive, one prior generation is retained, older ones reclaim") {
    val tbl = "graft_ssample_swap"
    val base = tmp(tbl)
    def gens(): Set[String] = {
      val parent = new java.io.File(base).getParentFile
      parent.listFiles().map(_.getName)
        .filter(n => n == tbl || n.startsWith(tbl + "-v")).toSet
    }
    try {
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "source", k = 5, salt = "ss4", tbl, base)
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1),
        "doc_id", "source", k = 5, salt = "ss4", tbl, base)
      // second merge wrote a -v sibling and retained the first gen
      assert(gens().size == 2, s"one prior generation retained: ${gens()}")
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2),
        "doc_id", "source", k = 5, salt = "ss4", tbl, base)
      // third merge reclaimed the first gen: current + previous only
      assert(gens().size == 2, s"older generations must reclaim: ${gens()}")
      assert(!gens().contains(tbl),
        "the first-generation directory is two merges old and must be gone")
      // the table was never dropped, so the creation stamps survived
      // every swap and the final sample equals the one-shot law
      val expect = rows(Sampling.topKPerStratum(docs, "doc_id", "source",
        k = 5, salt = "ss4"))
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss4")) == expect)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("graceMs pins a superseded generation across later merges; the stamped grace is honored per entry") {
    val tbl = "graft_ssample_grace"
    val base = tmp(tbl)
    def gens(): Set[String] = {
      val parent = new java.io.File(base).getParentFile
      parent.listFiles().map(_.getName)
        .filter(n => n == tbl || n.startsWith(tbl + "-v")).toSet
    }
    try {
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "source", k = 5, salt = "ss6", tbl, base)
      // merges 2 and 3 retire their predecessors with a LONG grace:
      // unlike the default one-generation window, the first generation
      // must survive BOTH later merges (a slow concurrent reader's
      // listing outliving several swaps — the case the stamp exists for)
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1),
        "doc_id", "source", k = 5, salt = "ss6", tbl, base,
        graceMs = 3600000L)
      StreamingSample.mergeBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2),
        "doc_id", "source", k = 5, salt = "ss6", tbl, base,
        graceMs = 3600000L)
      assert(gens().size == 3,
        s"both superseded generations must survive their grace: ${gens()}")
      // explicit operator override reclaims everything now
      graft.llm.IndexStore.vacuum(spark, tbl, 0L)
      assert(gens().size == 1, s"override vacuum must reclaim: ${gens()}")
      val expect = rows(Sampling.topKPerStratum(docs, "doc_id", "source",
        k = 5, salt = "ss6"))
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss6")) == expect)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a stamp-less table is refused as foreign — merges can no longer create that state") {
    import spark.implicits._
    val tbl = "graft_ssample_foreign"
    try {
      Seq((1L, "src0")).toDF("doc_id", "source")
        .write.option("path", tmp(tbl)).format("parquet").saveAsTable(tbl)
      val e = intercept[Exception] {
        StreamingSample.mergeBatch(docs, "doc_id", "source", k = 5,
          salt = "ss5", tbl, tmp(tbl))
      }
      assert(e.getMessage.contains("not a StreamingSample table"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("knob drift is refused by the stamps") {
    val tbl = "graft_ssample_drift"
    try {
      StreamingSample.mergeBatch(docs, "doc_id", "source", k = 5,
        salt = "ss3", tbl, tmp(tbl))
      val e1 = intercept[Exception] {
        StreamingSample.mergeBatch(docs, "doc_id", "source", k = 6,
          salt = "ss3", tbl, tmp(tbl))
      }
      assert(e1.getMessage.contains("k=5"))
      val e2 = intercept[Exception] {
        StreamingSample.sample(spark, tbl, 5, "other")
      }
      assert(e2.getMessage.contains("salt=ss3"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // ---- weighted merge (max-k over sequential-Poisson priorities) ----

  private val wdocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "source", "n_chars")

  private def wrows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("weighted union law: three batch boundaries converge to the one-shot weighted sample; replay changes nothing") {
    val tbl = "graft_ssample_wunion"
    try {
      val expect = wrows(Sampling.weightedTopKPerStratum(wdocs, "doc_id",
        "source", "n_chars", k = 5, salt = "sw"))
      Seq(0, 1, 2).foreach { m =>
        StreamingSample.mergeBatchWeighted(
          wdocs.filter(pmod(col("doc_id"), lit(3)) === m),
          "doc_id", "source", "n_chars", k = 5, salt = "sw", tbl, tmp(tbl))
        ()
      }
      assert(wrows(StreamingSample.sampleWeighted(spark, tbl, 5, "sw",
        "n_chars")) == expect,
        "weighted batch merges must equal the one-shot weighted sample")
      StreamingSample.mergeBatchWeighted(
        wdocs.filter(pmod(col("doc_id"), lit(3)) === 1),
        "doc_id", "source", "n_chars", k = 5, salt = "sw", tbl, tmp(tbl))
      assert(wrows(StreamingSample.sampleWeighted(spark, tbl, 5, "sw",
        "n_chars")) == expect,
        "a replayed weighted batch must not change the sample")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("weighted streaming sink maintains the table to the batch law") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tbl = "graft_ssample_wstream"
    try {
      val data = wdocs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val (b1, b2) = data.splitAt(data.length / 2)
      val input = MemoryStream[(Long, String, Long)]
      val q = StreamingSample.sinkWeighted(
          input.toDF().toDF("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", k = 5, salt = "sw2", tbl, tmp(tbl))
        .option("checkpointLocation", tmp("wchk"))
        .start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val expect = wrows(Sampling.weightedTopKPerStratum(wdocs, "doc_id",
        "source", "n_chars", k = 5, salt = "sw2"))
      assert(wrows(StreamingSample.sampleWeighted(spark, tbl, 5, "sw2",
        "n_chars")) == expect)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a conflicting replayed weight folds to the max, deterministically") {
    import spark.implicits._
    val tbl = "graft_ssample_wconflict"
    try {
      StreamingSample.mergeBatchWeighted(
        Seq((1L, "s", 10L), (2L, "s", 20L)).toDF("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", k = 5, salt = "swc", tbl, tmp(tbl))
      // key 1 re-delivered with a SMALLER weight: the max (10) must hold
      StreamingSample.mergeBatchWeighted(
        Seq((1L, "s", 4L), (3L, "s", 30L)).toDF("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", k = 5, salt = "swc", tbl, tmp(tbl))
      val got = wrows(StreamingSample.sampleWeighted(spark, tbl, 5, "swc",
        "n_chars")).map(t => t._1 -> t._3).toMap
      assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("uniform and weighted tables refuse each other's calls via the mode stamp") {
    val tbl = "graft_ssample_mode"
    try {
      StreamingSample.mergeBatch(docs, "doc_id", "source", k = 5,
        salt = "sm", tbl, tmp(tbl))
      val e1 = intercept[Exception] {
        StreamingSample.mergeBatchWeighted(wdocs, "doc_id", "source",
          "n_chars", k = 5, salt = "sm", tbl, tmp(tbl))
      }
      assert(e1.getMessage.contains("mode=uniform"))
      val e2 = intercept[Exception] {
        StreamingSample.sampleWeighted(spark, tbl, 5, "sm", "n_chars")
      }
      assert(e2.getMessage.contains("mode=uniform"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a weighted table refuses a different weight column") {
    val tbl = "graft_ssample_wcol"
    try {
      StreamingSample.mergeBatchWeighted(wdocs, "doc_id", "source",
        "n_chars", k = 5, salt = "swd", tbl, tmp(tbl))
      val e = intercept[Exception] {
        StreamingSample.sampleWeighted(spark, tbl, 5, "swd", "other_w")
      }
      assert(e.getMessage.contains("weighted:n_chars"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a merge into an existing table runs at most 3 jobs") {
    val tbl = "graft_ssample_jobs"
    val sc = spark.sparkContext
    try {
      val path = tmp(tbl)
      StreamingSample.mergeBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "source", k = 5, salt = "ss", tbl, path)
      val group = s"ssample-jobs-${java.util.UUID.randomUUID()}"
      val log = new graft.JobLog
      sc.addSparkListener(log)
      try {
        sc.setJobGroup(group, "StreamingSampleSpec merge")
        try StreamingSample.mergeBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "source", k = 5, salt = "ss", tbl, path)
        finally sc.clearJobGroup()
        log.settle()
      } finally sc.removeSparkListener(log)
      val jobs = log.jobs.filter(_.group.contains(group))
      assert(jobs.size <= 3, jobs.mkString("\n"))
      assert(rows(StreamingSample.sample(spark, tbl, 5, "ss")) ==
        rows(Sampling.topKPerStratum(docs, "doc_id", "source", k = 5, salt = "ss")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
