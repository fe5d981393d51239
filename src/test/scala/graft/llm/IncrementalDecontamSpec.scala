package graft.llm

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental decontamination laws — the pq21/pq44 discipline applied
 * to pq25: the eval set's shingles persist as a bucketed index, corpus
 * batches audit against it one at a time, and a tiny eval-sized
 * matched-state table accumulates hits, so the audit NEVER rescans
 * earlier batches.
 *
 *  1. ACCUMULATION LAW: after auditing B1..Bn, containmentState ≡
 *     containment(B1 ∪ ... ∪ Bn) — schema, rows, rounding, spine.
 *  2. REPLAY: re-auditing a batch appends nothing.
 *  3. GROWING EVAL SETS: appended docs join the audit from the next
 *     batch on.
 *  4. PLAN: the audit join is exchange-free above the bucketed
 *     eval-index scan — only batch-derived shingles shuffle.
 *  5. KEY SET: every gate, annotation and audit on an unchanged index
 *     reads one broadcast; an oversized eval set fails fast.
 */
class IncrementalDecontamSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planSession(buckets: Int): SparkSession = {
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", buckets.toString)
    s2
  }

  private def tmpPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_idec").resolve(name).toString

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSeq.sortBy(_.mkString("|"))

  private def reachesBucketedScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
    case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
    case other => other.children.exists(reachesBucketedScan)
  }

  test("accumulation law: batched audits reproduce whole-corpus containment exactly; replays append nothing; eval appends join next batch; plan exchange-free") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    // the pq25 shape: verbatim copies (containment 1.0), fresh text
    // (0.0), mixed tails (between)
    val idstr = col("doc_id").cast("string")
    val eval = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat(lit("n"), idstr, lit("a n"), idstr, lit("b")).as("text")))
    val b1 = d.filter(col("doc_id") % 2 === 0)
    val b2 = d.filter(col("doc_id") % 2 === 1)
    val tbl = "graft_idec_eval"
    val mtbl = "graft_idec_matched"
    try {
      Decontamination.saveEvalShingleIndex(eval, "doc_id", "text",
        tbl, tmpPath(tbl), shingleN = 3, buckets = 8)

      // audit batch 1: state == containment over b1 alone
      val n1 = Decontamination.auditBatch(b1, "doc_id", "text",
        tbl, mtbl, tmpPath(mtbl))
      assert(n1 > 0L, "batch 1 must hit the copied eval docs")
      assert(sortedRows(Decontamination.containmentState(s2, tbl, mtbl,
          ordered = false)) ==
        sortedRows(Decontamination.containment(b1, eval, "doc_id", "text",
          shingleN = 3, ordered = false)),
        "state after B1 must equal containment(B1)")

      // audit batch 2: state == containment over the FULL corpus —
      // without ever rescanning batch 1
      Decontamination.auditBatch(b2, "doc_id", "text", tbl, mtbl, tmpPath(mtbl))
      assert(sortedRows(Decontamination.containmentState(s2, tbl, mtbl,
          ordered = false)) ==
        sortedRows(Decontamination.containment(d, eval, "doc_id", "text",
          shingleN = 3, ordered = false)),
        "state after B1+B2 must equal containment(B1 ∪ B2)")

      // replay: a re-audited batch appends zero pairs
      assert(Decontamination.auditBatch(b2, "doc_id", "text",
        tbl, mtbl, tmpPath(mtbl)) == 0L)

      // growing eval set: a new doc (verbatim copy of doc 20) joins
      // the audit from the NEXT batch on — b1's re-audit now matches
      // it (its shingles were never in the state)
      val newDoc = d.filter(col("doc_id") === 20)
        .select((col("doc_id") + 90000).as("doc_id"), col("text"))
      Decontamination.appendEvalDocs(newDoc, "doc_id", "text", tbl)
      val state0 = Decontamination.containmentState(s2, tbl, mtbl,
        ordered = false).filter(col("doc_id") === 90020L).collect()
      assert(state0.head.getDouble(3) == 0.0,
        "a just-appended doc has no matches yet")
      assert(Decontamination.auditBatch(b1, "doc_id", "text",
        tbl, mtbl, tmpPath(mtbl)) > 0L,
        "the new doc's shingles are new state — the re-audit matches them")
      val state1 = Decontamination.containmentState(s2, tbl, mtbl,
        ordered = false).filter(col("doc_id") === 90020L).collect()
      assert(state1.head.getDouble(3) == 1.0,
        "a verbatim copy reaches containment 1.0 once its batch is audited")

      // plan pin: the audit join shuffles ONLY the batch side — no
      // shuffle exchange sits between the bucketed eval-index scan and
      // the semi-join (the classify discipline)
      val batchSh = TextOps.shingleIndex(b2, "doc_id", "text", 3)
        .select("_sh").distinct()
      val hits = s2.table(tbl).filter(col("_sh").isNotNull)
        .join(batchSh, Seq("_sh"), "left_semi")
      val shuffles = hits.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.children.exists(reachesBucketedScan) => e
      }
      assert(shuffles.isEmpty,
        s"audit join re-shuffles the eval index:\n${hits.queryExecution.executedPlan}")

      // a table without the stamp refuses the audit
      s2.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('graft.shingleN')")
      val err = intercept[IllegalArgumentException] {
        Decontamination.auditBatch(b1, "doc_id", "text", tbl, mtbl, tmpPath(mtbl))
      }
      assert(err.getMessage.contains("graft.shingleN"))
    } finally Seq(tbl, mtbl).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("broadcast containment filter ≡ drop-id anti-join (rounded inclusive boundary, shingle-less and null rows kept); annotation twin ≡ gate join; filter plan is exchange-free") {
    val s2 = planSession(buckets = 8)
    import s2.implicits._
    val tbl = "graft_test_bcfilter_eval"
    val mtbl = "graft_test_bcfilter_matched" // unused, reserved name hygiene
    try {
      // eval doc "a b c d" at shingleN=3 → keys {"a b c", "b c d"}
      val eval = Seq((50000L, "a b c d")).toDF("doc_id", "text")
      Decontamination.saveEvalShingleIndex(eval, "doc_id", "text",
        tbl, tmpPath(tbl), shingleN = 3, buckets = 8)
      val batch = Seq[(java.lang.Long, String)](
        (1L, "a b c d"),       // 2/2 matched → 1.0, drops
        (2L, "a b c d e"),     // 2/3 matched → raw 0.66667 < 0.667 but
                               // ROUND3 = 0.667 ≥ 0.667 — must DROP
                               // (pins the rounded-inclusive decision)
        (3L, "x y z w"),       // 0 matched → keeps
        (4L, "a b"),           // too short to shingle → keeps
        (5L, null),            // null text → keeps
        (null, "a b c d")      // null id: filter drops it (text fully
                               // contained); gate annotation marks it
                               // clean with null stats (left-join shape)
      ).toDF("doc_id", "text")
      val thr = 0.667
      val filtered = Decontamination.containmentFilter(
        batch, "text", Decontamination.EvalKeys.ofIndex(s2, tbl), thr)
      val viaAnti = batch.join(
        Decontamination.containmentAgainstIndex(
            batch.filter(col("doc_id").isNotNull), "doc_id", "text", tbl,
            ordered = false)
          .filter(col("containment") >= thr)
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      // the anti-join form can't see the null-id row's drop (null never
      // joins); compare on the non-null-id rows and pin the null-id row
      // separately against the filter's per-row semantics
      assert(sortedRows(filtered.filter(col("doc_id").isNotNull)) ==
        sortedRows(viaAnti.filter(col("doc_id").isNotNull)))
      assert(sortedRows(filtered.filter(col("doc_id").isNotNull))
        .map(_.head) == Seq(3L, 4L, 5L).map(x => x: Any).sortBy(_.toString))
      assert(filtered.filter(col("doc_id").isNull).count() == 0L,
        "a fully-contained null-id row drops under the per-row filter")

      // zero-exchange pin: the broadcast filter never shuffles
      val exchanges = filtered.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"broadcast containment filter shuffles:\n${filtered.queryExecution.executedPlan}")

      // annotation twin ≡ the old per-doc-aggregate + spine + id join
      val annotated = Decontamination.annotateContainmentAgainstIndex(
        batch, "doc_id", "text", tbl, thr)
      val gate = Decontamination.containmentAgainstIndex(
          batch.filter(col("doc_id").isNotNull), "doc_id", "text", tbl,
          ordered = false)
        .withColumnRenamed("doc_id", "_gid")
      val oldForm = batch
        .join(gate, col("doc_id") === col("_gid"), "left")
        .drop("_gid")
        .withColumn("status",
          when(col("containment") >= thr, lit("contaminated"))
            .otherwise(lit("clean")))
      assert(annotated.columns.toSeq == oldForm.columns.toSeq)
      assert(sortedRows(annotated) == sortedRows(oldForm))
    } finally Seq(tbl, mtbl).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("eval-key set: one broadcast serves both builder batches and the audit on an unchanged index; an append swaps it in and a plan built before still runs") {
    import TestSpark.spark
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
      minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
      minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
      targetTokens = 64, shards = 4, salt = "idbc")
    val st = IncrementalPipeline.State("graft_idec_bc", tmpPath("state"))
    try {
      IncrementalPipeline.saveEvalIndex(
        docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 90000).as("doc_id"), col("text")),
        "doc_id", "text", cfg, st, buckets = 4)
      def keys = Decontamination.EvalKeys.ofIndex(spark, st.evalTable)
      def batch(b: DataFrame): Unit = IncrementalPipeline.releaseEmission(
        IncrementalPipeline.processBatch(b, "doc_id", "text", cfg, st,
          sampleK = 0, buckets = 4))
      batch(docs.filter(col("doc_id") % 2 === 0))
      val id = keys.bc.id
      batch(docs.filter(col("doc_id") % 2 === 1))
      Decontamination.auditBatch(docs, "doc_id", "text", st.evalTable,
        st.matchedTable, st.matchedPath)
      assert(keys.bc.id == id,
        "an unchanged index must keep serving its first broadcast")

      // a lazy gate plan on the current key set, for a doc whose verbatim
      // copy the append below adds to the eval set
      val leak = docs.filter(col("doc_id") === 20)
      assert(Decontamination.containmentAgainstIndex(leak, "doc_id", "text",
          st.evalTable, ordered = false)
        .filter(col("containment") >= cfg.decontamThreshold).isEmpty,
        "doc 20 must start below the threshold")
      val planBefore = Decontamination.containmentFilter(leak, "text", keys,
        cfg.decontamThreshold)
      Decontamination.appendEvalDocs(
        leak.select((col("doc_id") + 95000).as("doc_id"), col("text")),
        "doc_id", "text", st.evalTable)
      val after = keys
      assert(after.bc.id != id, "an append must swap in a new broadcast")
      assert(planBefore.count() == 1L,
        "a plan built before the append still runs on its own key set")
      assert(Decontamination.containmentFilter(leak, "text", after,
        cfg.decontamThreshold).count() == 0L)
    } finally IncrementalPipeline.reset(spark, st)
  }

  test("eval-key set: an eval set over the driver cap fails fast, naming its key count and the distributed operator") {
    import TestSpark.spark
    val eval = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").repartition(4)
    val expected = TextOps.shingleIndex(eval, "doc_id", "text", 3)
      .select("_sh").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val n = expected.size
    assert(n > 1)
    Seq(1, n - 1).foreach { cap =>
      val err = intercept[IllegalArgumentException] {
        Decontamination.EvalKeys.ofFrame(eval, "doc_id", "text", 3, cap = cap)
      }
      assert(err.getMessage.contains(s"$n distinct shingle keys") &&
        err.getMessage.contains("Decontamination.containment"), err.getMessage)
    }
    // at the cap exactly the whole set collects, sorted
    val atCap = Decontamination.EvalKeys.ofFrame(eval, "doc_id", "text", 3,
      cap = n)
    assert(atCap.sorted.toSeq == expected && atCap.shingleN == 3)
    // the persisted-index constructor carries the same guard, and a
    // refused collect leaves no cache entry behind
    val tbl = "graft_idec_cap_eval"
    try {
      Decontamination.saveEvalShingleIndex(eval, "doc_id", "text", tbl,
        tmpPath(tbl), shingleN = 3, buckets = 4)
      val err = intercept[IllegalArgumentException] {
        Decontamination.EvalKeys.ofIndex(spark, tbl, cap = n - 1)
      }
      assert(err.getMessage.contains(s"$n distinct shingle keys"), err.getMessage)
      assert(Decontamination.EvalKeys.ofIndex(spark, tbl).sorted.toSeq == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
