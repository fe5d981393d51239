package graft.llm

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Laws of the MAINTAINING builder ([[IncrementalPipeline]]):
 *
 *  - IDENTITY: one batch against fresh state == the one-shot builder,
 *    span for span;
 *  - ACCUMULATION (id-ordered batches): the union of per-batch
 *    emissions selects exactly the one-shot union's docs with the same
 *    per-doc token mass, and the packing-budget law survives the
 *    batch boundary (all but each shard's last sequence carry exactly
 *    targetTokens across the CONCATENATED emissions);
 *  - REPLAY: a re-delivered batch emits nothing and every state table
 *    converges (keeper index, cursors, sample, matched ledger);
 *  - SIDE ARTIFACTS: the maintained sample equals the one-shot
 *    min-k over all emitted docs; the contamination ledger equals the
 *    one-shot containment of the eval set in the emitted corpus;
 *  - DRIFT: cursor stamps refuse a changed salt.
 */
class IncrementalPipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")

  private val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
    minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
    minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
    sampleRate = 0.7, targetTokens = 64, shards = 4, salt = "ips",
    decontamShingleN = 3, decontamThreshold = 0.8)

  /** Eval set: some verbatim corpus docs (fully contained — must drop
    * their corpus twins) + fresh text (never matches). */
  private def evalSet: DataFrame =
    docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 30 && col("doc_id") < 35)
        .select((col("doc_id") + 91000).as("doc_id"),
          concat(lit("z"), col("doc_id"), lit("a z"), col("doc_id"),
            lit("b z"), col("doc_id"), lit("c")).as("text")))

  private def st(name: String) = IncrementalPipeline.State(
    name, java.nio.file.Files.createTempDirectory(name).toString + "/state")

  private def spans(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  private def cleanup(s: IncrementalPipeline.State): Unit =
    IncrementalPipeline.reset(spark, s)

  test("identity: one batch against fresh state == the one-shot builder") {
    val state = st("graft_ip_id")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      val inc = IncrementalPipeline.processBatch(docs, "doc_id", "text", cfg,
        state, sampleK = 5, buckets = 4)
      val one = Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg,
        evalSet = Some(evalSet))
      assert(spans(inc) == spans(one) && spans(inc).nonEmpty)
      // the eval twins really were dropped: no doc_id < 8 in the output
      assert(!spans(inc).exists(_._3 < 8))
    } finally cleanup(state)
  }

  test("accumulation: id-ordered batches select the one-shot docs; budget law crosses the boundary") {
    val state = st("graft_ip_acc")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      val cut = 60L // sf0.001 ids are 0..~119
      val b1 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") < cut), "doc_id", "text", cfg, state,
        sampleK = 5, buckets = 4)
      val b2 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") >= cut), "doc_id", "text", cfg, state,
        sampleK = 5, buckets = 4)
      val all = spans(b1) ++ spans(b2)
      val one = spans(Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg,
        evalSet = Some(evalSet)))
      // id-ordered arrival makes first-arrival == min-id, so the doc
      // SET and each doc's token mass match the one-shot chain (the
      // span LAYOUT differs: arrival order interleaves differently)
      def byDoc(s: Set[(Long, Long, Long, Long, Long)]) =
        s.groupBy(_._3).view.mapValues(_.toSeq.map(t => t._5 - t._4).sum).toMap
      assert(byDoc(all) == byDoc(one) && all.nonEmpty)
      assert(b2.count() > 0, "second batch must contribute docs")
      // budget law over the CONCATENATED emissions: all but each
      // shard's last sequence carry exactly targetTokens
      val bySeq = all.groupBy(t => (t._1, t._2)).view
        .mapValues(_.toSeq.map(t => t._5 - t._4).sum).toMap
      val lastSeq = bySeq.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      bySeq.foreach { case ((shard, seq), toks) =>
        if (seq != lastSeq(shard))
          assert(toks == cfg.targetTokens, s"seq ($shard, $seq) carries $toks")
        else assert(toks <= cfg.targetTokens)
      }
      // at least one sequence straddles the batch boundary OR batch 2
      // opened exactly at a boundary — either way batch 2's first spans
      // must start at the cursor, not at zero: shards with batch-1
      // tokens never see batch-2 seq_id 0 unless seq 0 was still open
      val b1Sums = spans(b1).groupBy(_._1).view
        .mapValues(_.toSeq.map(t => t._5 - t._4).sum).toMap
      spans(b2).groupBy(_._1).foreach { case (shard, s2) =>
        val base = b1Sums.getOrElse(shard, 0L)
        val minSeq = s2.map(_._2).min
        assert(minSeq == base / cfg.targetTokens,
          s"shard $shard: batch-2 must resume at seq ${base / cfg.targetTokens}, got $minSeq")
      }
    } finally cleanup(state)
  }

  test("replay: a re-delivered batch emits nothing and state converges") {
    val state = st("graft_ip_rep")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      val first = IncrementalPipeline.processBatch(docs, "doc_id", "text",
        cfg, state, sampleK = 5, buckets = 4)
      assert(first.count() > 0)
      def stateSnapshot(): (Set[String], Set[(Long, Long)], Long, Long) = (
        spark.table(state.dedupTable).collect()
          .map(r => r.getString(0) + ":" + r.getLong(1)).toSet,
        spark.table(state.cursorTable).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet,
        spark.table(state.sampleTable).count(),
        spark.table(state.matchedTable).count())
      val before = stateSnapshot()
      val replay = IncrementalPipeline.processBatch(docs, "doc_id", "text",
        cfg, state, sampleK = 5, buckets = 4)
      assert(replay.count() == 0, "a replayed batch must emit nothing")
      assert(stateSnapshot() == before, "replay must not move state")
    } finally cleanup(state)
  }

  test("side artifacts: maintained sample == one-shot min-k; ledger == one-shot containment of emitted docs") {
    val state = st("graft_ip_side")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      val cut = 60L
      val b1 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") < cut), "doc_id", "text", cfg, state,
        sampleK = 3, buckets = 4)
      val b2 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") >= cut), "doc_id", "text", cfg, state,
        sampleK = 3, buckets = 4)
      val emittedIds = (spans(b1) ++ spans(b2)).map(_._3).toSeq
      val emitted = Pipeline.cleanStage(
        docs.filter(col("doc_id").isin(emittedIds: _*)),
        "doc_id", "text", cfg)
      // sample law: the maintained table == the one-shot exact sampler
      // over every emitted doc, stratified by the packing shard
      val expectSample = Sampling.topKPerStratum(
          emitted.select(col("doc_id"),
            Packing.shardOf(col("doc_id"), cfg.shards, cfg.salt).as("shard")),
          "doc_id", "shard", k = 3, salt = cfg.salt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotSample = graft.streaming.StreamingSample.sample(
          spark, state.sampleTable, k = 3, salt = cfg.salt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSample == expectSample && gotSample.nonEmpty)
      // ledger law: containmentState == one-shot containment of the
      // eval set in the emitted corpus (same cleaning on both sides)
      val expectLedger = Decontamination.containment(
          emitted, Pipeline.cleanStage(evalSet, "doc_id", "text", cfg),
          "doc_id", "text", cfg.decontamShingleN, ordered = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val gotLedger = Decontamination.containmentState(
          spark, state.evalTable, state.matchedTable, ordered = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(gotLedger == expectLedger && gotLedger.nonEmpty)
      // decontam held: every emitted doc is below the drop threshold
      assert(Decontamination.containmentAgainstIndex(
          emitted, "doc_id", "text", state.evalTable, ordered = false)
        .filter(col("containment") >= cfg.decontamThreshold).count() == 0)
    } finally cleanup(state)
  }

  test("fuzzy tier: near-dups drop in-batch and across batches; no-near-dup corpus == fuzzy-off chain") {
    import TestSpark.spark.implicits._
    // sampleRate 1: the fuzzy KEEPER must be observable in the emission
    val offCfg = cfg.copy(sampleRate = 1.0)
    val fcfg = offCfg.copy(fuzzyDedup = true)
    // ids 9200/9201: in-batch near-dup pair (one-token tail edit on a
    // 30-token base — shingle Jaccard ~0.93, well above the 5-of-9
    // estimate threshold); id 9300 (batch 2): near-dup of batch 1's
    // accepted 9200 — must drop against the PERSISTED band index
    // without rescanning batch 1. Ids sit ABOVE the corpus range
    // (sf0.001 doc_ids reach 499).
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val extras = Seq(
      (9200L, base + " one"), (9201L, base + " two"), (9777L, base)
    ).toDF("doc_id", "text")
    val b2extras = Seq((9300L, base + " three")).toDF("doc_id", "text")
    val state = st("graft_ip_fz")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", fcfg,
        state, buckets = 4)
      val b1 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") < 60).unionByName(extras),
        "doc_id", "text", fcfg, state, sampleK = 0, buckets = 4)
      val b2 = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") >= 60).unionByName(b2extras),
        "doc_id", "text", fcfg, state, sampleK = 0, buckets = 4)
      val ids = (spans(b1) ++ spans(b2)).map(_._3)
      assert(ids.contains(9200L), "the smallest near-dup id is the keeper")
      assert(!ids.contains(9201L), "in-batch near-dup must drop")
      assert(!ids.contains(9300L), "cross-batch near-dup must drop against the index")
      assert(!ids.contains(9777L), "9777 near-duplicates 9200/9201 too")

      // identity: on a corpus with PROVABLY disjoint shingle sets (no
      // two docs share a token, so no bands can collide beyond hash
      // accident and no estimate can clear 5-of-9) the fuzzy chain
      // emits exactly the fuzzy-off chain's spans (off ≡ before, so
      // this also pins fuzzy-on as a pure extension)
      val disjoint = (0 until 40).map { d =>
        (1000L + d, (1 to 8).map(i => s"d${d}t$i").mkString(" "))
      }.toDF("doc_id", "text")
      val s2 = st("graft_ip_fz2")
      val s3 = st("graft_ip_fz3")
      try {
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", fcfg,
          s2, buckets = 4)
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", offCfg,
          s3, buckets = 4)
        val on = IncrementalPipeline.processBatch(disjoint, "doc_id", "text",
          fcfg, s2, sampleK = 0, buckets = 4)
        val off = IncrementalPipeline.processBatch(disjoint, "doc_id", "text",
          offCfg, s3, sampleK = 0, buckets = 4)
        assert(spans(on) == spans(off) && spans(on).nonEmpty,
          "disjoint-shingle docs carry no near-dups; the fuzzy tier " +
            "must then be the identity")
      } finally { cleanup(s2); cleanup(s3) }

      // one-batch identity with the ONE-SHOT fuzzy builder
      val s4 = st("graft_ip_fz4")
      try {
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", fcfg,
          s4, buckets = 4)
        val inc = IncrementalPipeline.processBatch(
          docs.filter(col("doc_id") < 60).unionByName(extras),
          "doc_id", "text", fcfg, s4, sampleK = 0, buckets = 4)
        val one = Pipeline.buildTrainingSet(
          docs.filter(col("doc_id") < 60).unionByName(extras),
          "doc_id", "text", fcfg, evalSet = Some(evalSet))
        assert(spans(inc) == spans(one) && spans(inc).nonEmpty)
      } finally cleanup(s4)

      // replay with the fuzzy tier: emits nothing, fuzzy index unmoved
      val fuzzyBefore = spark.table(state.fuzzyTable).count()
      val replay = IncrementalPipeline.processBatch(
        docs.filter(col("doc_id") < 60).unionByName(extras),
        "doc_id", "text", fcfg, state, sampleK = 0, buckets = 4)
      assert(replay.count() == 0, "a replayed batch must emit nothing")
      assert(spark.table(state.fuzzyTable).count() == fuzzyBefore,
        "replay must not grow the fuzzy index")
    } finally cleanup(state)
  }

  test("fuzzy tier: a non-numeric id fails fast, naming the id column, instead of passing as new") {
    import TestSpark.spark.implicits._
    val fcfg = cfg.copy(sampleRate = 1.0, fuzzyDedup = true)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // "doc-x" near-duplicates 9200: an id the long cast drops would
    // sketch as unkeyed and slip past the fuzzy gate as `new`
    val batch = Seq(("9200", base + " one"), ("doc-x", base + " two"))
      .toDF("doc_id", "text")
    val state = st("graft_ip_fzid")
    try {
      val err = intercept[Exception] {
        IncrementalPipeline.processBatch(batch, "doc_id", "text", fcfg, state,
          decontaminate = false, sampleK = 0, audit = false, buckets = 4).count()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
      assert(msgs.exists(_.contains("id column 'doc_id'")), msgs.mkString("\n"))
    } finally cleanup(state)
  }

  test("semantic gate: flagged docs drop; no-embeddings call is the identity; missing index refused") {
    import TestSpark.spark.implicits._
    // embeddings: distinctive unit-ish vectors; eval copies doc 20/21's
    // vectors, so those two docs (cosine 1.0 >= tau) must drop
    def vec(d: Long): Array[Float] =
      Array((d % 7).toFloat + 1f, ((d + 3) % 5).toFloat + 1f, 2f)
    val corpusEmb = (0L until 120L).map(d => (d, vec(d)))
      .toDF("doc_id", "embedding")
    val evalEmb = Seq((9020L, vec(20L)), (9021L, vec(21L)))
      .toDF("doc_id", "embedding")
    val state = st("graft_ip_sem")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg,
        state, buckets = 4)
      IncrementalPipeline.saveEvalEmbeddings(evalEmb, "doc_id", "embedding",
        state)
      val out = IncrementalPipeline.processBatch(docs, "doc_id", "text",
        cfg, state, sampleK = 0, buckets = 4,
        batchEmbeddings = Some(corpusEmb))
      val ids = spans(out).map(_._3)
      assert(spans(out).nonEmpty)
      // every doc sharing 20/21's direction drops (vec(d) repeats with
      // period 35, and scaling preserves cosine — flag the full set)
      val flagged = Decontamination.semanticFlagsAgainstIndex(
          corpusEmb, "doc_id", "embedding", state.semanticTable,
          cfg.semanticTau, ordered = false)
        .select("doc_id").as[Long].collect().toSet
      assert(flagged.contains(20L) && flagged.contains(21L))
      assert(ids.intersect(flagged).isEmpty,
        "semantically flagged docs must not be emitted")

      // identity with the one-shot semantic builder on fresh state
      val s2 = st("graft_ip_sem2")
      try {
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg,
          s2, buckets = 4)
        IncrementalPipeline.saveEvalEmbeddings(evalEmb, "doc_id",
          "embedding", s2)
        val inc = IncrementalPipeline.processBatch(docs, "doc_id", "text",
          cfg, s2, sampleK = 0, buckets = 4,
          batchEmbeddings = Some(corpusEmb))
        val one = Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg,
          evalSet = Some(evalSet),
          semantic = Some(Pipeline.Semantic(corpusEmb, evalEmb)))
        assert(spans(inc) == spans(one) && spans(inc).nonEmpty)
      } finally cleanup(s2)

      // None skips the stage: bit-identical to the pre-stage chain
      val s3 = st("graft_ip_sem3")
      try {
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg,
          s3, buckets = 4)
        val none = IncrementalPipeline.processBatch(docs, "doc_id", "text",
          cfg, s3, sampleK = 0, buckets = 4)
        val oneNone = Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg,
          evalSet = Some(evalSet), semantic = None)
        assert(spans(none) == spans(oneNone))
        assert(spans(none) != spans(out),
          "the gate must actually change this fixture's emission")
      } finally cleanup(s3)

      // refusal: embeddings passed but no saved index
      val s4 = st("graft_ip_sem4")
      try {
        IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg,
          s4, buckets = 4)
        val e = intercept[IllegalArgumentException] {
          IncrementalPipeline.processBatch(docs, "doc_id", "text", cfg,
            s4, sampleK = 0, buckets = 4,
            batchEmbeddings = Some(corpusEmb))
        }
        assert(e.getMessage.contains("saveEvalEmbeddings"))
      } finally cleanup(s4)
    } finally cleanup(state)
  }

  test("batch loop: released emissions keep block-manager storage bounded across 5 batches") {
    val state = st("graft_ip_loop")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      def stored = spark.sparkContext.getPersistentRDDs.size
      val base = stored
      (0 until 5).foreach { i =>
        val spans = IncrementalPipeline.processBatch(
          docs.filter(pmod(col("doc_id"), lit(5)) === i), "doc_id", "text",
          cfg, state, sampleK = 3, buckets = 4)
        spans.count() // consume
        IncrementalPipeline.releaseEmission(spans)
        assert(stored <= base + 1,
          s"batch $i leaked checkpoint storage: $stored persistent RDDs " +
            s"(started at $base) — the loop must stay bounded")
      }
    } finally cleanup(state)
  }

  test("fuzzy self-match acceptance demands an IDENTICAL signature: a reused id with near-dup text drops") {
    val state = st("graft_ip_selfx")
    try {
      val fc = cfg.copy(fuzzyDedup = true, salt = "ipsx", sampleRate = 1.0)
      import spark.implicits._
      val text1 = "alpha beta gamma delta epsilon zeta eta theta"
      val b1 = Seq((1L, text1)).toDF("doc_id", "text")
      val e1 = IncrementalPipeline.processBatch(b1, "doc_id", "text", fc,
        state, decontaminate = false, sampleK = 0, audit = false, buckets = 2)
      assert(e1.count() > 0, "the first delivery must be accepted")
      // the same id re-delivered with NEAR-dup text (one appended
      // token): the exact stage passes (new hash), the fuzzy stage
      // matches the id's own historical sketch — under the
      // signature-identical rule that self-match is NOT the crash
      // replay (some components differ) and the doc drops like any
      // other near-dup. (Before the rule, dup_of == own id alone was
      // accepted and the near-dup shipped.)
      val b2 = Seq((1L, text1 + " iota")).toDF("doc_id", "text")
      val e2 = IncrementalPipeline.processBatch(b2, "doc_id", "text", fc,
        state, decontaminate = false, sampleK = 0, audit = false, buckets = 2)
      assert(e2.count() == 0,
        "a reused id with merely near-dup text must drop at the fuzzy tier")
      // the crash-replay polarity stands: the SAME text re-delivered
      // under a fresh exact index (the crash window re-creates exactly
      // this: sketch present, hash absent) re-emits — verified by the
      // replay golden above via the full crash path; here the
      // signature-identical arm is pinned directly on the classifier
      val banded = IndexStore.minhashIndex(spark, state.fuzzyTable)
      val cls = IncrementalMinHash.classifyBandedSketched(
        IncrementalMinHash.sketchTotal(b1, "doc_id", "text"), banded)
      val r = cls.collect().head
      assert(r.getAs[String]("status") == "dup_of_history" &&
        r.getAs[Long]("dup_of") == 1L &&
        r.getAs[Int]("_self_exact") == 1,
        s"identical text must self-match with _self_exact = 1, got $r")
    } finally cleanup(state)
  }

  test("decontamThreshold NaN or outside [0, 1] fails fast, naming the field, before any state is written") {
    val state = st("graft_ip_thr")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      // NaN and a percent-style 80 would otherwise ship every doc
      Seq(Double.NaN, 80.0, -0.1).foreach { thr =>
        val e = intercept[IllegalArgumentException] {
          IncrementalPipeline.processBatch(docs, "doc_id", "text",
            cfg.copy(decontamThreshold = thr), state, sampleK = 0, buckets = 4)
        }
        assert(e.getMessage.contains("decontamThreshold"), e.getMessage)
      }
      assert(Seq(state.dedupTable, state.cursorTable)
        .forall(t => !spark.catalog.tableExists(t)),
        "a refused batch must write no state")
    } finally cleanup(state)
  }

  test("drift: cursor stamps refuse a changed salt") {
    val state = st("graft_ip_drift")
    try {
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", cfg, state,
        buckets = 4)
      IncrementalPipeline.processBatch(docs.filter(col("doc_id") < 40),
        "doc_id", "text", cfg, state, sampleK = 0, buckets = 4)
      val e = intercept[Exception] {
        IncrementalPipeline.processBatch(docs.filter(col("doc_id") >= 40),
          "doc_id", "text", cfg.copy(salt = "other"), state, sampleK = 0,
          buckets = 4)
      }
      assert(e.getMessage.contains("graft.pipeline.salt"))
    } finally cleanup(state)
  }

  test("job count: a second plain batch with every stage on runs at most 30 jobs") {
    val state = st("graft_ip_jobs")
    try {
      val fc = cfg.copy(fuzzyDedup = true)
      IncrementalPipeline.saveEvalIndex(evalSet, "doc_id", "text", fc, state,
        buckets = 4)
      def batch(m: Int) = IncrementalPipeline.processBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === m), "doc_id", "text", fc,
        state, sampleK = 3, buckets = 4)
      val first = batch(0)
      assert(first.count() > 0)
      IncrementalPipeline.releaseEmission(first)
      // counted by JobLog under a job group of its own (the driver
      // pool's threads inherit it)
      val sc = spark.sparkContext
      val group = s"ip-jobs-${java.util.UUID.randomUUID()}"
      val log = new graft.JobLog
      sc.addSparkListener(log)
      val second = try {
        sc.setJobGroup(group, "IncrementalPipelineSpec job count")
        try batch(1) finally sc.clearJobGroup()
      } finally { log.settle(); sc.removeSparkListener(log) }
      val jobs = log.jobs.filter(_.group.contains(group))
      assert(second.count() > 0, "the second batch must emit")
      IncrementalPipeline.releaseEmission(second)
      assert(jobs.size <= 30, s"${jobs.size} jobs:\n" +
        jobs.groupBy(_.desc).map { case (d, js) => s"${js.size}  $d" }.mkString("\n"))
    } finally cleanup(state)
  }

  test("exact classify: a 20,000-copy content group under a 64-row window spill threshold keeps one keeper") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.windowExec.buffer.spill.threshold", "64")
    import s2.implicits._
    val hot = "the same boilerplate paragraph copied into every page of a crawl"
    val batch = (s2.range(0, 20000, 1, 4)
        .select((col("id") * 7 + 100).as("doc_id"), lit(hot).as("text")))
      .unionByName(Seq((Option(5L), Option.empty[String]),
          (Option.empty[Long], Option(hot)))
        .toDF("doc_id", "text"))
    val index = s2.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "content_hash STRING, keep_id BIGINT"))
    type R = (Option[Long], String, String, Option[Long])
    def rows(df: DataFrame): Set[R] =
      df.select("doc_id", "content_hash", "status", "dup_of").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
          r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    val got = rows(IncrementalDedup.classify(batch, index, "doc_id", "text"))
    // the in-batch keeper as it was computed before the window: a min
    // aggregate per content hash joined back to every row
    val hashed = batch.select(col("doc_id"),
      coalesce(md5(col("text").cast("binary")), lit("-")).as("content_hash"))
    val keepers = hashed.groupBy("content_hash")
      .agg(min(col("doc_id")).as("_keep"))
    val expect = rows(hashed.join(keepers, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"),
        when(col("doc_id") =!= col("_keep"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("doc_id") =!= col("_keep"), col("_keep")).as("dup_of")))
    assert(got == expect)
    val hotRows = got.filter(r => r._1.isDefined && r._2 != "-")
    assert(hotRows.size == 20000)
    assert(hotRows.filter(_._3 == "new") == Set[R]((Some(100L), hotRows.head._2, "new", None)))
    assert(hotRows.filter(_._3 != "new").forall(r =>
      r._3 == "dup_in_batch" && r._4.contains(100L)))
  }
}
