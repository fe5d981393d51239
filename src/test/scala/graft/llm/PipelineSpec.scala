package graft.llm

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end training-set builder laws. Every stage is oracle-pinned
 * on its own (pq63/68/41/1/27/34/35); this spec pins what the
 * COMPOSITION must guarantee:
 *
 *  - PROVENANCE: the set of doc_ids in the packed output equals the
 *    set computed by running the stages independently (normalize →
 *    gate pass → dedup keeper → sample member, on normalized text);
 *  - determinism under input partitioning;
 *  - sequence-budget law survives the composition (every sequence
 *    except a shard's last carries exactly targetTokens tokens);
 *  - the HTML variant strips before gating (markup never reaches the
 *    gate metrics).
 */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // thresholds the sf0.001 synthetic corpus can actually pass
  private val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
    minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
    minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
    sampleRate = 0.7, targetTokens = 64, shards = 4, salt = "ps")

  private def expectedIds(): Set[Long] = {
    val normalized = TextNormalize.normalize(
        docs.select(col("doc_id"), col("text").cast("string"))
          .filter(col("doc_id").isNotNull),
        "doc_id", "text", ordered = false)
      .select(col("doc_id"), col("nfc").as("text"))
    val pass = TextAnalysis.qualityGate(normalized, "doc_id", "text",
        minTokens = cfg.minTokens, maxTokens = cfg.maxTokens,
        minMeanWlen = cfg.minMeanWlen, maxMeanWlen = cfg.maxMeanWlen,
        minStopRatio = cfg.minStopRatio, minTtr = cfg.minTtr,
        maxDupBigramFrac = cfg.maxDupBigramFrac,
        maxTopBigramFrac = cfg.maxTopBigramFrac, ordered = false)
      .filter(col("pass")).collect().map(_.getLong(0)).toSet
    val keepers = ExactDedup(
        normalized.filter(col("doc_id").isin(pass.toSeq: _*)), "doc_id", "text")
      .collect().map(_.getLong(1)).toSet
    Sampling.hashSample(
        normalized.filter(col("doc_id").isin(keepers.toSeq: _*)),
        "doc_id", cfg.sampleRate, cfg.salt)
      .collect().map(_.getLong(0)).toSet
  }

  test("provenance: packed doc_ids == independently-computed stage survivors") {
    val packed = Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg)
    val packedIds = packed.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val expect = expectedIds()
    assert(expect.nonEmpty, "fixture thresholds must keep some docs")
    assert(packedIds == expect)
  }

  test("deterministic across partitionings; budget law survives composition") {
    def run(parts: Int) = Pipeline.buildTrainingSet(
        docs.repartition(parts), "doc_id", "text", cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val one = run(1)
    assert(one == run(13) && one.nonEmpty)
    // every sequence except each shard's last carries exactly targetTokens
    val bySeq = one.groupBy(t => (t._1, t._2)).view
      .mapValues(_.toSeq.map(t => t._5 - t._4).sum).toMap
    val lastSeq = bySeq.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    bySeq.foreach { case ((shard, seq), toks) =>
      if (seq != lastSeq(shard))
        assert(toks == cfg.targetTokens, s"seq ($shard, $seq) carries $toks")
      else assert(toks <= cfg.targetTokens)
    }
  }

  test("learned gate + decontamination: provenance extends, stages drop what their standalone operators drop") {
    val weights = Array.tabulate(64)(j =>
      ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
    // eval set = exact copies of doc_id < 10 — containment 1.0, must drop
    val eval = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
    val full = cfg.copy(salt = "psf",
      classifierWeights = Some(weights), classifierBias = 0.25,
      classifierThreshold = 0.5, decontamThreshold = 0.8)
    val packedIds = Pipeline.buildTrainingSet(docs, "doc_id", "text", full,
        evalSet = Some(eval))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

    // independently-computed survivors with the two new stages spliced in
    val normalized = TextNormalize.normalize(
        docs.select(col("doc_id"), col("text").cast("string"))
          .filter(col("doc_id").isNotNull),
        "doc_id", "text", ordered = false)
      .select(col("doc_id"), col("nfc").as("text"))
    val pass = TextAnalysis.qualityGate(normalized, "doc_id", "text",
        minTokens = full.minTokens, maxTokens = full.maxTokens,
        minMeanWlen = full.minMeanWlen, maxMeanWlen = full.maxMeanWlen,
        minStopRatio = full.minStopRatio, minTtr = full.minTtr,
        maxDupBigramFrac = full.maxDupBigramFrac,
        maxTopBigramFrac = full.maxTopBigramFrac, ordered = false)
      .filter(col("pass")).collect().map(_.getLong(0)).toSet
    val gated = normalized.filter(col("doc_id").isin(pass.toSeq: _*))
    val learnedIds = QualityClassifier.gate(gated, "doc_id", "text",
        weights, bias = full.classifierBias,
        threshold = full.classifierThreshold, ordered = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val learned = gated.filter(col("doc_id").isin(learnedIds.toSeq: _*))
    val evalNorm = TextNormalize.normalize(eval, "doc_id", "text",
        ordered = false)
      .select(col("doc_id"), col("nfc").as("text"))
    val contaminatedIds = Decontamination.containment(evalNorm, learned,
        "doc_id", "text", shingleN = full.decontamShingleN, ordered = false)
      .filter(col("containment") >= full.decontamThreshold)
      .collect().map(_.getLong(0)).toSet
    val decontaminated =
      learned.filter(!col("doc_id").isin(contaminatedIds.toSeq: _*))
    val keepers = ExactDedup(decontaminated, "doc_id", "text")
      .collect().map(_.getLong(1)).toSet
    val expect = Sampling.hashSample(
        decontaminated.filter(col("doc_id").isin(keepers.toSeq: _*)),
        "doc_id", full.sampleRate, full.salt)
      .collect().map(_.getLong(0)).toSet

    assert(learnedIds.size < pass.size,
      "the learned gate must actually drop docs in this fixture")
    assert(contaminatedIds.nonEmpty,
      "exact eval copies must register as contaminated")
    assert(packedIds == expect)
    assert(packedIds.intersect(contaminatedIds).isEmpty,
      "no contaminated doc may reach the packed output")
  }

  test("decontamination catches eval content that differs only in Unicode normalization") {
    import spark.implicits._
    // corpus doc in COMPOSED form (NFC); eval copy in DECOMPOSED form
    // (e + combining acute). Without normalizing the eval side, every
    // shingle hash differs and the leaked doc would ship.
    val leakText = "caf\u00e9 menu price list appears verbatim in this doc"
    val evalText = "cafe\u0301 menu price list appears verbatim in this doc"
    assert(leakText != evalText &&
      java.text.Normalizer.normalize(evalText,
        java.text.Normalizer.Form.NFC) == leakText)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((990000L, leakText)).toDF("doc_id", "text"))
    val eval = Seq((1L, evalText)).toDF("doc_id", "text")
    val packedIds = Pipeline.buildTrainingSet(corpus, "doc_id", "text",
        cfg.copy(salt = "psn"), evalSet = Some(eval))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!packedIds.contains(990000L),
      "a doc leaking decomposed-Unicode eval content must be dropped")
  }

  test("decontamThreshold 0: both builders drop every doc, as the aggregate anti-join does") {
    import spark.implicits._
    val eval = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
    val zero = cfg.copy(salt = "psz", decontamThreshold = 0.0)
    val evalClean = Pipeline.cleanStage(eval, "doc_id", "text", zero)
    // the aggregate reference: every doc's containment, 0.0 for a
    // shingle-less one, reaches threshold 0
    def viaAnti(batch: DataFrame): DataFrame = batch.join(
      Decontamination.containment(evalClean, batch, "doc_id", "text",
          shingleN = zero.decontamShingleN, ordered = false)
        .filter(col("containment") >= zero.decontamThreshold)
        .select("doc_id"),
      Seq("doc_id"), "left_anti")
    val keys = Decontamination.EvalKeys.ofFrame(evalClean, "doc_id", "text",
      zero.decontamShingleN)
    val gated = Pipeline.gateStage(
      Pipeline.cleanStage(docs, "doc_id", "text", zero), "doc_id", zero)
    val edge = Seq[(Long, String)]((1L, "a b"), (2L, null), (3L, "x y z w"))
      .toDF("doc_id", "text")
    assert(gated.count() > 0L)
    Seq(gated, edge).foreach { b =>
      val kept = Decontamination.containmentFilter(b, "text", keys, 0.0)
        .collect().toSet
      assert(kept.isEmpty && kept == viaAnti(b).collect().toSet)
    }
    assert(Pipeline.buildTrainingSet(docs, "doc_id", "text", zero,
      evalSet = Some(eval)).count() == 0L)
    val st = IncrementalPipeline.State("graft_ps_zero",
      java.nio.file.Files.createTempDirectory("graft_ps_zero").toString + "/state")
    try {
      IncrementalPipeline.saveEvalIndex(eval, "doc_id", "text", zero, st,
        buckets = 4)
      val spans = IncrementalPipeline.processBatch(docs, "doc_id", "text",
        zero, st, sampleK = 0, buckets = 4)
      assert(spans.count() == 0L)
      IncrementalPipeline.releaseEmission(spans)
    } finally IncrementalPipeline.reset(spark, st)
  }

  test("decontamThreshold NaN or outside [0, 1] fails fast, naming the field") {
    val eval = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
    // NaN and a percent-style 80 would otherwise ship every doc
    Seq(Double.NaN, 80.0, -0.1).foreach { thr =>
      val e = intercept[IllegalArgumentException] {
        Pipeline.buildTrainingSet(docs, "doc_id", "text",
          cfg.copy(decontamThreshold = thr), evalSet = Some(eval))
      }
      assert(e.getMessage.contains("decontamThreshold"), e.getMessage)
    }
  }

  test("learned gate + decontamination: deterministic across partitionings") {
    val weights = Array.tabulate(64)(j =>
      ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
    val eval = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
    val full = cfg.copy(salt = "psf",
      classifierWeights = Some(weights), classifierBias = 0.25)
    def run(parts: Int) = Pipeline.buildTrainingSet(
        docs.repartition(parts), "doc_id", "text", full,
        evalSet = Some(eval.repartition(parts)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val one = run(1)
    assert(one == run(13) && one.nonEmpty)
  }

  test("fuzzy tier (stage 6b): an in-batch near-dup drops to the smaller id; a no-near-dup corpus == the fuzzy-off chain") {
    import spark.implicits._
    // sampleRate 1: the fuzzy keeper must be observable in the output
    val offCfg = cfg.copy(sampleRate = 1.0)
    val fcfg = offCfg.copy(fuzzyDedup = true)
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // 9200/9201: a one-token tail edit on a 30-token base (shingle
    // Jaccard ~0.93, well above the 5-of-9 estimate threshold); ids sit
    // above the sf0.001 corpus range
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val extras = Seq((9200L, base + " one"), (9201L, base + " two"))
      .toDF("doc_id", "text")
    val got = ids(Pipeline.buildTrainingSet(
      docs.select(col("doc_id"), col("text")).unionByName(extras),
      "doc_id", "text", fcfg))
    assert(got.contains(9200L), "the smaller near-dup id is the keeper")
    assert(!got.contains(9201L), "the larger near-dup id must drop")
    // no two docs share a token, so no estimate can clear 5-of-9: the
    // fuzzy chain must then emit exactly the fuzzy-off chain's rows
    val disjoint = (0 until 40).map { d =>
      (1000L + d, (1 to 8).map(i => s"d${d}t$i").mkString(" "))
    }.toDF("doc_id", "text")
    def rows(c: Pipeline.Config) =
      Pipeline.buildTrainingSet(disjoint, "doc_id", "text", c).collect().toSet
    val off = rows(offCfg)
    assert(off.nonEmpty && rows(fcfg) == off)
  }

  test("stripHtml variant: markup never reaches the gate") {
    val wrapped = docs.select(col("doc_id"),
      concat(lit("<html><body><p>"), col("text"),
        lit("</p><script>var x = 1;</script></body></html>")).as("text"))
    val a = Pipeline.buildTrainingSet(wrapped, "doc_id", "text",
        cfg.copy(stripHtml = true))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val b = Pipeline.buildTrainingSet(docs, "doc_id", "text", cfg)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // stripping recovers the original text, so the same docs survive
    assert(a == b)
  }
}
