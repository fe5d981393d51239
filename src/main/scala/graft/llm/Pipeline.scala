package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/**
 * The end-to-end training-set builder — the library's stages composed
 * in the order a production corpus refresh runs them:
 *
 *   1. Unicode NFC normalization ([[TextNormalize]]) so hashing sees
 *      one spelling;
 *   2. optional HTML strip ([[TextClean]]) for crawled input;
 *   3. C4/Gopher heuristic quality gate ([[TextAnalysis.qualityGate]]);
 *   4. optional LEARNED quality gate ([[QualityClassifier]] inference
 *      with a [[QualityTrainer]]-trained weight vector — the DCLM
 *      recipe's second filter; zero shuffle, the weights ride the plan
 *      as one array literal);
 *   5. optional DECONTAMINATION against a held-out eval set: a doc
 *      whose shingle containment in the eval set reaches
 *      `decontamThreshold` is dropped ([[Decontamination.containment]]'s
 *      per-doc decision with the eval set as the REFERENCE side —
 *      benchmark-sized, so its shingle keys collect and broadcast once
 *      and the drop is a map-side filter: the corpus never shuffles
 *      for it);
 *   6. exact dedup keep-first ([[ExactDedup]], keeper semi-join);
 *   7. deterministic hash sample at `sampleRate` ([[Sampling]]);
 *   8. fixed-token sequence packing in deterministic shard order
 *      ([[Packing.packSequences]]).
 *
 * Every stage is individually oracle-pinned (pq63/68/41/99/25/1/27/34/
 * 35); this composition adds NO new semantics — its spec pins the
 * end-to-end laws (provenance: every emitted sequence traces to a doc
 * that passed each stage computed independently; determinism under
 * partitioning), and pq107 pins the full chain with both optional
 * stages enabled. Each hand-off is keyed on the id column, so the
 * composition introduces only the stages' own shuffles — the only
 * driver collect is the eval set's capped shingle-key set (stage 5).
 */
object Pipeline {

  /** Knobs for [[buildTrainingSet]] — gate thresholds mirror
    * [[TextAnalysis.qualityGate]]'s defaults. `classifierWeights`
    * enables the learned gate (stage 4): keep docs with
    * sigmoid(score) ≥ `classifierThreshold`. The decontamination
    * stage (5) is enabled by passing `evalSet` to
    * [[buildTrainingSet]]; `decontamShingleN`/`decontamThreshold`
    * configure it (≥ threshold on the containment the operator
    * reports — ROUND(3), inclusive, the pq25 convention; a threshold
    * outside [0, 1] fails fast). */
  final case class Config(
      stripHtml: Boolean = false,
      minTokens: Long = 50,
      maxTokens: Long = 100000,
      minMeanWlen: Double = 3.0,
      maxMeanWlen: Double = 10.0,
      minStopRatio: Double = 0.01,
      minTtr: Double = 0.2,
      maxDupBigramFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.2,
      sampleRate: Double = 1.0,
      targetTokens: Int = 1024,
      shards: Int = 64,
      salt: String = "graft",
      classifierWeights: Option[Array[Double]] = None,
      classifierBias: Double = 0.0,
      classifierThreshold: Double = 0.5,
      decontamShingleN: Int = 3,
      decontamThreshold: Double = 0.8,
      fuzzyDedup: Boolean = false,
      fuzzyShingleN: Int = 3,
      fuzzyNumHashes: Int = 9,
      fuzzyBands: Int = 3,
      fuzzyMinMatch: Int = 5,
      semanticTau: Double = 0.99)

  /** The SEMANTIC decontamination input for [[buildTrainingSet]]'s
    * stage 5b: per-doc embeddings for the corpus and the eval set,
    * both carrying the builder's id column plus `vecCol`
    * (Array[Float]/Array[Double]). A corpus doc whose argmax cosine
    * against the eval set reaches `Config.semanticTau` is dropped —
    * the paraphrase-level check shingle containment cannot see
    * ([[Decontamination.semanticFlags]] semantics verbatim: rounded
    * cosine, inclusive threshold). Docs with no embedding row pass
    * (no evidence). `bucketBits` > 0 is the sign-bucket LSH arm. */
  final case class Semantic(
      corpusEmbeddings: DataFrame,
      evalEmbeddings: DataFrame,
      vecCol: String = "embedding",
      bucketBits: Int = 0)

  /** Stage 5's threshold check, shared by both builders: NaN or a
    * value outside [0, 1] (say a percent-style 80) would silently
    * ship every doc, so it fails fast. */
  private[llm] def requireDecontamThreshold(cfg: Config): Unit =
    require(cfg.decontamThreshold >= 0 && cfg.decontamThreshold <= 1,
      s"Config.decontamThreshold must be in [0, 1], got " +
        s"${cfg.decontamThreshold}")

  /** Stages 1-2 (NFC normalization + optional HTML strip) as one
    * reusable hand-off: (idCol, text). Shared verbatim by
    * [[buildTrainingSet]]'s corpus and eval sides and by
    * [[IncrementalPipeline]]'s per-batch chain, so the two builders
    * cannot drift in what "cleaned text" means (shingle hashes are
    * spelling-sensitive — a drift here silently changes dedup AND
    * decontamination). */
  private[llm] def cleanStage(df: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = {
    val base = df.select(col(idCol), col(textCol).cast("string"))
      .filter(col(idCol).isNotNull)
    val normalized = TextNormalize.nfc(base, idCol, textCol, ordered = false)
      .select(col(idCol), col("nfc").as("text"))
    if (cfg.stripHtml)
      TextClean.stripHtml(normalized.select(col(idCol), col("text").as("html")),
        idCol, "html", ordered = false)
    else normalized
  }

  /** Stages 3-4 (heuristic quality gate + optional learned gate) over
    * a [[cleanStage]] output — per-doc decisions evaluated as pure
    * FILTERS, so the stage is batch-decomposable by construction (the
    * property [[IncrementalPipeline]] relies on) and costs ZERO
    * shuffles: both gates emit exactly one verdict row per input doc,
    * so the id semi-join the stage used to pay (two corpus-sized
    * exchanges per gate) is semantically a filter. The doc's (id,
    * text) rides THROUGH each gate operator as a struct-typed id —
    * the very same operator the standalone rows pin (pq41/pq99), no
    * reimplemented predicate to drift. */
  private[llm] def gateStage(cleaned: DataFrame, idCol: String,
      cfg: Config): DataFrame = {
    def packed(df: DataFrame): DataFrame =
      df.select(struct(col(idCol), col("text")).as("_doc"), col("text"))
    def unpacked(df: DataFrame): DataFrame = df.select(col("doc_id.*"))
    val gated = unpacked(
      TextAnalysis.qualityGate(packed(cleaned), "_doc", "text",
        minTokens = cfg.minTokens, maxTokens = cfg.maxTokens,
        minMeanWlen = cfg.minMeanWlen, maxMeanWlen = cfg.maxMeanWlen,
        minStopRatio = cfg.minStopRatio, minTtr = cfg.minTtr,
        maxDupBigramFrac = cfg.maxDupBigramFrac,
        maxTopBigramFrac = cfg.maxTopBigramFrac, ordered = false)
      .filter(col("pass")))
    // learned gate: pure inference (one projection, weights as a
    // literal) — runs BEFORE decontamination so the shingle pass only
    // sees docs that survive both quality filters
    cfg.classifierWeights match {
      case Some(w) =>
        unpacked(
          QualityClassifier.score(packed(gated), "_doc", "text", w,
            cfg.classifierBias, ordered = false)
          .filter(col("prob") >= cfg.classifierThreshold))
      case None => gated
    }
  }

  /** Test-visibility handle for the plan pin: the clean + gate prefix
    * of the chain ([[cleanStage]] then [[gateStage]], which are
    * private[llm]) — PlanAssertionsSpec asserts it compiles to
    * shuffle-free filters over one scan. */
  private[graft] def gateStageForPlanPin(df: DataFrame, idCol: String,
      cfg: Config): DataFrame =
    gateStage(cleanStage(df, idCol, "text", cfg), idCol, cfg)

  /** docs(idCol, textCol) → packed training sequences
    * (shard, seq, doc_id, tok_start, tok_end, ...) in deterministic
    * shard order — [[Packing.packSequences]]'s layout over the cleaned,
    * gated, decontaminated, deduplicated, sampled corpus.
    *
    * @param evalSet held-out benchmark docs carrying the SAME
    *                (idCol, textCol) column names; when present, any
    *                corpus doc whose (normalized-text) shingle
    *                containment in this set reaches
    *                `cfg.decontamThreshold` is dropped before dedup —
    *                the training set never ships eval content. None
    *                skips the stage.
    * @param semantic stage 5b — embedding-space decontamination (see
    *                [[Semantic]]): dropped ids come from the argmax
    *                cosine against the eval embeddings at
    *                `cfg.semanticTau`. None skips the stage (the
    *                chain is then bit-identical to the pre-stage
    *                builder — the identity law the spec pins). The
    *                flags are computed over the FULL embedding table
    *                and anti-joined on the id (zero extra shuffle:
    *                the flag pass is the broadcast-argmax zero-shuffle
    *                shape, and the anti-join is on the id the chain
    *                already keys).
    *
    * `cfg.fuzzyDedup` enables stage 6b — MinHash near-dup dedup AFTER
    * exact dedup ([[IncrementalMinHash.classifyBandedSketched]] against
    * an empty history: in-batch semantics — a doc near-duplicating a
    * smaller-id doc drops, `cfg.fuzzyMinMatch` of
    * `cfg.fuzzyNumHashes` signature components). Off ≡ today's chain
    * bit-for-bit.
    *
    * Retention: the gate-stage output (a MEMORY_AND_DISK persist) and
    * the fuzzy tier's sketch (a lazy local checkpoint) stay pinned
    * until [[graft.CacheScope.releaseSession]]; a library caller
    * looping builds calls it after consuming each result, or storage
    * grows by one corpus-sized cache per call. */
  def buildTrainingSet(df: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      evalSet: Option[DataFrame] = None,
      semantic: Option[Semantic] = None): DataFrame = {
    if (evalSet.isDefined) requireDecontamThreshold(cfg)
    // The gate-stage output feeds AT LEAST two plan branches (the
    // dedup keeper aggregate and the spine it joins back to) and Spark
    // physical plans re-execute a shared subtree once per branch —
    // without a persist, the per-doc text work (NFC, tokenize,
    // classifier fold) runs 3-5x per action (guide §1.2/§5: cache
    // exactly the reused expensive intermediate). MEMORY_AND_DISK
    // spills instead of recomputing at corpus scale; the cache is
    // registered with the session (Bench releases between queries).
    val learned = graft.CacheScope.track(
      gateStage(cleanStage(df, idCol, textCol, cfg), idCol, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // decontamination: the EVAL SET is the reference side; each
    // surviving corpus doc's containment in it decides the drop. ≥
    // threshold on the ROUNDED containment — inclusive, the pq25
    // convention. The eval text goes through the SAME cleaning stages
    // the corpus went through (NFC normalization, and the HTML strip
    // when enabled): shingle hashes are spelling-sensitive, and eval
    // content differing only in normalization or markup would
    // otherwise silently escape the drop. The eval set's distinct
    // shingle keys are benchmark-sized by contract, so they collect
    // once (one eval-sized job, run when the chain is BUILT) and the
    // drop runs as a map-side filter over the gated corpus — no
    // corpus-shingle aggregate, no id anti-join (guide §2.4/§3.1).
    val decontaminated = evalSet match {
      case Some(ev) =>
        Decontamination.containmentFilter(learned, "text",
          Decontamination.EvalKeys.ofFrame(cleanStage(ev, idCol, textCol, cfg),
            idCol, "text", cfg.decontamShingleN),
          cfg.decontamThreshold)
      case None => learned
    }
    // stage 5b: semantic (embedding-space) decontamination — the
    // paraphrase-level drop shingle containment cannot see
    val semDecontaminated = semantic match {
      case Some(sc) =>
        val dropIds = Decontamination.semanticFlags(
            sc.corpusEmbeddings, sc.evalEmbeddings, idCol, sc.vecCol,
            cfg.semanticTau, sc.bucketBits, ordered = false)
          .select(col(idCol))
        decontaminated.join(dropIds, Seq(idCol), "left_anti")
      case None => decontaminated
    }
    val keepers = ExactDedup(semDecontaminated, idCol, "text")
      .select(col("keep_id").as(idCol))
    val deduped = semDecontaminated.join(keepers, idCol)
    // stage 6b: MinHash near-dup tier — classify against an EMPTY
    // history (in-batch semantics; the maintaining builder's persisted
    // index is the same operator with history filled in). The sketch
    // carries the doc's columns and the classify plan reads it on
    // several branches, so it is a lazy local checkpoint registered with
    // the session, as in IncrementalMinHash.classifyBanded (a persist
    // would add one AQE materialization job per branch that scans it);
    // the kept docs are a filter over the classification, with no join
    // back to `deduped`.
    val fuzzyDeduped =
      if (!cfg.fuzzyDedup) deduped
      else {
        val sketched = graft.CacheScope.track(
          IncrementalMinHash.sketchTotal(deduped, idCol, "text",
              cfg.fuzzyShingleN, cfg.fuzzyNumHashes, cfg.fuzzyBands)
            .localCheckpoint(false))
        IncrementalMinHash.classifyBandedSketched(sketched,
            IncrementalMinHash.emptyBandedIndex(df.sparkSession),
            cfg.fuzzyNumHashes, cfg.fuzzyBands, cfg.fuzzyMinMatch)
          .filter(col("status") === "new")
          .select(deduped.columns.map(c => col(c)): _*)
      }
    val sampled = Sampling.hashSample(fuzzyDeduped, idCol, cfg.sampleRate, cfg.salt)
    Packing.packSequences(sampled, idCol, "text", cfg.targetTokens, cfg.shards,
      cfg.salt)
  }
}
