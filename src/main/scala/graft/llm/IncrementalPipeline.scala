package graft.llm

import graft.DriverPool
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The MAINTAINING training-set builder — [[Pipeline.buildTrainingSet]]
 * re-expressed for a corpus that arrives in batches: clean batch N
 * against ALL persisted state, append only batch N's contribution to
 * that state, and emit only batch N's packed sequences. Nothing ever
 * rescans an earlier batch (the reference's orchestration exists for
 * exactly this — ref: wstlr/play.py:79-117 recomputes only what
 * changed; this operator is that idea applied to the flagship chain).
 *
 * Per-batch stages, each O(batch) against eval-/model-sized state:
 *
 *   1-4. NFC normalize → optional HTML strip → heuristic gate →
 *        learned gate: per-doc decisions, shared VERBATIM with the
 *        one-shot builder ([[Pipeline.cleanStage]]/
 *        [[Pipeline.gateStage]]) so the two builders cannot drift;
 *   5.   decontamination against the PERSISTED eval-shingle index
 *        (the [[Decontamination.EvalKeys]] map-side filter: the
 *        index's key set collects and broadcasts once per JVM while
 *        the index is unchanged) — a doc's containment in a fixed eval
 *        set depends on nothing but the doc, so the stage is
 *        batch-decomposable by construction; the index never
 *        re-shingles;
 *   6.   exact dedup against the PERSISTED keeper index
 *        ([[IncrementalDedup.classify]] + in-batch keeper): a batch
 *        doc duplicating ANY earlier batch's keeper drops
 *        (first-arrival-wins across batches, min-id within a batch);
 *        accepted keepers append O(batch)
 *        ([[IndexStore.appendExactKeepers]]);
 *   7.   deterministic hash sample ([[Sampling.hashSample]] — pure
 *        per-doc predicate, trivially incremental);
 *   8.   packing RESUMED from per-shard token cursors
 *        ([[Packing.packSequencesFrom]]): batch N's sequences continue
 *        exactly where batch N-1's stopped, including continuing a
 *        partial final sequence — concatenating the per-batch
 *        emissions equals ONE packing of all emitted docs ordered by
 *        (arrival batch, order-hash, id) within each shard.
 *
 * Two maintained side artifacts per batch, both model-sized:
 *   - the per-shard MIN-K INSPECTION SAMPLE of everything emitted
 *     ([[graft.streaming.StreamingSample.mergeBatch]], stratum =
 *     packing shard via [[Packing.shardOf]] so the sample stratifies
 *     exactly as the training layout does) — after batches B1..Bn it
 *     equals the one-shot sampler over all emitted docs (the
 *     semilattice law);
 *   - the eval contamination ledger
 *     ([[Decontamination.auditBatch]] over the EMITTED docs):
 *     [[Decontamination.containmentState]] reports the residual
 *     sub-threshold eval overlap the training set has accumulated so
 *     far, with no corpus rescan ever.
 *
 * REPLAY: a re-delivered batch finds every one of its contents in the
 * keeper index, classifies them dup_of_history, and emits NOTHING —
 * all five state tables converge to their first-delivery contents
 * (the foreachBatch contract: state converges, downstream sinks that
 * must not observe an empty re-emission dedup on their own ids).
 *
 * ORDERING DISCIPLINE: the emission is eagerly materialized
 * (localCheckpoint) BEFORE any state append, because the append
 * targets are the very tables the emission's plan reads (keeper
 * index, cursors) — the appendExactKeepers discipline.
 *
 * 100 TB shape: every join against state is keyed; the eval index and
 * keeper index are bucketed on their join keys (only batch-derived
 * rows shuffle); the cursor advance is a shards-sized union-aggregate;
 * the only data-scale shuffles are the chain's own (the in-batch
 * keeper window, packing shard exchange) — paid once per byte ever.
 *
 * Fixed cost per batch: a batch of a few hundred docs is bound by job
 * count, not bytes, so nothing is persisted and each intermediate is
 * materialized once — the batch is read once, inside the classify
 * checkpoint, which also carries the fuzzy tier's sketches; the three
 * checkpoint counts run one job each ([[graft.CacheScope.checkpointCount]]);
 * the sample merge is one rank-limited window. A plain batch with every
 * stage on runs <= 30 jobs (IncrementalPipelineSpec pins it).
 */
object IncrementalPipeline {

  private val SaltKey = "graft.pipeline.salt"
  private val TargetKey = "graft.pipeline.targetTokens"
  private val ShardsKey = "graft.pipeline.shards"

  /** Release the block-manager storage behind a [[processBatch]]
    * emission once it has been consumed, through
    * [[graft.CacheScope.release]]. The returned frame is a
    * localCheckpoint materialized before return (its batch-sized blocks
    * stay pinned in the block manager until released); a loop feeding
    * thousands of batches through one session must call this per batch
    * after writing/collecting the spans, or storage grows by one
    * emission per call. Safe to call twice; after release the frame
    * recomputes from nothing — do not read it again. */
  def releaseEmission(spans: DataFrame): Unit = graft.CacheScope.release(spans)

  /** The state locations, derived from one (name, path) root:
    * keeper index, eval-shingle index, matched-shingle ledger,
    * inspection sample, packing cursors, plus the two OPTIONAL-stage
    * tables — the MinHash band index (stage 6b) and the eval-embedding
    * index (stage 5b); the optional tables exist only when their
    * stages are used. */
  final case class State(baseName: String, basePath: String) {
    def dedupTable: String = baseName + "_dedup"
    def dedupPath: String = basePath + "/dedup"
    def evalTable: String = baseName + "_eval"
    def evalPath: String = basePath + "/eval"
    def matchedTable: String = baseName + "_matched"
    def matchedPath: String = basePath + "/matched"
    def sampleTable: String = baseName + "_sample"
    def samplePath: String = basePath + "/sample"
    def cursorTable: String = baseName + "_cursors"
    def cursorPath: String = basePath + "/cursors"
    def fuzzyTable: String = baseName + "_fuzzy"
    def fuzzyPath: String = basePath + "/fuzzy"
    def semanticTable: String = baseName + "_semantic"
    def semanticPath: String = basePath + "/semantic"
    def allTables: Seq[String] =
      Seq(dedupTable, evalTable, matchedTable, sampleTable, cursorTable,
        fuzzyTable, semanticTable)
  }

  /** Persist the eval set's shingle index for stage 5, cleaned through
    * the SAME stages the corpus goes through (shingle hashes are
    * spelling-sensitive; eval content differing only in normalization
    * or markup would otherwise escape the drop — the one-shot
    * builder's rule, [[Pipeline.buildTrainingSet]]). Overwrites. */
  def saveEvalIndex(eval: DataFrame, idCol: String, textCol: String,
      cfg: Pipeline.Config, st: State, buckets: Int = 32): Unit =
    Decontamination.saveEvalShingleIndex(
      Pipeline.cleanStage(eval, idCol, textCol, cfg), idCol, "text",
      st.evalTable, st.evalPath, cfg.decontamShingleN, buckets)

  /** Persist the eval set's EMBEDDING index for the semantic gate
    * (stage 5b) — [[Decontamination.saveEvalEmbeddingIndex]] under the
    * state root. Overwrites. `bucketBits` > 0 is the sign-bucket LSH
    * arm; the stamp makes a drifted reader refuse. */
  def saveEvalEmbeddings(eval: DataFrame, idCol: String, vecCol: String,
      st: State, bucketBits: Int = 0, graceMs: Long = 0L): Long =
    Decontamination.saveEvalEmbeddingIndex(eval, idCol, vecCol,
      st.semanticTable, st.semanticPath, bucketBits, graceMs)

  /** Drop all state tables and delete `basePath` — a fresh chain.
    * For fixtures and tests; production state is the point of the
    * operator and outlives every batch. */
  def reset(spark: SparkSession, st: State): Unit = {
    st.allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val p = new org.apache.hadoop.fs.Path(st.basePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Drop only the CORPUS-derived state (keeper index, matched ledger,
    * sample, cursors, fuzzy band index) and keep the eval-derived
    * tables (shingle index, embedding index) — a fresh corpus run
    * against the same benchmark set. The eval artifacts are pure
    * functions of the eval fixture, so re-runs (and bench
    * re-executions) skip their rebuild. */
  def resetCorpusState(spark: SparkSession, st: State): Unit = {
    val corpus = Seq(
      st.dedupTable -> st.dedupPath, st.matchedTable -> st.matchedPath,
      st.sampleTable -> st.samplePath, st.cursorTable -> st.cursorPath,
      st.fuzzyTable -> st.fuzzyPath)
    val hadoopConf = spark.sessionState.newHadoopConf()
    corpus.foreach { case (t, path) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) { fs.delete(p, true); () }
      // swap generations live beside the base path (path-v<n>)
      val parent = p.getParent
      if (parent != null && fs.exists(parent)) {
        fs.globStatus(new org.apache.hadoop.fs.Path(path + "-v*"))
          .foreach(g => fs.delete(g.getPath, true))
      }
    }
  }

  /**
   * Process ONE corpus batch through the full chain. Returns batch N's
   * packed sequences — (shard, seq_id, doc_id, tok_start, tok_end),
   * [[Packing.packSequences]]'s schema — eagerly materialized; state
   * tables are updated as a side effect (created under `st` on first
   * use). With a single batch and fresh state this is EXACTLY
   * [[Pipeline.buildTrainingSet]] (the law the spec pins).
   *
   * PRECONDITION: ids are unique WITHIN the batch (the same contract
   * [[Packing]] imposes on everything it packs — duplicate ids have no
   * stable pack order, and the fuzzy tier's internal joins assume one
   * row per id). Cross-batch reuse of an id is handled (exact dups
   * drop; near-dup text under a reused id drops at the fuzzy tier).
   *
   * The returned frame's checkpoint storage belongs to the CALLER:
   * consume it, then [[releaseEmission]] — a long-running batch loop
   * that never releases pins one emission-sized block set per call
   * (the per-batch INTERNAL checkpoints are always released before
   * returning; only the emission outlives the call, by design).
   *
   * @param decontaminate stage 5 on/off; when on, the eval index must
   *                      have been saved via [[saveEvalIndex]] (a
   *                      missing index fails fast — silently skipping
   *                      decontamination would ship eval content)
   * @param sampleK       per-shard size of the maintained inspection
   *                      sample (0 disables the side artifact)
   * @param audit         maintain the eval contamination ledger over
   *                      emitted docs (requires the eval index)
   * @param graceMs       swap-retention grace for the cursor and
   *                      sample tables ([[SwapTable]])
   * @param batchEmbeddings stage 5b — SEMANTIC decontamination: this
   *                      batch's per-doc embeddings (idCol + `vecCol`);
   *                      docs whose argmax cosine against the PERSISTED
   *                      eval-embedding index ([[saveEvalEmbeddings]])
   *                      reaches `cfg.semanticTau` drop before dedup.
   *                      A doc with no embedding row passes (no
   *                      evidence). Like stage 5, the gate is a pure
   *                      per-doc function of the fixed index — batch-
   *                      decomposable by construction. None skips the
   *                      stage (bit-identical to the pre-stage chain).
   *
   * `cfg.fuzzyDedup` enables stage 6b — MinHash near-dup dedup against
   * the PERSISTED band index (created under `st` on first use): an
   * exact-new doc near-duplicating ANY earlier accepted doc (or a
   * smaller-id doc in this batch) drops; accepted docs' banded
   * sketches append O(batch). A `dup_of_history` hit whose keeper is
   * the doc ITSELF is accepted (self-matches only arise when a crash
   * between the fuzzy append and the exact commit point replays the
   * batch — treating them as dups would silently drop the whole
   * replayed batch; a genuinely-new doc can never self-match because
   * its sketch enters the index only on acceptance). Off ≡ today's
   * chain bit-for-bit.
   */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      cfg: Pipeline.Config, st: State, decontaminate: Boolean = true,
      sampleK: Int = 16, audit: Boolean = true, buckets: Int = 32,
      graceMs: Long = 0L, batchEmbeddings: Option[DataFrame] = None,
      vecCol: String = "embedding"): DataFrame = {
    if (decontaminate) Pipeline.requireDecontamThreshold(cfg)
    // not persisted: every consumer below reads the batch through the
    // classify checkpoint, whose plan reads it ONCE
    val spark = batch.sparkSession
    val gated = Pipeline.gateStage(
      Pipeline.cleanStage(batch, idCol, textCol, cfg), idCol, cfg)
    val shingleDecontaminated =
      if (decontaminate) {
        require(spark.catalog.tableExists(st.evalTable),
          s"decontaminate=true but ${st.evalTable} does not exist — " +
            "save it via saveEvalIndex first (skipping silently would " +
            "ship eval content)")
        // the eval index's distinct shingle KEYS are eval-sized by
        // contract: they collect and broadcast once while the index is
        // unchanged (one bucketed-scan job, shared with the audit) and
        // the drop runs as a pure map-side filter — no batch-shingle
        // exchange, no per-doc aggregate, no id anti-join (guide
        // §2.4/§3.1)
        Decontamination.containmentFilter(gated, "text",
          Decontamination.EvalKeys.ofIndex(spark, st.evalTable),
          cfg.decontamThreshold)
      } else gated
    // stage 5b: semantic gate against the persisted eval-embedding
    // index — zero shuffle (broadcast argmax) + one id anti-join
    val decontaminatedLazy = batchEmbeddings match {
      case Some(embs) =>
        require(spark.catalog.tableExists(st.semanticTable),
          s"batchEmbeddings passed but ${st.semanticTable} does not exist " +
            "— save it via saveEvalEmbeddings first (skipping silently " +
            "would ship paraphrased eval content)")
        val dropIds = Decontamination.semanticFlagsAgainstIndex(
            embs, idCol, vecCol, st.semanticTable, cfg.semanticTau,
            ordered = false)
          .select(col(idCol))
        shingleDecontaminated.join(dropIds, Seq(idCol), "left_anti")
      case None => shingleDecontaminated
    }
    // stage 6: classify against the persisted keeper index, with the
    // text CARRIED THROUGH the classification — ONE checkpoint then
    // serves as the gate/containment materialization, the keeper-append
    // input, and (as a pure filter, no join) the kept set. With the
    // fuzzy tier on, the same checkpoint also carries each kept doc's
    // MinHash sketch (stage 6b's input), so the sketch pass runs once,
    // inside this materialization, and nothing is persisted.
    // Checkpointed because the keeper append below mutates the very
    // table the classify join reads.
    val dedupExists = spark.catalog.tableExists(st.dedupTable)
    val classifiedLazy =
      if (dedupExists)
        IncrementalDedup.classifyWithText(decontaminatedLazy,
          IndexStore.exactIndex(spark, st.dedupTable), idCol, "text")
      else
        // LocalRelation-backed empty index: provably empty, so the
        // optimizer deletes the history left-join from the first
        // batch's plan (nulls projected directly)
        IncrementalDedup.classifyWithText(decontaminatedLazy,
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("content_hash",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("keep_id",
                org.apache.spark.sql.types.LongType)))),
          idCol, "text")
    val classified = labeled(spark, "classify ckpt")(
      (if (cfg.fuzzyDedup)
        IncrementalMinHash.sketchTotal(classifiedLazy, "doc_id", "text",
          cfg.fuzzyShingleN, cfg.fuzzyNumHashes, cfg.fuzzyBands,
          where = col("status") === "new", idName = idCol)
      else classifiedLazy).localCheckpoint(true))
    // kept = a FILTER over the classify checkpoint (no join): its
    // consumers (the fuzzy tier, the emission chain) re-run only the
    // filter against materialized storage
    val kept = classified.filter(col("status") === "new")
    // stage 6b: fuzzy (MinHash) tier against the persisted band index;
    // the SKETCHED classification carries each doc's (sig, bands), so
    // the ACCEPTED join (status + sketch riding along) is the one frame
    // both the sketch append and the emission chain need — checkpoint
    // THAT: one materialization serves the append (which mutates the
    // very band table the classify plan reads) and the packing chain.
    // Self-match acceptance (see the crash-replay note above) is
    // tightened to SIGNATURE-IDENTICAL matches: a replayed batch
    // re-sketches the same text, so all components equal; a REUSED id
    // carrying merely near-dup text matches fewer than all components
    // and is dropped like any other near-dup (the unique-id contract
    // no longer load-bearing for correctness).
    val fuzzyState: Option[(DataFrame, Boolean)] =
      if (!cfg.fuzzyDedup) None
      else {
        val fuzzyExists = spark.catalog.tableExists(st.fuzzyTable)
        val banded =
          if (fuzzyExists) IndexStore.minhashIndex(spark, st.fuzzyTable,
            cfg.fuzzyShingleN, cfg.fuzzyNumHashes, cfg.fuzzyBands)
          else IncrementalMinHash.emptyBandedIndex(spark)
        // the sketched classification carries (id, text) through, so
        // the accepted set is a pure FILTER over it. The isNotNull guard
        // keeps null ids out, as the old kept re-join did (cleanStage
        // drops them anyway).
        val fk = labeled(spark, "fuzzy kept ckpt") {
          IncrementalMinHash.classifyBandedSketched(
              kept.select(col("doc_id"), col("text"), col("_id"), col("_sig"),
                col("_bands")),
              banded, cfg.fuzzyNumHashes, cfg.fuzzyBands, cfg.fuzzyMinMatch)
            .filter(col("doc_id").isNotNull && (col("status") === "new" ||
              (col("status") === "dup_of_history" &&
                col("dup_of") === col("doc_id") && col("_self_exact") === 1)))
            .select(col("doc_id").as(idCol), col("text"), col("_id"),
              col("status"), col("_sig"), col("_bands"))
            .localCheckpoint(true)
        }
        Some((fk, fuzzyExists))
      }
    val fuzzyKept = fuzzyState match {
      case Some((fk, _)) => fk.select(col(idCol), col("text"))
      case None => kept.select(col("doc_id").as(idCol), col("text"))
    }
    if (audit) require(spark.catalog.tableExists(st.evalTable),
      s"audit=true but ${st.evalTable} does not exist — " +
        "save it via saveEvalIndex first")
    // the emission set is consumed by packing plus, when enabled, the
    // audit and the sample merge — multi-action consumers. It is
    // checkpointed ONLY when the audit/sample side artifacts will read
    // it (otherwise packing is its sole consumer and the spans
    // checkpoint below materializes the chain once); the LAZY
    // checkpoint + RDD count materializes it and answers the
    // empty-emission probe in ONE job ([[graft.CacheScope.checkpointCount]]).
    val needSampled = audit || sampleK > 0
    val sampledLazy = Sampling.hashSample(fuzzyKept, idCol, cfg.sampleRate, cfg.salt)
    val (sampled, emptySample) =
      if (needSampled) labeled(spark, "sampled ckpt+count") {
        val ck = sampledLazy.localCheckpoint(false)
        (ck, graft.CacheScope.checkpointCount(ck) == 0L)
      } else (sampledLazy, false)
    // stage 8: pack from the persisted cursors (zeros on first batch)
    val cursorExists = spark.catalog.tableExists(st.cursorTable)
    val bases =
      if (cursorExists) {
        SwapTable.requireStamps(spark, st.cursorTable, cursorStamps(cfg),
          "IncrementalPipeline cursor")
        spark.table(st.cursorTable)
      } else
        spark.range(0).select(col("id").as("shard"), col("id").as("base"))
    // lazy checkpoint + count: materializes BEFORE any state append
    // (the ordering discipline) and folds the empty-emission probe into
    // the materializing job; the label covers the checkpoint's own
    // creation too (under AQE it runs the packing exchanges' map stages)
    val (spans, emptyEmission) = labeled(spark, "spans ckpt+count") {
      val ck = Packing.packSequencesFrom(sampled, idCol, "text",
          cfg.targetTokens, cfg.shards, bases, cfg.salt)
        .localCheckpoint(false)
      (ck, graft.CacheScope.checkpointCount(ck) == 0L)
    }
    // ---- state appends, all O(batch) ----
    // Ordering: the keeper append goes LAST, because it is the COMMIT
    // POINT — once the batch's hashes are in the index, a replay
    // classifies everything dup_of_history and emits nothing. A crash
    // between the earlier appends and the keeper append therefore
    // replays the WHOLE batch: audit and sample re-converge (their
    // merge laws are idempotent), and the cursor re-advance leaves an
    // unused gap in the packed sequence space (the re-emission starts
    // at the advanced cursor) — benign. The reverse order would
    // instead make that crash window SILENTLY DROP the batch's docs
    // from the training set (keepers known, nothing ever emitted).
    // an empty emission contributes nothing to the ledger or the
    // sample — skip their jobs and catalog round-trips (the replay
    // path: every table already converged). The sample table is still
    // CREATED on a first empty batch so later readers find a stamped
    // table; the matched ledger is created lazily by design (first hit).
    // The side-state updates below touch DISJOINT tables and read only
    // materialized checkpoints, so they run CONCURRENTLY on the
    // shared [[graft.DriverPool]] (Spark schedules jobs from separate
    // threads freely; each maintainer stays single-writer on ITS
    // table). All of them join before the keeper append — the commit
    // point stays last. The concurrency buys back the per-action
    // scheduling latency that dominates these model-sized updates
    // (~1.5 s/batch at sf0.1).
    val auditF = DriverPool.submit(spark)(labeled(spark, "audit") {
      if (audit && !emptySample) {
        Decontamination.auditBatch(sampled, idCol, "text",
          st.evalTable, st.matchedTable, st.matchedPath)
        ()
      }
    })
    val mergeF = DriverPool.submit(spark)(labeled(spark, "sample merge") {
      if (sampleK > 0 &&
          (!emptySample || !spark.catalog.tableExists(st.sampleTable))) {
        graft.streaming.StreamingSample.mergeBatch(
          sampled.select(col(idCol),
            Packing.shardOf(col(idCol), cfg.shards, cfg.salt).as("shard")),
          idCol, "shard", sampleK, cfg.salt, st.sampleTable, st.samplePath,
          graceMs)
        ()
      }
    })
    // cursor advance: per-shard token mass of THIS emission (each
    // doc's spans slice [tok_start, tok_end) partition its tokens, so
    // the span sum per shard IS the batch's packed token count there).
    // The new bases are ONE union-aggregate: each shard's old base plus
    // its spans' token mass. An EMPTY emission advances nothing — skip
    // the action and the swap entirely (the replay path then costs zero
    // cursor jobs), except on the very first batch, which must still
    // CREATE the stamped table for the drift guard.
    val cursorF = DriverPool.submit(spark)(labeled(spark, "cursor advance") {
      if (!emptyEmission || !cursorExists) {
        val newBases = bases.select(col("shard").cast("long").as("shard"),
            col("base"))
          .unionByName(spans.select(col("shard").cast("long").as("shard"),
            (col("tok_end") - col("tok_start")).as("base")))
          .groupBy("shard").agg(sum(col("base")).as("base"))
        // no checkpoint: the upsert writes the new generation to a
        // fresh sibling BEFORE the swap, so this plan's read of the
        // current cursor table stays valid through the write (the
        // SwapTable contract) — the former eager ckpt was one extra
        // shards-sized job per batch
        SwapTable.upsert(newBases, st.cursorTable, st.cursorPath,
          stamps = cursorStamps(cfg), graceMs = graceMs)
        ()
      }
    })
    // fuzzy sketch append BEFORE the exact commit point: a crash in
    // between replays the batch, whose accepted docs then self-match
    // (accepted — see the stage-6b note); the reverse order would let
    // a crash skip the sketches forever (exact index says
    // dup_of_history, fuzzy stage never sees the docs again). Joins
    // the same pre-commit barrier as the other three (disjoint table,
    // checkpointed inputs).
    val fuzzyF = DriverPool.submit(spark)(labeled(spark, "fuzzy sketch append") {
      fuzzyState.foreach { case (fk, existed) =>
        // the checkpointed accepted frame carries each doc's
        // (status, sig, bands), so both arms write sketches directly —
        // no second tokenize/hash pass over the accepted docs' text
        if (existed)
          IndexStore.appendMinhashSketched(fk, st.fuzzyTable,
            cfg.fuzzyShingleN, cfg.fuzzyNumHashes, cfg.fuzzyBands)
        else
          IndexStore.saveMinhash(
            IncrementalMinHash.indexRows(fk.filter(col("status") === "new")),
            st.fuzzyTable, st.fuzzyPath, buckets, cfg.fuzzyShingleN,
            cfg.fuzzyNumHashes, cfg.fuzzyBands)
      }
    })
    // join ALL four before propagating any failure: rethrowing on the
    // first failed future would leave the others still mutating their
    // tables in the background while the caller already retries the
    // batch — two concurrent upserts on one cursor table is exactly
    // the corruption the single-writer contract exists to prevent.
    val whats = Seq("audit", "sample", "cursor", "fuzzy")
    val joined = whats.zip(DriverPool.awaitAll(Seq(auditF, mergeF, cursorF, fuzzyF)))
    joined.collectFirst { case (what, scala.util.Failure(e)) =>
      throw new RuntimeException(
        s"processBatch: the $what state update failed (all state " +
          "updates have been joined; replay the batch — state " +
          "converges by the merge laws)", e)
    }
    // the commit point (see ordering note above)
    labeled(spark, "keeper append (commit)") {
      if (dedupExists) IndexStore.appendExactKeepers(classified, st.dedupTable)
      else IndexStore.saveExact(
        classified.filter(col("status") === "new")
          .select(col("content_hash"), col("doc_id").as("keep_id")),
        st.dedupTable, st.dedupPath, buckets)
    }
    // release the per-batch checkpoints (spans — the returned frame —
    // keeps its own); a long batch loop must not pin one batch-sized
    // RDD pair per call in the block manager (`sampled` is a plain
    // filter, which release skips, when no side artifact reads it)
    graft.CacheScope.release(
      (Seq(sampled, classified) ++ fuzzyState.map(_._1)): _*)
    spans
  }

  /** Thread-local job label around an action (guide §1.5) — restores
    * the previous description so the caller's labeling survives. */
  private def labeled[T](spark: org.apache.spark.sql.SparkSession,
      what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pipeline: $what")
    try body finally sc.setJobDescription(prev)
  }

  private def cursorStamps(cfg: Pipeline.Config): Seq[(String, String)] = Seq(
    SaltKey -> cfg.salt, TargetKey -> cfg.targetTokens.toString,
    ShardsKey -> cfg.shards.toString)
}
