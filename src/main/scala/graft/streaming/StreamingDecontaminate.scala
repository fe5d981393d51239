package graft.streaming

import graft.llm.Decontamination
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Streaming decontamination against the PERSISTED eval-shingle index —
 * the streaming form of [[graft.llm.IncrementalPipeline]]'s stage 5 and
 * the fourth persisted-state sink in the engine (exact dedup:
 * [[StreamingIncremental.sinkExact]]; near-dup: sinkMinhash; coded ANN:
 * sinkCoded; eval containment: here). Two jobs per micro-batch, both
 * O(batch):
 *
 *   1. AUDIT — [[Decontamination.auditBatch]]: which eval shingles does
 *      this batch hit that nothing hit before? Newly matched
 *      (_id, _sh) pairs append to the eval-sized matched state, so
 *      [[Decontamination.containmentState]] always equals the one-shot
 *      [[Decontamination.containment]] over every batch ingested so far
 *      (the pq98 accumulation law) — the running "how burned is my eval
 *      set" report, with no corpus rescan ever.
 *   2. GATE — per-doc containment in the FIXED eval set
 *      ([[Decontamination.containmentAgainstIndex]]'s value, computed
 *      per row by the eval-key kernel the builders' drop filter runs;
 *      a pure function of the doc, which is what makes the gate
 *      batch-decomposable); each doc is
 *      annotated and classified `contaminated` (containment ≥
 *      `threshold`, inclusive on the operator's ROUNDED containment —
 *      the [[graft.llm.Pipeline]] convention) or `clean`.
 *
 * The annotated batch — original columns plus (n_shingles, n_matched,
 * containment, status) — is handed to `onBatch`; the caller routes
 * clean rows into the corpus and contaminated rows into a quarantine/
 * report sink. Both jobs read the SAME broadcast key set of the index
 * (collected once per JVM while the index is unchanged): the audit
 * shuffles only the batch's eval-matching shingles, the gate shuffles
 * nothing, and the eval side never re-shingles.
 *
 * REPLAY CONVERGENCE: a re-delivered batch's hits are already in the
 * matched state (audit appends zero rows) and the gate is stateless per
 * doc, so re-processing emits the identical annotation — at-least-once
 * delivery converges, the sinkExact discipline. The matched state is
 * append-only (no swaps), so no recover() step is needed.
 *
 * Scale: the eval index is benchmark-sized and bucketed; the matched
 * state is bounded by the index (≤ one row per eval shingle); only the
 * batch shuffles. Nothing here is corpus-sized.
 */
object StreamingDecontaminate {

  /**
   * @param stream       streaming DataFrame of documents
   * @param idCol        document id column
   * @param textCol      text column (shingled at the index's stamped n)
   * @param tableName    persisted eval-shingle index
   *                     ([[Decontamination.saveEvalShingleIndex]])
   * @param matchedTable matched-state table (created at `matchedPath`
   *                     on first use)
   * @param matchedPath  filesystem location for the matched state
   * @param threshold    drop line: containment ≥ threshold (on the
   *                     ROUNDED value) classifies `contaminated`
   * @param onBatch      receives (annotated batch, batchId); the frame
   *                     is eagerly checkpointed — safe to count/write —
   *                     and its storage is released when onBatch
   *                     returns (consume it inside the callback)
   * @param compactEvery fold the matched state's one-file-per-batch
   *                     append log every N batches through the
   *                     stamped-grace swap (0 disables) — the sibling
   *                     sinks' maintain cadence; counts batches seen by
   *                     THIS writer, so restarts don't skip windows
   * @param graceMs      swap-retention grace for the compaction
   */
  def sink(stream: DataFrame, idCol: String, textCol: String,
      tableName: String, matchedTable: String, matchedPath: String,
      threshold: Double,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      compactEvery: Long = 100, graceMs: Long = 0L)
      : DataStreamWriter[Row] = {
    require(threshold > 0 && threshold <= 1,
      s"sinkDecontaminate: threshold in (0, 1], got $threshold")
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the audit re-derives the batch's shingles; checkpoint once so
      // a non-replayable source (rate, socket) can't diverge between
      // the audit's view and the gate's
      val b = batch.localCheckpoint(true)
      Decontamination.auditBatch(b, idCol, textCol, tableName,
        matchedTable, matchedPath)
      // the per-doc gate runs as ONE zero-shuffle typed pass against
      // the broadcast eval key set (the index is eval-sized by
      // contract) — the former shape paid a per-doc aggregate, a
      // spine, and an id join per micro-batch for the same annotation
      val annotated = Decontamination.annotateContainmentAgainstIndex(
          b, idCol, textCol, tableName, threshold)
        .localCheckpoint(true)
      // release both per-batch checkpoints once consumed — a
      // long-running stream must not pin one batch-sized RDD pair per
      // micro-batch in the block manager
      try onBatch(annotated, batchId)
      finally graft.CacheScope.release(b, annotated)
      if (compactEvery > 0 && batches.incrementAndGet() % compactEvery == 0)
        Decontamination.compactMatched(batch.sparkSession, matchedTable,
          matchedPath, graceMs)
    }
  }
}
