package graft.streaming

import graft.Presented
import graft.llm.SwapTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Streaming per-stratum corpus footprint — [[graft.llm.UrlOps.hostStats]]'
 * (stratum, n_docs, n_tokens) numbers maintained INCREMENTALLY over a
 * document stream: the source/host report that decides curation, kept
 * current while the corpus arrives forever, with no history rescans.
 *
 * Unlike [[StreamingCorpusStats]] (whose state is model-sized and
 * merges driver-side), a stratum vocabulary can be host-scale (10^7+
 * at 100 TB), so state here NEVER visits the driver and is never
 * rewritten per batch. The table is an APPEND-ONLY DELTA LOG: each
 * micro-batch contributes its own (stratum, n_docs, n_tokens,
 * batch_id) aggregate — one map-side-combined pass over the batch,
 * O(batch's strata) rows appended — and [[snapshot]] folds the deltas
 * by stratum on read. [[compact]] (on the sink's cadence) folds the
 * log physically back to one row per stratum through the
 * [[SwapTable]] stamped-grace swap, so the log's length is bounded by
 * the cadence, not the stream's lifetime.
 *
 * REPLAY FENCE: counters double-count under foreachBatch's
 * at-least-once delivery, so a batch whose id is ≤ the table's max
 * applied id is skipped whole — the [[StreamingCorpusStats]]
 * last-batch discipline, carried IN the data (each delta row names its
 * batch; compaction preserves the max), so the fence survives crashes
 * atomically with the rows it fences. Batch ids are monotone within a
 * streaming query; a fresh-checkpoint restart must replay the source
 * from the start (the engine-wide replay convention) — its ids land
 * ≤ max and skip.
 *
 * A null stratum is its own group (the [[graft.llm.UrlOps.hostStats]]
 * convention — garbage surfaces in reports instead of vanishing).
 * Single-writer by contract, like every maintainer in the engine.
 */
object StreamingFootprint {

  /** The maintaining sink: delta-append each micro-batch's stratum
    * aggregate, skip already-applied batch ids, compact the delta log
    * every `compactEvery` batches (0 disables; cadence counts batches
    * seen by THIS writer, so restarts don't skip windows). Caller sets
    * checkpointLocation and `.start()`s. */
  def sink(stream: DataFrame, groupCol: String, tokensCol: String,
      tableName: String, path: String, compactEvery: Long = 100,
      graceMs: Long = 0L): DataStreamWriter[Row] = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, groupCol, tokensCol, tableName, path)
      if (compactEvery > 0 && batches.incrementAndGet() % compactEvery == 0)
        compact(batch.sparkSession, tableName, path, graceMs)
    }
  }

  /** One batch application — exposed for batch-mode backfill and
    * tests. Returns false iff the batch id was already applied
    * (replay skipped, nothing written). */
  def applyBatch(batch: DataFrame, batchId: Long, groupCol: String,
      tokensCol: String, tableName: String, path: String): Boolean = {
    val spark = batch.sparkSession
    val agg = batch
      .select(col(groupCol).cast("string").as("stratum"),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("_t"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("n_tokens"))
      .withColumn("batch_id", lit(batchId))
    if (!spark.catalog.tableExists(tableName)) {
      // one file per delta: the batch aggregate is strata-bounded, and
      // the log must not accrete shuffle-partition-many tiny files
      agg.coalesce(1).write.option("path", path).format("parquet")
        .saveAsTable(tableName)
      true
    } else {
      // the fence rides IN the delta rows: one max() over the log's
      // batch_id column (post-compaction: one file), atomic with the
      // counts it fences — a crash can never separate them
      val applied = spark.table(tableName)
        .agg(coalesce(max(col("batch_id")), lit(-1L))).head.getLong(0)
      if (batchId <= applied) false
      else {
        agg.select(spark.table(tableName).columns.map(col).toIndexedSeq: _*)
          .coalesce(1).write.mode("append").insertInto(tableName)
        true
      }
    }
  }

  /** The report: (stratum, n_docs, n_tokens) — the delta log folded by
    * stratum on read; equals the batch aggregate over every applied
    * batch's rows (the accumulation law the spec pins). */
  def snapshot(spark: SparkSession, tableName: String,
      ordered: Boolean = true): DataFrame =
    spark.table(tableName)
      .groupBy("stratum")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .transform(Presented(_, ordered, "stratum"))

  /** Fold the delta log back to one row per stratum (batch_id = the
    * max applied id, preserving the replay fence) via the stamped-grace
    * [[SwapTable]] swap — snapshot-identical before and after, log
    * length reset to one generation. */
  def compact(spark: SparkSession, tableName: String, path: String,
      graceMs: Long = 0L): Unit = {
    val maxId = spark.table(tableName)
      .agg(coalesce(max(col("batch_id")), lit(-1L))).head.getLong(0)
    val folded = spark.table(tableName)
      .groupBy("stratum")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("batch_id", lit(maxId))
      .coalesce(1) // one folded file — the state is strata-sized
      // the swap's write reads the very table it replaces
      .localCheckpoint(true)
    try SwapTable.upsert(folded, tableName, path, graceMs = graceMs)
    finally graft.CacheScope.release(folded)
    ()
  }
}
