package graft.streaming

import graft.llm.{IncrementalDedup, IncrementalMinHash, IndexStore, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Streaming incremental dedup against a PERSISTED index: every arriving
 * document is classified `dup_of_history` (its content hash is already
 * in the index — `dup_of` = the historical keeper) or `new`, via a
 * STREAM-STATIC join — the streaming sibling of
 * [[graft.llm.IncrementalDedup.classify]] and the third streaming
 * mechanism in the engine (keyed state: [[StreamingDedup]] /
 * [[StreamingSessionize]]; watermarked windows:
 * [[StreamingExtract]]; stream-static join: here).
 *
 * Stateless by design: history lives in the static index relation, not
 * the state store, so ingesting a year of backfill holds ZERO streaming
 * state — Spark re-plans the static side into each micro-batch as an
 * ordinary join (broadcast when small, shuffle otherwise). In-stream
 * duplicates (two arrivals of the same unseen content) are out of
 * scope here and both classify `new`; route the stream through
 * [[StreamingDedup]] first (keyed state, min-id keeper) when in-stream
 * dedup is needed — the two compose because this operator is a pure
 * projection + join.
 *
 * Output per arrival: (doc_id, content_hash, status, dup_of) with
 * dup_of null for `new` rows — [[graft.llm.IncrementalDedup.classify]]
 * minus the in-batch tier, which is exactly what statelessness buys.
 */
object StreamingIncremental {

  /**
   * @param stream streaming DataFrame of documents
   * @param index  STATIC (content_hash, keep_id) relation —
   *               [[graft.llm.IncrementalDedup.buildIndex]] output read
   *               from its persisted location
   */
  def classify(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame =
    stream
      .select(col(idCol).as("doc_id"),
        TextOps.md5Hex(col(textCol)).as("content_hash"))
      .join(index.select(col("content_hash"), col("keep_id").as("_hist")),
        Seq("content_hash"), "left")
      .select(
        col("doc_id"),
        col("content_hash"),
        when(col("_hist").isNotNull, lit("dup_of_history"))
          .otherwise(lit("new")).as("status"),
        col("_hist").as("dup_of"))

  /**
   * The MAINTAINING sink: classify each micro-batch against the
   * bucketed [[graft.llm.IndexStore]] exact-index table, hand the
   * classified batch to `onBatch`, append the batch's accepted keepers
   * back into the table, and run [[graft.llm.IndexStore.maintain]] on a
   * batch-count cadence — the full closed loop [[classify]] leaves
   * open (its static index never learns).
   *
   * foreachBatch rather than a stream-static join because the loop
   * MUTATES the static side: each batch is classified with the full
   * batch-level [[graft.llm.IncrementalDedup.classify]] (so in-batch
   * duplicates get the `dup_in_batch` tier the stateless join can't
   * give), then `status = new` keepers are appended O(batch) via
   * [[graft.llm.IndexStore.appendExactKeepers]], so batch N+1's join
   * sees batch N's keepers through the table. The table is re-resolved
   * from the catalog EVERY batch — maintain() swaps the table's
   * location, and a held DataFrame would go stale.
   *
   * REPLAY-IDEMPOTENT for the index: foreachBatch re-delivers a batch
   * after a failure, but a replayed batch finds its own keepers already
   * in the table, classifies them `dup_of_history`, and appends ZERO
   * rows — the index converges to the same contents regardless of
   * replays. (The `onBatch` output of a replayed batch labels those
   * rows `dup_of_history` rather than `new`/`dup_in_batch`, with
   * `dup_of` = the first delivery's identical keeper ids — downstream
   * sinks that must not observe the relabel should dedup on doc_id.)
   *
   * The classified batch is eagerly localCheckpoint'ed before anything
   * consumes it: classify must run exactly once, BEFORE the append
   * starts adding files to the very table it reads.
   *
   * Caller sets checkpointLocation/trigger on the returned writer and
   * `.start()`s it. Maintenance runs inline in the micro-batch (the
   * single-writer discipline maintain's swap requires).
   *
   * RESTART SELF-HEALING: the first thing every micro-batch does is
   * [[graft.llm.IndexStore.recover]] — a crash inside maintain's swap
   * (between DROP and RENAME) otherwise leaves the table existing only
   * under its `_compacting` name, and a restarted stream would wedge
   * on table-not-found before the cadence's maintain (which holds the
   * recovery logic) ever ran.
   *
   * RETRACTIONS: `retractions` composes a takedown feed with the loop
   * without stopping it — called once per micro-batch (BEFORE
   * classify, so a batch never matches a keeper being retracted in the
   * same cycle); when it returns ids,
   * [[graft.llm.IndexStore.retract]] rewrites the index minus those
   * keepers — or, with `tombstoneRetractions = true`,
   * [[graft.llm.IndexStore.tombstone]] records them O(ids) and the
   * cadence's maintain folds them physically (the right mode when the
   * feed fires often and the index is large: takedown latency stays
   * independent of index size). Return ids not yet applied (e.g. new
   * arrivals on a takedown table since the last batch); returning the
   * same ids twice is harmless — a second retract of absent ids is a
   * probe (and a re-tombstone a dedup), no rewrite.
   *
   * @param maintainEvery     run maintain() after every N batches
   *                          (0 disables); cadence counts batches seen
   *                          by THIS writer instance, not batchId, so
   *                          restarts don't skip maintenance windows
   * @param maxFilesPerBucket forwarded to maintain()'s probe
   * @param rebucketTo        forwarded to maintain(): set it when the
   *                          index has outgrown its creation-time
   *                          bucket count — the FIRST cadence after a
   *                          (re)start rewrites at the new count, and
   *                          later cadences are ordinary (maintain's
   *                          rebucket is a no-op once counts match)
   * @param retractions       per-batch takedown feed: keeper ids to
   *                          remove from the index before classifying
   *                          this batch (None = nothing to retract)
   * @param tombstoneRetractions route the feed through tombstone()
   *                          (O(ids) latency, folded at the cadence)
   *                          instead of retract()'s full rewrite
   * @param graceMs           snapshot-retention grace forwarded to
   *                          retract/maintain/vacuum: pre-swap index
   *                          files stay on disk this long so searches
   *                          in OTHER sessions running concurrently
   *                          with maintenance never hit deleted files
   *                          (set it above the longest concurrent
   *                          read; 0 reclaims immediately)
   */
  def sinkExact(stream: DataFrame, idCol: String, textCol: String,
      tableName: String, onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      maintainEvery: Long = 100, maxFilesPerBucket: Int = 16,
      rebucketTo: Option[Int] = None,
      retractions: (SparkSession, Long) => Option[DataFrame] = (_, _) => None,
      graceMs: Long = 0L, tombstoneRetractions: Boolean = false)
      : DataStreamWriter[Row] = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      IndexStore.recover(spark, tableName)
      retractions(spark, batchId).foreach { ids =>
        if (tombstoneRetractions) IndexStore.tombstone(spark, tableName, ids)
        else IndexStore.retract(spark, tableName, ids, graceMs = graceMs)
        ()
      }
      val classified = IncrementalDedup.classify(
        batch, IndexStore.exactIndex(spark, tableName), idCol, textCol)
        .localCheckpoint(true)
      onBatch(classified, batchId)
      IndexStore.appendExactKeepers(classified, tableName)
      if (maintainEvery > 0 && batches.incrementAndGet() % maintainEvery == 0) {
        IndexStore.maintain(spark, tableName, maxFilesPerBucket,
          rebucketTo = rebucketTo, graceMs = graceMs)
        ()
      }
    }
  }

  /**
   * The near-dup sibling of [[sinkExact]]: classify each micro-batch
   * against the bucketed MinHash band-index table
   * ([[graft.llm.IncrementalMinHash.classifyBandedSketched]] over the
   * batch's [[graft.llm.IncrementalMinHash.sketchTotal]] — candidates by
   * band-key equality, verified by the signature-match estimate),
   * append the accepted docs' banded sketch rows O(batch), and run
   * maintenance on cadence. Sketch parameters must match the table's
   * stamped properties — drift fails fast before any job runs
   * (the [[graft.llm.IndexStore.minhashIndex]] guard).
   *
   * The sketch-carrying classification is checkpointed once per
   * micro-batch: `onBatch` gets its (doc_id long, status, dup_of)
   * projection — [[graft.llm.IncrementalMinHash.classify]]'s contract,
   * one row per distinct id — and the append writes the sketches it
   * carries, so each doc is sketched once. Nothing outlives the batch
   * but that checkpoint (as in [[sinkExact]], Spark's context cleaner
   * frees its blocks once the micro-batch's frames are unreachable); the
   * batch sketch's own checkpoint is dropped as soon as the
   * classification's is taken.
   *
   * Replay convergence holds here too: a re-delivered accepted doc
   * finds its own banded sketch in the table (all bands equal, match
   * count = numHashes ≥ minMatch), classifies `dup_of_history`, and
   * appends nothing. Restart self-healing
   * ([[graft.llm.IndexStore.recover]] first thing every batch) and the
   * `retractions` takedown feed work exactly as on [[sinkExact]].
   */
  def sinkMinhash(stream: DataFrame, idCol: String, textCol: String,
      tableName: String, onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3, minMatch: Int = 5,
      maintainEvery: Long = 100, maxFilesPerBucket: Int = 16,
      rebucketTo: Option[Int] = None,
      retractions: (SparkSession, Long) => Option[DataFrame] = (_, _) => None,
      graceMs: Long = 0L, tombstoneRetractions: Boolean = false)
      : DataStreamWriter[Row] = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      IndexStore.recover(spark, tableName)
      retractions(spark, batchId).foreach { ids =>
        if (tombstoneRetractions) IndexStore.tombstone(spark, tableName, ids)
        else IndexStore.retract(spark, tableName, ids, graceMs = graceMs)
        ()
      }
      // the classify plan reads the sketch on several branches: a lazy
      // checkpoint computes it once, and is dropped once the
      // classification (which carries the sketches on) is checkpointed
      val sketched = IncrementalMinHash.sketchTotal(
          batch.select(col(idCol), col(textCol)), idCol, textCol, shingleN,
          numHashes, bands)
        .localCheckpoint(false)
      val classified =
        try IncrementalMinHash.classifyBandedSketched(sketched,
            IndexStore.minhashIndex(spark, tableName, shingleN, numHashes, bands),
            numHashes, bands, minMatch)
          .select(col("_id"), col("status"), col("dup_of"), col("_sig"),
            col("_bands"))
          .localCheckpoint(true)
        finally graft.CacheScope.release(sketched)
      onBatch(IncrementalMinHash.contractRows(classified), batchId)
      IndexStore.appendMinhashSketched(classified, tableName, shingleN,
        numHashes, bands)
      if (maintainEvery > 0 && batches.incrementAndGet() % maintainEvery == 0) {
        IndexStore.maintain(spark, tableName, maxFilesPerBucket,
          rebucketTo = rebucketTo, graceMs = graceMs)
        ()
      }
    }
  }

  /**
   * The VECTOR sibling of [[sinkExact]]: a maintaining streaming sink
   * for the cell-partitioned IVF-PQ index
   * ([[graft.llm.IndexStore.saveCoded]]). Each micro-batch's vectors
   * are IVF-assigned + PQ-encoded with the INDEX'S OWN centroids and
   * codebooks (an ANN index is only coherent under one quantizer —
   * appending rows encoded differently corrupts every ADC distance,
   * which is why [[graft.llm.IndexStore.appendCoded]] fail-fasts on
   * the stamped (nlist, m)), then appended O(batch) into their cells'
   * directories. Searches against the table see batch N's vectors from
   * batch N+1 on (same-session readers should `refreshTable`).
   *
   * REPLAY-IDEMPOTENT — under the ONE-IMMUTABLE-VECTOR-PER-ID
   * contract: before appending, the batch's ids are probed against the
   * table PARTITION-PRUNED to the batch's own cells (the batch's cells
   * are known from its encoding — the probe reads ~|batch cells|/nlist
   * of the index, never a full scan); rows whose id is already present
   * classify `already_indexed` and are not re-appended, so a
   * re-delivered batch converges to identical index contents. That
   * convergence REQUIRES each id's vector to be immutable across
   * deliveries (the same in-batch-uniqueness discipline, across
   * batches): a re-arrival carrying a CHANGED vector can IVF-assign to
   * a different cell, where the cell-pruned probe cannot see the old
   * row — it classifies `new` and the id is indexed twice (a search
   * can then return the same id as two neighbors). By default this
   * sink is therefore an insert-only index: route updates as a
   * retraction of the old id (the `retractions` feed) followed by a
   * re-submission — or set `allowUpdates = true` for a true
   * update-in-place path (below). `onBatch` receives
   * (id, list, codes, status) with status ∈ {new, already_indexed}
   * (+ `updated` when `allowUpdates`).
   *
   * UPDATES (`allowUpdates = true`): the probe switches from
   * cell-pruned to a BY-ID probe through the `<table>_idmap` SIDECAR
   * ([[graft.llm.IndexStore.probeCodedByIds]]) — a tiny (id, cell)
   * map, built from the index on first use and kept complete by every
   * append, names each batch id's OLD cells, and the index scan is
   * partition-pruned to exactly those — so a re-delivered id is found
   * wherever its old row lives at O(batch) cost (the `_tombstones`
   * discipline applied to the update problem; the pre-sidecar form
   * read the full (id, list, codes) index every batch). An id whose
   * re-arrival encodes to the same (cell, codes) classifies
   * `already_indexed` (a replay — appends nothing); one whose
   * encoding CHANGED classifies `updated` and is handled as
   * retract-old-rows + append-new-row inside the batch, so a search
   * never returns one id twice, and a pre-existing double-indexed id
   * self-heals to one row on its next update. Stale sidecar entries
   * (updated/retracted rows) cost a pruned cell read and match
   * nothing; the maintenance cadence folds them via
   * [[graft.llm.IndexStore.rebuildIdmap]]. A crash between the
   * retract and the append replays as `new` and converges identically.
   *
   * RETRACTIONS: the takedown feed applies
   * [[graft.llm.IndexStore.retractCoded]] per batch BEFORE the encode/
   * probe — composing vector takedowns with the loop without stopping
   * it, mirroring [[sinkExact]]'s feed. Note retraction FORGETS: a
   * retracted id arriving again in a later batch re-indexes as `new`.
   * KEEP RETURNING ids until the takedown is OBSERVED applied (a
   * retractCoded probe of absent ids costs one pruned scan, no
   * rewrite — re-delivery is harmless): retractCoded's cell swaps are
   * per-cell atomic, so a crash mid-retraction leaves every cell
   * either fully pre- or fully post-takedown, and the re-delivered
   * ids on the replayed batch complete exactly the cells that missed
   * their swap. Mark ids "applied" only after the batch that
   * retracted them has committed — takedown compliance should rest on
   * the feed's persistence, not on a crash never happening.
   *
   * MAINTENANCE: every `maintainEvery` batches,
   * [[graft.llm.IndexStore.compactCoded]] rewrites cells that have
   * accumulated more than `maxFilesPerCell` files back to ~one file
   * each (partition-pruned dynamic overwrite — untouched cells keep
   * their files byte-identical).
   *
   * Re-training the quantizer (drifted corpus ⇒ stale centroids) is
   * deliberately NOT a streaming concern: build a new table with
   * [[graft.llm.ProductQuant.buildCodedIndex]] + saveCoded and point a
   * new sink at it — the stamped parameters make a mixed-quantizer
   * append impossible by construction.
   */
  def sinkCoded(stream: DataFrame, idCol: String, vecCol: String,
      tableName: String, centroids: Array[Array[Long]],
      model: graft.llm.ProductQuant.PqModel,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      maintainEvery: Long = 100, maxFilesPerCell: Int = 16,
      retractions: (SparkSession, Long) => Option[DataFrame] = (_, _) => None,
      graceMs: Long = 0L, allowUpdates: Boolean = false)
      : DataStreamWriter[Row] = {
    val nlist = centroids.length
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // self-heal first: a reindexCoded crashed between its DROP and
      // RENAME leaves the table only under the _compacting name —
      // recover() completes the rename so a restarted sink never
      // wedges on table-not-found (the sinkExact discipline)
      IndexStore.recover(spark, tableName)
      // then GC crash residue: a retract/compact killed mid-write
      // leaves a .spark-staging or orphaned .v* dir under the table
      // path; single-writer at batch start is the one moment deleting
      // them is provably safe
      IndexStore.cleanStagingDirs(spark, tableName)
      retractions(spark, batchId).foreach { ids =>
        IndexStore.retractCoded(spark, tableName, ids, idCol, nlist, model.m,
          graceMs = graceMs)
        ()
      }
      // eager checkpoint: the encode must run exactly once, BEFORE the
      // append starts adding files to the table the probe reads
      val coded = graft.llm.ProductQuant.buildCodedIndex(
        batch, idCol, vecCol, centroids, model, ordered = false)
        .localCheckpoint(true)
      val cells = coded.select("list").distinct()
        .collect().map(_.getInt(0)).toSeq
      if (cells.nonEmpty) {
        spark.catalog.refreshTable(tableName)
        val classified = (if (allowUpdates) {
          // by-id probe through the (id → cell) SIDECAR: finds a
          // changed vector's old row in its old cell with the index
          // scan partition-pruned to the batch ids' old cells — O(batch)
          // per batch, where the previous full (id, list, codes) pass
          // was O(index). The sidecar builds from the index on first
          // use and appendCoded keeps it complete thereafter.
          val matches = IndexStore.probeCodedByIds(spark, tableName,
              coded.select(col(idCol)), idCol)
            .select(col(idCol).as("_seen_id"), col("list").as("_old_list"),
              col("codes").as("_old_codes"))
          // one status row per (id, encoding): a pre-existing
          // double-indexed id matches TWO old rows and would otherwise
          // hand onBatch contradictory statuses for one id — 'updated'
          // (= some old row must be rewritten) wins the fold. The
          // precedence is an EXPLICIT integer priority (updated=2 >
          // new=1 > already_indexed=0) declared by `statuses` order —
          // NOT string max(), whose precedence was a lexicographic
          // accident a renamed label would silently reorder, leaving a
          // double-indexed id unretracted ('new' never co-occurs with
          // a match, so the fold only ever arbitrates the other two)
          val statuses = Seq("already_indexed", "new", "updated")
          coded.join(matches, coded(idCol) === col("_seen_id"), "left")
            .select(coded(idCol), col("list"), col("codes"),
              when(col("_seen_id").isNull, lit("new"))
                .when(col("_old_list") === col("list") &&
                  col("_old_codes") === col("codes"), lit("already_indexed"))
                .otherwise(lit("updated")).as("status"))
            .groupBy(col(idCol), col("list"), col("codes"))
            .agg(max(statuses.zipWithIndex.foldLeft(lit(null).cast("int")) {
              case (acc, (s, p)) => when(col("status") === s, lit(p)).otherwise(acc)
            }).as("_prio"))
            .select(col(idCol), col("list"), col("codes"),
              element_at(
                array(statuses.map(lit): _*), col("_prio") + 1).as("status"))
        } else {
          val seen = spark.table(tableName)
            .filter(col("list").isin(cells.map(Int.box): _*))
            .select(col(idCol).as("_seen_id"))
          coded.join(seen, coded(idCol) === col("_seen_id"), "left")
            .select(coded(idCol), col("list"), col("codes"),
              when(col("_seen_id").isNotNull, lit("already_indexed"))
                .otherwise(lit("new")).as("status"))
        }).localCheckpoint(true)
        onBatch(classified, batchId)
        // update-in-place: drop every old row of the changed ids first
        // (retractCoded rewrites only the affected cells), then append
        // their new rows with the fresh ones below
        val updatedIds = classified.filter(col("status") === "updated")
          .select(col(idCol)).distinct()
        if (allowUpdates && !updatedIds.isEmpty) {
          IndexStore.retractCoded(spark, tableName, updatedIds, idCol,
            nlist, model.m, graceMs = graceMs)
          ()
        }
        // in-batch id dedup: the table probe can't see a duplicate id
        // arriving twice in the SAME batch — without this, both rows
        // append and the id is double-indexed forever. Per-batch id
        // uniqueness is the caller contract; this keeps one row per id
        // as defense (rows are identical when the contract holds)
        val fresh = classified
          .filter(col("status") === "new" || col("status") === "updated")
          .drop("status").dropDuplicates(idCol)
        if (!fresh.isEmpty)
          IndexStore.appendCoded(fresh, tableName, nlist, model.m)
      } else onBatch(coded.withColumn("status", lit("new")), batchId)
      if (maintainEvery > 0 && batches.incrementAndGet() % maintainEvery == 0) {
        IndexStore.compactCoded(spark, tableName, nlist, model.m,
          maxFilesPerCell, graceMs = graceMs)
        // fold the sidecar's stale entries + per-batch append files
        // back to one clean (id, cell) map on the same cadence
        if (IndexStore.idmapExists(spark, tableName))
          IndexStore.rebuildIdmap(spark, tableName)
        ()
      }
    }
  }
}
