package graft.streaming

import graft.llm.Sampling
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Incremental per-stratum sampling against a PERSISTED sample table —
 * the maintaining-sink sibling of [[graft.llm.Sampling.topKPerStratum]]
 * for a corpus that arrives in batches: after merging batches
 * B1..Bn, the table holds EXACTLY `topKPerStratum(B1 ∪ … ∪ Bn)`
 * (the law the spec pins), with no rescan of earlier batches ever.
 *
 * WHY THIS IS EXACT: the deterministic sample keeps, per stratum, the
 * k rows with the smallest (md5(salt‖key), key) — a min-k set, which
 * is a SEMILATTICE: min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)). So the
 * per-batch merge folds the batch into the persisted min-k and the
 * union law holds inductively — unlike a classic random-reservoir, no
 * occurrence counting or replacement probability is needed, and the
 * result is independent of batch boundaries AND replay-idempotent (a
 * re-delivered key hashes identically; the (stratum, key) dedup
 * collapses it before ranking).
 *
 * CRASH SAFETY: a merge never overwrites the table in place — the
 * [[graft.llm.SwapTable]] discipline: the merged sample is written to
 * a FRESH versioned sibling directory and swapped in with ONE atomic
 * `ALTER TABLE ... SET LOCATION`; a crash before the ALTER leaves the
 * table on its old complete data (the replayed batch re-merges and
 * converges by the semilattice law); the table itself is never
 * dropped, so the (salt, k) stamps written at creation survive every
 * merge and a stamp-less or drifted table is always REFUSED as
 * foreign. Superseded directories are RETIRED with the merge's own
 * `graceMs` stamped per entry (the IndexStore retire/vacuum
 * discipline) and reclaimed at a later merge once that grace has
 * elapsed: the default 0 keeps the one-generation window (a reader
 * whose listing spans one swap finishes before the next merge); under
 * a high-frequency trigger with slow concurrent readers, set
 * `graceMs` above the longest read and a generation survives that
 * long regardless of merge cadence.
 *
 * SCALE SHAPE: each merge is O(batch) — ONE rank-limited window over
 * (existing ∪ batch), where existing is strata×k rows (model-sized,
 * never corpus-sized): each map task sorts its slice of slim (key,
 * stratum) rows and keeps <= k per stratum before the one exchange, and
 * the swap rewrites only that tiny table.
 *
 * WEIGHTED MODE ([[mergeBatchWeighted]]/[[sinkWeighted]]/
 * [[sampleWeighted]]): the same maintaining discipline drawing
 * proportionally to a weight column via sequential-Poisson max-k
 * priorities — also a semilattice, so every law above carries over;
 * the mode stamp keeps uniform and weighted tables from ever mixing.
 */
object StreamingSample {

  private val SaltKey = "graft.sample.salt"
  private val KKey = "graft.sample.k"
  private val ModeKey = "graft.sample.mode"

  /** Merge one batch into the persisted sample table (created at
    * `path` on first use; later merges write `path-v<n>` siblings).
    * Batch-callable — [[sink]] wraps it in foreachBatch. Returns the
    * table's row count after the merge. `graceMs`: how long a
    * superseded generation must survive after its swap (stamped per
    * entry — see the retention note above). */
  def mergeBatch(batch: DataFrame, keyCol: String, strataCol: String,
      k: Int, salt: String, tableName: String, path: String,
      graceMs: Long = 0L): Long = {
    val spark = batch.sparkSession
    val slim = batch.select(col(keyCol), col(strataCol))
    val exists = spark.catalog.tableExists(tableName)
    // ONE rank-limited window over (existing ∪ batch), which is
    // batch-sized (the table is strata×k rows): one exchange, none of
    // the one-shot sampler's count/broadcast/shortfall jobs. dense_rank
    // is the replay dedup: a re-delivered (key, stratum) shares its
    // copy's rank, so the copies take ONE of the k slots and the
    // distinct collapses them on the window's own partitioning.
    val merged =
      if (exists) {
        requireStamps(spark, tableName, k, salt, "uniform")
        spark.catalog.refreshTable(tableName)
        Sampling.rankedTopK(spark.table(tableName).unionByName(slim),
          keyCol, strataCol, k, salt, dense_rank()).distinct()
      } else Sampling.rankedTopK(slim, keyCol, strataCol, k, salt)
    // ONE action per merge: the swap's own write executes the merge
    // plan (SwapTable writes to a FRESH versioned sibling before the
    // ALTER, so reading the current generation during the write is
    // safe — see the upsert scaladoc), and the row count rides the
    // write as an observed metric instead of a separate ckpt+count
    // pass (guide §1.2: don't run the plan's machinery twice for a
    // number the one run already knows).
    val obs = org.apache.spark.sql.Observation()
    graft.llm.SwapTable.upsert(merged.observe(obs, count(lit(1)).as("n")),
      tableName, path,
      stamps = Seq(SaltKey -> salt, KKey -> k.toString, ModeKey -> "uniform"),
      graceMs = graceMs)
    obs.get("n").asInstanceOf[Long]
  }

  /**
   * The WEIGHTED maintaining merge — [[mergeBatch]] with rows drawn
   * proportionally to `weightCol` by the sequential-Poisson priorities
   * of [[Sampling.weightedTopKPerStratum]]. The max-k set under the
   * per-row-intrinsic priority w/u is a semilattice exactly like the
   * uniform min-k, so the union law, batch-boundary independence, and
   * replay idempotence all carry over; the table persists
   * (key, stratum, weight) so later merges re-rank on exact values.
   *
   * Weights must be a pure function of the key (length, quality score,
   * duplicate count AT the batch's view — see the caveat below); a
   * key re-delivered with a CONFLICTING weight folds deterministically
   * to the max (monotone, so replays can only promote — but the
   * one-shot union law is only guaranteed under consistent weights).
   * The mode stamp carries the weight column name: a weighted table
   * refuses uniform merges and vice versa, and a different weight
   * column refuses too.
   */
  def mergeBatchWeighted(batch: DataFrame, keyCol: String, strataCol: String,
      weightCol: String, k: Int, salt: String, tableName: String,
      path: String, graceMs: Long = 0L): Long = {
    val spark = batch.sparkSession
    val slim = batch.select(col(keyCol), col(strataCol), col(weightCol))
    val exists = spark.catalog.tableExists(tableName)
    val mode = weightedMode(weightCol)
    val merged =
      if (exists) {
        requireStamps(spark, tableName, k, salt, mode)
        spark.catalog.refreshTable(tableName)
        dedupMaxWeight(spark.table(tableName).unionByName(slim),
          keyCol, strataCol, weightCol)
          .transform(Sampling.weightedTopKPerStratum(_, keyCol, strataCol,
            weightCol, k, salt))
      } else dedupMaxWeight(slim, keyCol, strataCol, weightCol)
        .transform(Sampling.weightedTopKPerStratum(_, keyCol, strataCol,
          weightCol, k, salt))
    // one action per merge — the swap write runs the plan, the count
    // rides it as an observed metric (see mergeBatch)
    val obs = org.apache.spark.sql.Observation()
    graft.llm.SwapTable.upsert(merged.observe(obs, count(lit(1)).as("n")),
      tableName, path,
      stamps = Seq(SaltKey -> salt, KKey -> k.toString, ModeKey -> mode),
      graceMs = graceMs)
    obs.get("n").asInstanceOf[Long]
  }

  /** Deterministic duplicate resolution for the weighted merge: a
    * (stratum, key) delivered twice keeps its max weight — replays
    * with the contract-consistent weight collapse to one row, and a
    * conflicting replay resolves the same way on every engine. */
  private def dedupMaxWeight(df: DataFrame, keyCol: String,
      strataCol: String, weightCol: String): DataFrame =
    df.groupBy(col(keyCol), col(strataCol))
      .agg(max(col(weightCol)).as(weightCol))

  private def weightedMode(weightCol: String): String = {
    require(!weightCol.contains("'"), s"weight column name must not quote: $weightCol")
    s"weighted:$weightCol"
  }

  /** The current sample, parameter-checked against the stamps. */
  def sample(spark: SparkSession, tableName: String, k: Int,
      salt: String): DataFrame = {
    requireStamps(spark, tableName, k, salt, "uniform")
    spark.catalog.refreshTable(tableName)
    spark.table(tableName)
  }

  /** The current WEIGHTED sample, parameter-checked against the stamps
    * (including the weight column the table was built on). */
  def sampleWeighted(spark: SparkSession, tableName: String, k: Int,
      salt: String, weightCol: String): DataFrame = {
    requireStamps(spark, tableName, k, salt, weightedMode(weightCol))
    spark.catalog.refreshTable(tableName)
    spark.table(tableName)
  }

  /** The maintaining streaming sink: [[mergeBatch]] per micro-batch.
    * Caller sets checkpointLocation/trigger and `.start()`s it. Replay
    * convergence is the semilattice law — a re-delivered batch merges
    * to the identical table. */
  def sink(stream: DataFrame, keyCol: String, strataCol: String,
      k: Int, salt: String, tableName: String, path: String,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      graceMs: Long = 0L): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(mergeBatch(batch, keyCol, strataCol, k, salt, tableName, path,
        graceMs), batchId)
    }

  /** The weighted maintaining sink: [[mergeBatchWeighted]] per
    * micro-batch, same replay-convergence law. */
  def sinkWeighted(stream: DataFrame, keyCol: String, strataCol: String,
      weightCol: String, k: Int, salt: String, tableName: String,
      path: String, onBatch: (Long, Long) => Unit = (_, _) => (),
      graceMs: Long = 0L): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(mergeBatchWeighted(batch, keyCol, strataCol, weightCol, k,
        salt, tableName, path, graceMs), batchId)
    }

  private def requireStamps(spark: SparkSession, tableName: String,
      k: Int, salt: String, mode: String): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $tableName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def stamp(key: String): String = props.getOrElse(key, sys.error(
      s"$tableName carries no $key stamp — not a StreamingSample table; " +
        "re-create through mergeBatch"))
    require(stamp(SaltKey) == salt && stamp(KKey) == k.toString,
      s"$tableName was built with salt=${stamp(SaltKey)} k=${stamp(KKey)}, " +
        s"but this merge uses salt=$salt k=$k — mixing samples built on " +
        "different knobs silently corrupts the min-k law; rebuild or pass " +
        "the stamped knobs")
    // pre-ModeKey tables (all uniform by construction) read as uniform
    val tableMode = props.getOrElse(ModeKey, "uniform")
    require(tableMode == mode,
      s"$tableName was built in mode=$tableMode but this call is mode=$mode " +
        "— a uniform min-k and a weighted max-k table are different samples; " +
        "rebuild or route through the matching merge/sample call")
  }
}
