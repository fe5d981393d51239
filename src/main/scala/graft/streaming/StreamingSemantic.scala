package graft.streaming

import graft.llm.Decontamination
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Streaming SEMANTIC decontamination against the persisted
 * eval-embedding index — [[StreamingDecontaminate]]'s sibling in
 * embedding space: each micro-batch's documents are gated by their
 * nearest-eval cosine ([[Decontamination.semanticFlagsAgainstIndex]])
 * and handed to `onBatch` annotated `contaminated` (some eval clears
 * `tau`, with the argmax `match_id` and rounded `cos` attached) or
 * `clean` — the caller routes clean rows into the corpus and flagged
 * rows into quarantine/report sinks.
 *
 * The gate is a PURE per-doc function of the fixed eval index (the
 * property that makes it batch-decomposable): the union of flagged
 * rows over any batch boundaries equals the one-shot
 * [[Decontamination.semanticFlags]] over the union — no state, no
 * accumulation step — and a re-delivered batch annotates identically,
 * so at-least-once delivery converges with nothing to dedup. One job
 * per batch: the index read is eval-sized and broadcast, the batch
 * never shuffles (the semanticFlags zero-shuffle shape).
 *
 * RESERVED OUTPUT COLUMNS: the annotation ADDS `match_id`, `cos`, and
 * `status` to the batch's own columns — a batch already carrying any
 * of those names is refused up front (silently shadowing a caller's
 * column, or handing `onBatch` an ambiguous frame, would corrupt the
 * quarantine routing downstream).
 */
object StreamingSemantic {

  /** The columns [[sink]] adds to each annotated batch. */
  val ReservedColumns: Seq[String] = Seq("match_id", "cos", "status")

  def sink(stream: DataFrame, idCol: String, vecCol: String,
      tableName: String, tau: Double,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    require(tau > 0 && tau <= 1, s"sink: tau in (0, 1], got $tau")
    // case-INsensitive clash check: Spark resolves columns
    // case-insensitively by default, so a batch column "Status" would
    // otherwise pass a case-sensitive guard and then be silently
    // REPLACED by the annotation's withColumn("status", ...)
    val reservedLower = ReservedColumns.map(_.toLowerCase)
    val clash = stream.columns.toSeq
      .filter(c => reservedLower.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"sink: batch columns ${clash.mkString(", ")} collide with the " +
        s"reserved annotation columns (${ReservedColumns.mkString(", ")}) — " +
        "rename them upstream; shadowing would corrupt the routing")
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // checkpoint once: a non-replayable source must not diverge
      // between the gate's scan and the annotation join
      val b = batch.localCheckpoint(true)
      // private-prefixed flag columns through the join (the _fid
      // discipline), final names only on the emitted frame
      val flags = Decontamination.semanticFlagsAgainstIndex(
        b, idCol, vecCol, tableName, tau, ordered = false)
        .select(col(idCol).as("_fid"), col("match_id").as("_match_id"),
          col("cos").as("_cos"))
      val annotated = b
        .join(flags, col(idCol) === col("_fid"), "left")
        .drop("_fid")
        .withColumn("status",
          when(col("_match_id").isNotNull, lit("contaminated"))
            .otherwise(lit("clean")))
        .withColumnRenamed("_match_id", "match_id")
        .withColumnRenamed("_cos", "cos")
        .localCheckpoint(true)
      // release both per-batch checkpoints once consumed
      try onBatch(annotated, batchId)
      finally graft.CacheScope.release(b, annotated)
    }
  }
}
