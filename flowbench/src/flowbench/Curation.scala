package flowbench

import graft.llm.{IncrementalPipeline, IndexStore, Pipeline}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * The maintaining curation flow: every batch through
 * IncrementalPipeline.processBatch (fuzzy dedup, decontamination against
 * the persisted eval index, sampling and audit on), the emission
 * collected (consumed) and released, and IndexStore.maintain over the
 * keeper and band indexes every `maintainEvery` batches.
 */
final class Curation(spark: SparkSession, inputDir: String, workDir: String) {

  val cfg: Pipeline.Config = Pipeline.Config(minTokens = 5, maxTokens = 10000,
    minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0, minTtr = 0.05,
    maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0, sampleRate = 0.7,
    targetTokens = 64, shards = 4, salt = "flowbench", decontamShingleN = 3,
    decontamThreshold = 0.8, fuzzyDedup = true)
  val st: IncrementalPipeline.State =
    IncrementalPipeline.State("flowbench_curation", s"$workDir/curation-state")
  val buckets = 8
  val sampleK = 8
  val maintainEvery = 3
  val maxFilesPerBucket = 2

  val batchFiles: Seq[String] =
    Option(new java.io.File(s"$inputDir/batches").listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  /** Program state built before timing: the persisted eval-shingle
   *  index. */
  def setup(): Unit = {
    IncrementalPipeline.reset(spark, st)
    IncrementalPipeline.saveEvalIndex(
      spark.read.parquet(s"$inputDir/eval.parquet"), "doc_id", "text", cfg, st,
      buckets = buckets)
  }

  /** Fresh corpus state (keeps the eval index): each flow starts empty. */
  def resetCorpus(): Unit = IncrementalPipeline.resetCorpusState(spark, st)

  final case class BatchOut(rows: Seq[(Int, Long, Long, Long, Long)], seconds: Double)

  /** One batch: processBatch, the emission consumed, then released. */
  def batch(tr: Tracer, file: String): BatchOut = tr.span("llm.batch") {
    val t0 = System.nanoTime()
    val spans = IncrementalPipeline.processBatch(spark.read.parquet(file), "doc_id", "text",
      cfg, st, sampleK = sampleK, audit = true, buckets = buckets)
    val rows = spans.collect().toSeq.map(r => (r.getAs[Number]("shard").intValue,
      r.getAs[Number]("seq_id").longValue, r.getAs[Number]("doc_id").longValue,
      r.getAs[Number]("tok_start").longValue, r.getAs[Number]("tok_end").longValue))
    IncrementalPipeline.releaseEmission(spans)
    BatchOut(rows, (System.nanoTime() - t0) / 1e9)
  }

  /** Compacts the keeper and band indexes; true per index rewritten. */
  def maintain(tr: Tracer): Seq[Boolean] = tr.span("llm.maintain") {
    Seq(st.dedupTable, st.fuzzyTable).filter(t => spark.catalog.tableExists(t))
      .map(t => IndexStore.maintain(spark, t, maxFilesPerBucket = maxFilesPerBucket))
  }

  /** Index rows plus bytes and files of all persisted state (traced only). */
  def state(tr: Tracer): (Long, Long, Long) = tr.span("llm.state") {
    val rows = Seq(st.dedupTable, st.fuzzyTable).filter(t => spark.catalog.tableExists(t))
      .map(t => spark.table(t).count()).sum
    val (bytes, files) = Host.dirStats(st.basePath)
    (rows, bytes, files)
  }

  /** The doc texts of one batch file, by id (for the output checks). */
  def texts(file: String): Map[Long, String] =
    spark.read.parquet(file).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
}

/** Output checks across one flow's emissions. */
final class CurationChecks {
  private val emittedIds = mutable.HashSet.empty[Long]
  private val keeperHashes = mutable.HashSet.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0

  private def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += what
  }

  def batch(index: Int, replay: Boolean, docIds: Set[Long], texts: Map[Long, String]): Unit = {
    check(docIds.forall(id => !emittedIds.contains(id)),
      s"batch $index re-emits ids ${docIds.intersect(emittedIds).take(5)}")
    val hashes = docIds.toSeq.map(id => Study.sha(texts.getOrElse(id, s"<missing $id>")))
    check(hashes.distinct.size == hashes.size && hashes.forall(h => !keeperHashes.contains(h)),
      s"batch $index emits a doc whose content repeats a keeper")
    if (replay) check(docIds.isEmpty, s"replayed batch $index emitted ${docIds.size} docs")
    emittedIds ++= docIds
    keeperHashes ++= hashes
  }
}
