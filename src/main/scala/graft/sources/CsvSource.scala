package graft.sources

import graft.model.Naming
import graft.operators.Restructure
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Whistler data-table CSV reader semantics on Spark's CSV source
 * (ref: wstlr/extractor.py:151,334-351 and docs/ref/project_config.md:55-58):
 *
 *  - `utf-8-sig`: a UTF-8 BOM is stripped from the first header name;
 *  - configurable delimiter, quote char `"`;
 *  - every cell is a string (no schema inference — the DD declares types,
 *    and values stay strings through extraction, SURVEY.md §1.2);
 *  - a comma-separated file list is one table, unioned in order;
 *  - headers are normalized with `fix_fieldname` (or only lowercased, the
 *    harmony-file variant, ref: wstlr/conceptmap.py:402-403);
 *  - undeclared columns flow through (the reference's DictReader keeps
 *    everything in the header).
 *
 * Multi-file ordering: each file gets an order column `_rid` composed of
 * (file index, in-file monotonic id) so first-seen-order operators
 * (GroupByNest, BuildConceptMap) see rows in file-list order, without any
 * global sort. At cluster scale the id stays per-partition-monotonic —
 * exactly the property those operators need, and never a driver collect.
 */
object CsvSource {

  sealed trait HeaderMode
  /** `fix_fieldname` normalization (data tables). */
  case object Normalized extends HeaderMode
  /** Lowercase only (harmony files, ref: conceptmap.py:402-403). */
  case object Lowercased extends HeaderMode
  /** Keep headers verbatim (DD files apply their own alias remap). */
  case object Raw extends HeaderMode

  /** Split the config's comma-separated filename list
   *  (ref: extractor.py:334-336); entries named "none" are skipped
   *  (ref: extractor.py:337-340). */
  def fileList(filenames: String): Seq[String] =
    filenames.split(",").toSeq.map(_.trim).filter(f => f.nonEmpty && f.toLowerCase != "none")

  /** Resolve a config-relative path under `dataDir` (absolute paths and
   *  an empty dataDir pass through) — the ONE definition of how study
   *  configs locate their files; extraction, freshness checks, and the
   *  projection loaders must all agree. */
  def resolveUnder(dataDir: String)(f: String): String =
    if (dataDir.isEmpty || f.startsWith("/")) f else s"$dataDir/$f"

  /** `_rid`'s file index sits above this bit: (file index << 44) | id. */
  val FileIndexShift = 44

  def read(
      spark: SparkSession,
      paths: Seq[String],
      delimiter: String = ",",
      headerMode: HeaderMode = Normalized,
      withRowId: Boolean = false): DataFrame = {
    require(paths.nonEmpty, "CSV read requires at least one path")
    val parts = paths.zipWithIndex.map { case (path, idx) =>
      val raw = spark.read
        .option("header", "true")
        .option("delimiter", delimiter)
        .option("quote", "\"")
        .option("encoding", "UTF-8")
        .csv(path)
      val deBom = stripBom(raw)
      val named = headerMode match {
        case Normalized => deBom.toDF(deBom.columns.map(Naming.fixFieldName).toIndexedSeq: _*)
        case Lowercased => deBom.toDF(deBom.columns.map(_.toLowerCase).toIndexedSeq: _*)
        case Raw        => deBom
      }
      if (withRowId)
        // (file index << 44) | monotonic id: preserves file-list order above
        // in-file order; 44 bits leave room for partitionId<<33 ids
        named.withColumn(Restructure.RowId,
          lit(idx.toLong << FileIndexShift) + monotonically_increasing_id())
      else named
    }
    parts.reduce(_ unionByName (_, allowMissingColumns = true))
  }

  /** Strip a UTF-8 BOM that survived into the first header name
   *  (the `utf-8-sig` read, ref: extractor.py:337). */
  private def stripBom(df: DataFrame): DataFrame = {
    val cols = df.columns
    if (cols.nonEmpty && cols.head.startsWith("﻿"))
      df.withColumnRenamed(cols.head, cols.head.substring(1))
    else df
  }
}
