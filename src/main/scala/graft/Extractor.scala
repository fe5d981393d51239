package graft

import graft.harmony.Harmony
import graft.model.{DdStudy, StudyConfig, TableType}
import graft.operators._
import graft.sources.CsvSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The extraction orchestrator — the `DataCsvToObject` pipeline
 * (ref: wstlr/extractor.py:207-373) as one lazy Spark plan per active
 * table:
 *
 *   CSV scan (BOM/delimiter/multi-file, all-string)
 *     -> header normalization
 *     -> aggregator pivot (regex columns -> coding array, with the DD's
 *        desc->varname substitutions and harmony display texts)
 *     -> `_display` derived columns from the harmony display map
 *     -> group_by nesting or embed join, per the table's TableType
 *
 * The display map is derived once per harmony file set, not once per
 * table: tables that share a `code_harmonization` share its map.
 *
 * Plan-level pruning: inactive tables simply never build a sub-plan
 * (SURVEY.md §4). Embedded tables don't appear as top-level outputs —
 * they ride inside their target table's array column, `[]`-filled
 * (extractor.py:255-266,353-366).
 */
object Extractor {

  /**
   * Build the extracted DataFrame per active table. `dataDir` prefixes
   * relative file names from the config (the reference resolves paths
   * against the project root). `harmony` holds already-read harmony
   * mappings keyed by their `code_harmonization` value; a file set
   * without one is read here.
   */
  def extract(
      spark: SparkSession,
      config: StudyConfig,
      dd: Option[DdStudy] = None,
      dataDir: String = "",
      harmony: Map[String, Harmony.Mappings] = Map.empty): Map[String, DataFrame] = {

    def resolvePaths(filenames: String): Seq[String] =
      CsvSource.fileList(filenames).map { f =>
        CsvSource.resolveUnder(dataDir)(f)
      }

    // harmony display map per file set: local code -> display
    // (extractor.py:274-282)
    val displayMaps: Map[String, Map[String, String]] =
      config.activeDatasets.values.filter(_.embed.isEmpty).flatMap(_.codeHarmonization)
        .toSeq.distinct.map { h =>
          h -> Harmony.displayMap(harmony.getOrElse(h, Harmony.read(spark, resolvePaths(h))))
        }.toMap

    // embedded tables keyed by their target dataset (extractor.py:255-266)
    val embeds = config.activeDatasets.collect {
      case (name, t) if t.embed.isDefined =>
        val emb = t.embed.get
        val child = NormalizeColumns(
          CsvSource.read(spark, resolvePaths(t.filename), t.delimiter, withRowId = true))
        (emb.dataset, name, child, emb.joinColumn, emb.saltBuckets)
    }.toSeq

    config.activeDatasets.collect {
      case (name, t) if t.embed.isEmpty =>
        val needOrder = t.groupBy.isDefined
        val raw = NormalizeColumns(
          CsvSource.read(spark, resolvePaths(t.filename), t.delimiter, withRowId = needOrder))

        val displayMap = t.codeHarmonization.map(displayMaps)
          .getOrElse(Map.empty[String, String])

        // DD-driven desc->varname and "var:valuedesc"->code substitutions
        // (extractor.py:316, dd/variable.py:63-72)
        val varnameLookup = dd.flatMap(_.table(name)).map(_.varnameLookup).getOrElse(Map.empty)

        val pivoted = AggregatorPivot(raw, t.aggregators, t.aggregatorSplitter,
          codeDetails = displayMap, varnameLookup = varnameLookup)

        // `<col>_display` for standard columns whose value has a display
        // (extractor.py:189-191); only standard (non-pivoted) columns
        val standardCols = pivoted.columns.toSeq
          .filterNot(c => t.aggregators.keySet.exists(a =>
            varnameLookup.getOrElse(a, a) == c) || c == Restructure.RowId)
        val displayed =
          if (displayMap.isEmpty) pivoted
          else DisplayColumns(pivoted, displayMap,
            standardCols.filter(c => pivoted.schema(c).dataType ==
              org.apache.spark.sql.types.StringType))

        val structured = t.tableType match {
          case TableType.Grouped => GroupByNest(displayed, t.groupBy.get)
          case _ => displayed.drop(Restructure.RowId)
        }

        // probe embeds after structuring (extractor.py:353-366)
        val withEmbeds = embeds.filter(_._1 == name).foldLeft(structured) {
          case (df, (_, childName, child, joinCol, saltBuckets)) =>
            EmbedJoin(df, child, childName, joinCol, saltBuckets = saltBuckets)
        }
        name -> withEmbeds
    }
  }
}
