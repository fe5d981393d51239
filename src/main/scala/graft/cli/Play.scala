package graft.cli

import graft.Extractor
import graft.harmony.Harmony
import graft.model.{DdStudy, StudyConfig}
import graft.project.{Projection, ResourceBuilders}
import graft.sink.WhistleInputWriter
import graft.sources.{CsvSource, DdCsv}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/**
 * The `play`-equivalent orchestrator (ref: wstlr/play.py:152-497 — the
 * extraction and harmony stages; the Whistle subprocess is replaced by
 * the Catalyst projection layer in [[graft.project]], and the load stage
 * by [[graft.sink.FhirLoadSink]] which callers wire to their server).
 *
 * Stage gating mirrors the reference: extraction output rebuilds only
 * when inputs are newer ([[IncrementalRunner]], --force to override);
 * harmony ConceptMaps are ALWAYS rebuilt (ref: conceptmap.py:545-550).
 */
object Play {

  final case class RunResult(
      extracted: Map[String, DataFrame],
      ddStudy: DdStudy,
      harmonyJsonPaths: Seq[String],
      whistleInputPath: Option[String])

  /** Parse the DD catalog declared by the config's dataset entries. */
  def loadDdCatalog(spark: SparkSession, config: StudyConfig, dataDir: String): DdStudy = {
    val resolve = CsvSource.resolveUnder(dataDir) _
    val tables = config.dataset.toSeq.collect {
      case (name, t) if t.dataDictionary.exists(d => CsvSource.fileList(d.filename).nonEmpty) =>
        val ddCfg = t.dataDictionary.get
        DdCsv.parse(spark, resolve(CsvSource.fileList(ddCfg.filename).head),
          config.studyId, Some(name), ddCfg.colnames,
          consentGroup = config.consentGroup)
    }
    DdStudy(config.studyId, tables)
  }

  /** buildConceptMap stage (ref: play.py:334-359): one ConceptMap JSON
   *  per distinct harmony file set — always rebuilt. Returns the
   *  written paths. */
  def buildConceptMaps(
      spark: SparkSession, config: StudyConfig, dataDir: String, outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    harmonyFileSets(config, dataDir).map { paths =>
      val namePrefix = paths.head.split("/").last.split("\\.").head
      val groups = Harmony.conceptMapGroups(Harmony.read(spark, paths), config.curies)
      val json = Harmony.conceptMapJson(groups, namePrefix)
      val out = s"$outDir/$namePrefix.json"
      Files.write(Paths.get(out), json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out
    }
  }

  /** extractjson stage (ref: extractor.py:376-399): extraction plans plus
   *  the compatibility document, gated on input mtimes. */
  def extractJson(
      spark: SparkSession,
      config: StudyConfig,
      dd: DdStudy,
      dataDir: String,
      outPath: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil): (Map[String, DataFrame], Option[String]) = {
    val tables = Extractor.extract(spark, config, Some(dd), dataDir)
    val written =
      if (IncrementalRunner.needsRebuild(outPath, config, dataDir,
          extraDeps = extraDeps, force = force)) {
        Files.createDirectories(Paths.get(outPath).getParent)
        WhistleInputWriter.write(outPath, config, dd, tables)
        Some(outPath)
      } else None
    (tables, written)
  }

  /** The study-wide $HarmonizeCode lookup: one broadcastable coding
   *  table over every distinct harmony file the config references —
   *  None when the study harmonizes nothing. Shared by `play`'s
   *  source-data stage and the buildsrcobs/buildsrcqr mains so both
   *  project the same codings. */
  def harmonyLookup(spark: SparkSession, config: StudyConfig,
      dataDir: String): Option[DataFrame] = {
    val fileSets = harmonyFileSets(config, dataDir)
    if (fileSets.isEmpty) None
    else Some(Harmony.codingsLookup(Harmony.read(spark, fileSets.flatten)))
  }

  /** Each distinct harmony file set the config references, resolved
   *  under `dataDir`. */
  private def harmonyFileSets(config: StudyConfig, dataDir: String): Seq[Seq[String]] = {
    val resolve = CsvSource.resolveUnder(dataDir) _
    config.dataset.values.flatMap(_.codeHarmonization).toSeq.distinct
      .map(h => CsvSource.fileList(h).map(resolve))
  }

  /** The DD-metadata projections every study gets
   *  (ref: play.py runs the dd/terms projectors unconditionally):
   *  CodeSystems/ValueSets, Observation/ActivityDefinitions, and the
   *  harmony ConceptMap resource per harmony file. */
  def ddMetaResources(
      spark: SparkSession, config: StudyConfig, dd: DdStudy,
      dataDir: String): DataFrame = {
    val study = Projection.StudyInfo(config.studyId, config.identifierPrefix, config.publisher)
    val terminology = ResourceBuilders.ddTerminology(spark, study, dd)
    val definitions = ResourceBuilders.ddDefinitions(spark, study, dd)
    // ProcessDDHarmony shape (ref: wlib_dd_conceptmap.wstl:89-92):
    // sources VS + targets VS + the ConceptMap itself per harmony file
    val cms = harmonyFileSets(config, dataDir).flatMap { paths =>
      val df = Harmony.read(spark, paths)
      Seq(
        ResourceBuilders.harmonyValueSet(
          Harmony.sourceCodeGroups(df, config.curies, config.consentGroup), study, "sources"),
        ResourceBuilders.harmonyValueSet(
          Harmony.targetCodeGroups(df, config.curies), study, "targets"),
        ResourceBuilders.harmonyConceptMap(
          Harmony.conceptMapGroups(df, config.curies), study))
    }
    (Seq(terminology, definitions) ++ cms).reduce(_ unionByName _)
  }

  /** Full run: DD catalog -> ConceptMap JSONs -> extraction (+ gated
   *  document write). Projections/sinks compose on the result. */
  def run(
      spark: SparkSession,
      config: StudyConfig,
      dataDir: String,
      outDir: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil): RunResult = {
    val dd = loadDdCatalog(spark, config, dataDir)
    val cmPaths = buildConceptMaps(spark, config, dataDir, s"$outDir/harmony")
    val (tables, docPath) = extractJson(spark, config, dd, dataDir,
      s"$outDir/whistle-input/${config.studyId}.json", force, extraDeps)
    RunResult(tables, dd, cmPaths, docPath)
  }
}
