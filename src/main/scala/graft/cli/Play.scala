package graft.cli

import graft.{DriverPool, Extractor}
import graft.harmony.Harmony
import graft.model.{DdStudy, StudyConfig}
import graft.operators.Restructure
import graft.project.{Projection, ResourceBuilders}
import graft.sink.WhistleInputWriter
import graft.sources.{CsvSource, DdCsv}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.util.Try

/**
 * The `play`-equivalent orchestrator (ref: wstlr/play.py:152-497 — the
 * extraction and harmony stages; the Whistle subprocess is replaced by
 * the Catalyst projection layer in [[graft.project]], and the load stage
 * by [[graft.sink.FhirLoadSink]] which callers wire to their server).
 *
 * Stage gating mirrors the reference: extraction output rebuilds only
 * when inputs are newer ([[IncrementalRunner]], --force to override);
 * harmony ConceptMaps are ALWAYS rebuilt (ref: conceptmap.py:545-550).
 *
 * One [[run]] computes each input once: each distinct harmony file set is
 * read and materialized once and serves every consumer of the pass (the
 * ConceptMap build, the extraction's display map, and through
 * [[RunResult.harmony]] the codings lookup and the DD-metadata
 * projections), and each extracted table is a lazy local checkpoint
 * filled by its first full read. The stages that do not depend on each
 * other run side by side on [[graft.DriverPool]]. Each stage function
 * also works on its own, reading the harmony sets it needs itself.
 */
object Play {

  /** One distinct harmony file set: the config's `code_harmonization`
   *  value, its files resolved under the data dir, and the frame read
   *  from them ([[Harmony.read]]). */
  final case class HarmonySet(spec: String, paths: Seq[String], frame: DataFrame)

  /** `harmony` holds the pass's materialized harmony sets; a result
   *  without them (built by hand from the stage functions) makes
   *  [[PlayMain.studyResources]] read each set once itself. */
  final case class RunResult(
      extracted: Map[String, DataFrame],
      ddStudy: DdStudy,
      harmonyJsonPaths: Seq[String],
      whistleInputPath: Option[String],
      harmony: Seq[HarmonySet] = Nil)

  /** Parse the DD catalog declared by the config's dataset entries; the
   *  DD tables parse side by side. */
  def loadDdCatalog(spark: SparkSession, config: StudyConfig, dataDir: String): DdStudy = {
    val resolve = CsvSource.resolveUnder(dataDir) _
    val parses = config.dataset.toSeq.collect {
      case (name, t) if t.dataDictionary.exists(d => CsvSource.fileList(d.filename).nonEmpty) =>
        val ddCfg = t.dataDictionary.get
        DriverPool.submit(spark)(DdCsv.parse(spark,
          resolve(CsvSource.fileList(ddCfg.filename).head),
          config.studyId, Some(name), ddCfg.colnames,
          consentGroup = config.consentGroup))
    }
    // every parse is awaited; the first failure in table order is rethrown
    DdStudy(config.studyId, DriverPool.awaitAll(parses).map(_.get))
  }

  /** Each distinct harmony file set the config references, read once and
   *  materialized (eager local checkpoint) for a pass with several
   *  consumers. Dimension-sized by contract; the blocks are released when
   *  the frames are dropped. */
  def readHarmony(spark: SparkSession, config: StudyConfig, dataDir: String): Seq[HarmonySet] =
    harmonySets(spark, config, dataDir).map(s => s.copy(frame = s.frame.localCheckpoint(true)))

  /** Each distinct harmony file set the config references, resolved
   *  under `dataDir` and read lazily. */
  private def harmonySets(
      spark: SparkSession, config: StudyConfig, dataDir: String): Seq[HarmonySet] = {
    val resolve = CsvSource.resolveUnder(dataDir) _
    config.dataset.values.flatMap(_.codeHarmonization).toSeq.distinct.map { spec =>
      val paths = CsvSource.fileList(spec).map(resolve)
      HarmonySet(spec, paths, Harmony.read(spark, paths))
    }
  }

  /** The given sets, else the config's sets read lazily here (a study
   *  without harmony reads nothing either way). */
  private def orRead(harmony: Seq[HarmonySet], spark: SparkSession, config: StudyConfig,
      dataDir: String): Seq[HarmonySet] =
    if (harmony.nonEmpty) harmony else harmonySets(spark, config, dataDir)

  /** buildConceptMap stage (ref: play.py:334-359): one ConceptMap JSON
   *  per distinct harmony file set — always rebuilt. Returns the
   *  written paths. */
  def buildConceptMaps(
      spark: SparkSession, config: StudyConfig, dataDir: String, outDir: String,
      harmony: Seq[HarmonySet] = Nil): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    orRead(harmony, spark, config, dataDir).map { set =>
      val namePrefix = set.paths.head.split("/").last.split("\\.").head
      val groups = Harmony.conceptMapGroups(set.frame, config.curies)
      val json = Harmony.conceptMapJson(groups, namePrefix)
      val out = s"$outDir/$namePrefix.json"
      Files.write(Paths.get(out), json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out
    }
  }

  /** extractjson stage (ref: extractor.py:376-399): extraction plans plus
   *  the compatibility document, gated on input mtimes. Each table comes
   *  back as a lazy local checkpoint: the document write fills it, or,
   *  when the document is up to date, the table's first full read does,
   *  and every later read (each projection branch) reads its blocks. */
  def extractJson(
      spark: SparkSession,
      config: StudyConfig,
      dd: DdStudy,
      dataDir: String,
      outPath: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil,
      harmony: Seq[HarmonySet] = Nil): (Map[String, DataFrame], Option[String]) = {
    val tables = Extractor.extract(spark, config, Some(dd), dataDir,
        harmony.map(s => s.spec -> s.frame).toMap)
      .map { case (name, df) => name -> df.localCheckpoint(false) }
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
   *  None when the study harmonizes nothing — with its one driver-side
   *  collect. Shared by `play`'s source-data stage and the
   *  buildsrcobs/buildsrcqr mains so both project the same codings.
   *  Built from the pass's `harmony` sets, or from sets read here. */
  def harmonyLookup(spark: SparkSession, config: StudyConfig,
      dataDir: String, harmony: Seq[HarmonySet] = Nil): Option[ResourceBuilders.CodingsLookup] = {
    val sets = orRead(harmony, spark, config, dataDir)
    // continuing the file index in `_rid` across the sets orders the
    // union's rows exactly as one read of all their files would
    val offsets = sets.scanLeft(0L)(_ + _.paths.size)
    sets.zip(offsets).map { case (set, offset) =>
      set.frame.withColumn(Restructure.RowId,
        col(Restructure.RowId) + lit(offset << CsvSource.FileIndexShift))
    }.reduceOption(_ unionByName (_, allowMissingColumns = true))
      .map(all => ResourceBuilders.CodingsLookup(Harmony.codingsLookup(all)))
  }

  /** The DD-metadata projections every study gets
   *  (ref: play.py runs the dd/terms projectors unconditionally):
   *  CodeSystems/ValueSets, Observation/ActivityDefinitions, and the
   *  harmony ConceptMap resource per harmony file. */
  def ddMetaResources(
      spark: SparkSession, config: StudyConfig, dd: DdStudy,
      dataDir: String, harmony: Seq[HarmonySet] = Nil): DataFrame = {
    val study = Projection.StudyInfo(config.studyId, config.identifierPrefix, config.publisher)
    val terminology = ResourceBuilders.ddTerminology(spark, study, dd)
    val definitions = ResourceBuilders.ddDefinitions(spark, study, dd)
    // ProcessDDHarmony shape (ref: wlib_dd_conceptmap.wstl:89-92):
    // sources VS + targets VS + the ConceptMap itself per harmony file
    val cms = orRead(harmony, spark, config, dataDir).flatMap { set =>
      val df = set.frame
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

  /** Full run: DD catalog, ConceptMap JSONs, extraction (+ gated document
   *  write). Projections/sinks compose on the result.
   *
   *  The harmony sets are read and materialized first, before any task
   *  forks, so no two threads race to fill one lazy checkpoint. The
   *  ConceptMap build then runs on [[graft.DriverPool]] while this thread
   *  parses the DD (its tables side by side) and extracts and writes the
   *  document. The run waits for every task it started before it returns
   *  or throws, and rethrows the first failure in stage order: DD parse,
   *  ConceptMap build (the harmony read included), extraction. */
  def run(
      spark: SparkSession,
      config: StudyConfig,
      dataDir: String,
      outDir: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil): RunResult = {
    // a harmony read failure belongs to the ConceptMap stage
    val harmony = Try(readHarmony(spark, config, dataDir))
    val cmTask = harmony.map(h => DriverPool.submit(spark)(
      buildConceptMaps(spark, config, dataDir, s"$outDir/harmony", h)))
    val local = try Try {
      val dd = loadDdCatalog(spark, config, dataDir)
      dd -> harmony.flatMap(h => Try(extractJson(spark, config, dd, dataDir,
        s"$outDir/whistle-input/${config.studyId}.json", force, extraDeps, h)))
    } finally cmTask.foreach(t => DriverPool.awaitAll(Seq(t)))
    val (dd, extracted) = local.get
    val cmPaths = cmTask.flatMap(_.value.get).get
    val (tables, docPath) = extracted.get
    RunResult(tables, dd, cmPaths, docPath, harmony.get)
  }
}
