package graft.cli

import graft.{DriverPool, Extractor}
import graft.harmony.Harmony
import graft.model.{DdStudy, StudyConfig}
import graft.project.{Projection, ResourceBuilders}
import graft.sink.WhistleInputWriter
import graft.sources.{CsvSource, DdCsv}
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
 * read to the driver once ([[Harmony.read]], one Spark job) and serves
 * every consumer of the pass (the ConceptMap build, the extraction's
 * display map, and through [[RunResult.harmony]] the codings lookup and
 * the DD-metadata projections), all derived from it in plain Scala with
 * no further Spark job. The DD tables parse side by side on
 * [[graft.DriverPool]]. Each stage function also works on its own,
 * reading the harmony sets it needs itself.
 */
object Play {

  /** One distinct harmony file set: the config's `code_harmonization`
   *  value and the mapping read from its files, resolved under the data
   *  dir ([[Harmony.read]]). */
  final case class HarmonySet(spec: String, mappings: Harmony.Mappings)

  /** `harmony` holds the pass's harmony sets; a result without them
   *  (built by hand from the stage functions) makes
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

  /** Each distinct harmony file set the config references, resolved
   *  under `dataDir` and read to the driver. */
  def readHarmony(spark: SparkSession, config: StudyConfig, dataDir: String): Seq[HarmonySet] =
    readHarmony(spark, config, dataDir, Harmony.MaxRows)

  private def readHarmony(spark: SparkSession, config: StudyConfig, dataDir: String,
      maxRows: Int): Seq[HarmonySet] = {
    val resolve = CsvSource.resolveUnder(dataDir) _
    config.dataset.values.flatMap(_.codeHarmonization).toSeq.distinct.map { spec =>
      HarmonySet(spec, Harmony.read(spark, CsvSource.fileList(spec).map(resolve), maxRows))
    }
  }

  /** The given sets, else the config's sets read here (a study without
   *  harmony reads nothing either way). */
  private def orRead(harmony: Seq[HarmonySet], spark: SparkSession, config: StudyConfig,
      dataDir: String): Seq[HarmonySet] =
    if (harmony.nonEmpty) harmony else readHarmony(spark, config, dataDir)

  /** buildConceptMap stage (ref: play.py:334-359): one ConceptMap JSON
   *  per distinct harmony file set — always rebuilt. Returns the
   *  written paths. Runs no Spark job beyond reading the sets it is not
   *  handed. */
  def buildConceptMaps(
      spark: SparkSession, config: StudyConfig, dataDir: String, outDir: String,
      harmony: Seq[HarmonySet] = Nil): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    orRead(harmony, spark, config, dataDir).map { set =>
      val namePrefix = set.mappings.paths.head.split("/").last.split("\\.").head
      val json = Harmony.conceptMapJson(spark,
        Harmony.conceptMapGroups(set.mappings, config.curies), namePrefix)
      val out = s"$outDir/$namePrefix.json"
      Files.write(Paths.get(out), json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out
    }
  }

  /** extractjson stage (ref: extractor.py:376-399): extraction plans plus
   *  the compatibility document, gated on input mtimes. When the document
   *  is rewritten, each table comes back as the lazy local checkpoint
   *  the write filled, so later reads (each projection branch) read its
   *  blocks; when it is up to date, the tables come back as plans, and
   *  the one query that reads them (the bundle write or the load) shares
   *  extraction's exchanges between its branches. */
  def extractJson(
      spark: SparkSession,
      config: StudyConfig,
      dd: DdStudy,
      dataDir: String,
      outPath: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil,
      harmony: Seq[HarmonySet] = Nil): (Map[String, DataFrame], Option[String]) = {
    val plans = Extractor.extract(spark, config, Some(dd), dataDir,
      harmony.map(s => s.spec -> s.mappings).toMap)
    if (IncrementalRunner.needsRebuild(outPath, config, dataDir,
        extraDeps = extraDeps, force = force)) {
      val tables = plans.map { case (name, df) => name -> df.localCheckpoint(false) }
      Files.createDirectories(Paths.get(outPath).getParent)
      WhistleInputWriter.write(outPath, config, dd, tables)
      (tables, Some(outPath))
    } else (plans, None)
  }

  /** The study-wide $HarmonizeCode lookup over every distinct harmony
   *  file the config references, as parts of one mapping in set order —
   *  None when the study harmonizes nothing. Shared by `play`'s
   *  source-data stage and the buildsrcobs/buildsrcqr mains so both
   *  project the same codings. Built from the pass's `harmony` sets, or
   *  from sets read here. */
  def harmonyLookup(spark: SparkSession, config: StudyConfig,
      dataDir: String, harmony: Seq[HarmonySet] = Nil): Option[ResourceBuilders.CodingsLookup] =
    orRead(harmony, spark, config, dataDir).map(_.mappings).reduceOption(_ ++ _)
      .map(all => ResourceBuilders.CodingsLookup(Harmony.codingsLookup(all)))

  /** The DD-metadata projections every study gets
   *  (ref: play.py runs the dd/terms projectors unconditionally):
   *  CodeSystems/ValueSets, Observation/ActivityDefinitions, and the
   *  harmony ConceptMap resource per harmony file. Every branch reads a
   *  local relation, so the union costs at most one Spark job. */
  def ddMetaResources(
      spark: SparkSession, config: StudyConfig, dd: DdStudy,
      dataDir: String, harmony: Seq[HarmonySet] = Nil): DataFrame = {
    val study = Projection.StudyInfo(config.studyId, config.identifierPrefix, config.publisher)
    val terminology = ResourceBuilders.ddTerminology(spark, study, dd)
    val definitions = ResourceBuilders.ddDefinitions(spark, study, dd)
    // ProcessDDHarmony shape (ref: wlib_dd_conceptmap.wstl:89-92):
    // sources VS + targets VS + the ConceptMap itself per harmony file
    val cms = orRead(harmony, spark, config, dataDir).flatMap { set =>
      val m = set.mappings
      Seq(
        ResourceBuilders.harmonyValueSet(spark,
          Harmony.sourceCodeGroups(m, config.curies, config.consentGroup), study, "sources"),
        ResourceBuilders.harmonyValueSet(spark,
          Harmony.targetCodeGroups(m, config.curies), study, "targets"),
        ResourceBuilders.harmonyConceptMap(spark,
          Harmony.conceptMapGroups(m, config.curies), study))
    }
    (Seq(terminology, definitions) ++ cms).reduce(_ unionByName _)
  }

  /** Full run: harmony sets, ConceptMap JSONs, DD catalog, extraction
   *  (+ gated document write). Projections/sinks compose on the result.
   *
   *  The harmony sets are read first and the ConceptMap JSONs written
   *  from them on this thread (no Spark job); then the DD parses (its
   *  tables side by side on [[graft.DriverPool]]), then extraction and
   *  the document write. A failure is rethrown in stage order: DD parse,
   *  ConceptMap build (the harmony read included), extraction. */
  def run(
      spark: SparkSession,
      config: StudyConfig,
      dataDir: String,
      outDir: String,
      force: Boolean = false,
      extraDeps: Seq[String] = Nil): RunResult =
    run(spark, config, dataDir, outDir, force, extraDeps, Harmony.MaxRows)

  /** [[run]] with `maxHarmonyRows` as each harmony set's row bound. */
  private[graft] def run(spark: SparkSession, config: StudyConfig, dataDir: String,
      outDir: String, force: Boolean, extraDeps: Seq[String], maxHarmonyRows: Int): RunResult = {
    val harmony = Try(readHarmony(spark, config, dataDir, maxHarmonyRows))
    val cmPaths = harmony.flatMap(h => Try(buildConceptMaps(spark, config, dataDir, s"$outDir/harmony", h)))
    val dd = loadDdCatalog(spark, config, dataDir)
    val paths = cmPaths.get
    val (tables, docPath) = extractJson(spark, config, dd, dataDir,
      s"$outDir/whistle-input/${config.studyId}.json", force, extraDeps, harmony.get)
    RunResult(tables, dd, paths, docPath, harmony.get)
  }
}
