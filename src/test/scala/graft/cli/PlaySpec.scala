package graft.cli

import graft.TestSpark
import graft.harmony.Harmony
import graft.project.{Projection, ResourceBuilders}
import graft.sink.{IdCacheStore, InvalidReferencesWriter}
import graft.sources.ConfigReader
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Play orchestrator + id-cache store + invalid-references writer +
 *  harmony ConceptMap resource. */
class PlaySpec extends AnyFunSuite {
  import TestSpark.{df, spark}

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  private def fixture(): (Path, String) = {
    val dir = Files.createTempDirectory("graft-play")
    write(dir, "demographics.csv", "Subject Id,Sex\nS1,M\nS2,F\n")
    write(dir, "demographics_dd.csv",
      """variable_name,description,data_type,enumerations
        |Subject Id,Participant,string,
        |Sex,Biological sex,enumeration,M=Male;F=Female
        |""".stripMargin)
    write(dir, "harmony.csv",
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,sex,female,Female,http://hl7.org/fhir/administrative-gender
        |""".stripMargin)
    val config =
      """{"study_id":"PFIX","identifier_prefix":"https://pfix","dataset":{
        |"demographics":{"filename":"demographics.csv",
        |  "data_dictionary":{"filename":"demographics_dd.csv"},
        |  "code_harmonization":"harmony.csv"}}}""".stripMargin
    (dir, config)
  }

  test("Play.run: DD catalog, always-rebuilt ConceptMap, gated document write") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson)
    val outDir = Files.createTempDirectory("graft-play-out").toString

    val result = Play.run(spark, config, dir.toString, outDir)
    assert(result.ddStudy.tables.map(_.tableName) == Seq("demographics"))
    assert(result.extracted.keySet == Set("demographics"))
    assert(result.harmonyJsonPaths.length == 1)
    assert(result.whistleInputPath.isDefined)

    // ConceptMap JSON parses and has the self group
    val cm = new String(Files.readAllBytes(java.nio.file.Paths.get(result.harmonyJsonPaths.head)))
    assert(cm.contains(""""resourceType":"ConceptMap""""))
    assert(cm.contains(""""target":"self""""))

    // whistle-input doc has study + data
    val doc = new String(Files.readAllBytes(java.nio.file.Paths.get(result.whistleInputPath.get)))
    assert(doc.contains(""""id":"PFIX""""))
    assert(doc.contains(""""demographics":["""))

    // second run: document is fresh -> not rewritten
    val again = Play.run(spark, config, dir.toString, outDir)
    assert(again.whistleInputPath.isEmpty)
    // ...but force rebuilds
    val forced = Play.run(spark, config, dir.toString, outDir, force = true)
    assert(forced.whistleInputPath.isDefined)
  }

  /** Query executions over a CSV relation named `file` while `body` runs
   *  (header inference reads go through the text source, not CSV), and
   *  the jobs it ran. */
  private def traced[A](file: String)(body: => A): (A, Int, Seq[graft.JobLog.Job]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.collectLeaves().exists {
              case l: LogicalRelation => l.relation match {
                case h: HadoopFsRelation => h.fileFormat.isInstanceOf[CSVFileFormat] &&
                  h.location.rootPaths.exists(_.getName == file)
                case _ => false
              }
              case _ => false
            }) scans.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val log = new graft.JobLog
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(log)
    try {
      val a = body
      log.settle()
      (a, scans.get, log.jobs)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      spark.listenerManager.unregister(listener)
    }
  }

  test("Play.run: one read per harmony set; only a written document checkpoints") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson)
    val outDir = Files.createTempDirectory("graft-play-ckpt").toString
    def fromCheckpoint(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val (written, writtenScans, _) = traced("harmony.csv")(Play.run(spark, config, dir.toString, outDir))
    assert(written.whistleInputPath.isDefined)
    assert(written.extracted.nonEmpty && written.extracted.values.forall(fromCheckpoint))
    assert(written.harmony.map(_.spec) == Seq("harmony.csv"))
    assert(written.harmony.head.mappings.rows.map(_.localCode) == Seq("M", "F"))
    assert(writtenScans == 1)
    // an up-to-date document: the tables come back as plans, and no
    // checkpoint job runs for tables nothing reads
    val (fresh, freshScans, jobs) = traced("harmony.csv")(Play.run(spark, config, dir.toString, outDir))
    assert(fresh.whistleInputPath.isEmpty)
    assert(fresh.extracted.nonEmpty && !fresh.extracted.values.exists(fromCheckpoint))
    assert(freshScans == 1)
    assert(!jobs.exists(_.desc.contains("localCheckpoint at Play.scala")), jobs.map(_.desc))
  }

  test("Play.run: a harmony set over the row bound fails naming its files, no task left") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson)
    val outDir = Files.createTempDirectory("graft-play-bound").toString
    val err = intercept[IllegalArgumentException](Play.run(spark, config, dir.toString, outDir,
      force = false, extraDeps = Nil, maxHarmonyRows = 1))
    assert(err.getMessage.contains(dir.resolve("harmony.csv").toString), err.getMessage)
    assert(graft.DriverPool.unfinishedTasks == 0)
    // the fixture's two rows are at a bound of two
    assert(Play.run(spark, config, dir.toString, outDir,
      force = false, extraDeps = Nil, maxHarmonyRows = 2).harmony.head.mappings.rows.length == 2)
  }

  test("given the harmony sets, the ConceptMap build runs no job and the DD metadata one") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson)
    val harmony = Play.readHarmony(spark, config, dir.toString)
    val dd = Play.loadDdCatalog(spark, config, dir.toString)
    val outDir = Files.createTempDirectory("graft-play-jobs").toString
    val (paths, _, cmJobs) = traced("harmony.csv")(
      Play.buildConceptMaps(spark, config, dir.toString, outDir, harmony))
    assert(paths.length == 1 && cmJobs.isEmpty, cmJobs.map(_.desc))
    val (meta, _, metaJobs) = traced("harmony.csv")(
      Play.ddMetaResources(spark, config, dd, dir.toString, harmony).collect())
    assert(meta.map(_.getString(1)).toSet == Set("CodeSystem", "ValueSet",
      "ObservationDefinition", "ActivityDefinition", "ConceptMap"))
    assert(metaJobs.length <= 1, metaJobs.map(_.desc))
  }

  test("Play.run: a harmony file missing a column fails with today's message, no task left") {
    val (dir, configJson) = fixture()
    write(dir, "harmony.csv", "local code,text\nM,Male\n")
    val err = intercept[IllegalArgumentException](Play.run(spark,
      ConfigReader.fromJson(configJson), dir.toString,
      Files.createTempDirectory("graft-play-bad").toString))
    assert(err.getMessage.contains("Harmony file missing required column(s)"), err.getMessage)
    assert(graft.DriverPool.unfinishedTasks == 0)
    // a failing DD parse comes first, as in stage order
    val first = intercept[Exception](Play.run(spark,
      ConfigReader.fromJson(configJson.replace("demographics_dd.csv", "absent_dd.csv")),
      dir.toString, Files.createTempDirectory("graft-play-bad2").toString))
    assert(first.getMessage.contains("absent_dd.csv"), first.getMessage)
  }

  test("Play.run: a failing DD parse is rethrown after the ConceptMap build it ran beside") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson.replace("demographics_dd.csv", "absent_dd.csv"))
    val outDir = Files.createTempDirectory("graft-play-dd").toString
    val err = intercept[Exception](Play.run(spark, config, dir.toString, outDir))
    assert(err.getMessage.contains("absent_dd.csv"), err.getMessage)
    // the ConceptMap task finished before the run threw
    assert(graft.DriverPool.unfinishedTasks == 0)
    assert(Files.exists(java.nio.file.Paths.get(outDir, "harmony", "harmony.json")))
  }

  test("Play.run from a reference-style YAML config (the reference's native format)") {
    val (dir, _) = fixture()
    val yaml =
      """study_id: PFIX
        |study_title: Fixture Study
        |identifier_prefix: https://pfix
        |consent_group: GRU
        |curies:
        |  HP: http://purl.obolibrary.org/obo/hp.owl
        |active_tables:
        |  demographics: true
        |dataset:
        |  demographics:
        |    filename: demographics.csv
        |    data_dictionary:
        |      filename: demographics_dd.csv
        |    code_harmonization: harmony.csv
        |""".stripMargin
    write(dir, "study.yaml", yaml)
    val config = ConfigReader.fromFile(dir.resolve("study.yaml").toString)
    assert(config.studyId == "PFIX")
    assert(config.studyTitle == "Fixture Study")
    assert(config.consentGroup.contains("GRU"))
    assert(config.curies == Map("HP" -> "http://purl.obolibrary.org/obo/hp.owl"))
    assert(config.activeTables == Map("demographics" -> true))
    assert(config.dataset("demographics").codeHarmonization.contains("harmony.csv"))
    // identical parse to the JSON mirror of the same fixture
    assert(config.dataset == ConfigReader.fromJson(fixture()._2)
      .copy(studyTitle = config.studyTitle).dataset)

    val outDir = Files.createTempDirectory("graft-play-yaml-out").toString
    val result = Play.run(spark, config, dir.toString, outDir)
    assert(result.ddStudy.tables.map(_.tableName) == Seq("demographics"))
    assert(result.whistleInputPath.isDefined)
    val doc = new String(Files.readAllBytes(java.nio.file.Paths.get(result.whistleInputPath.get)))
    assert(doc.contains(""""id":"PFIX""""))
  }

  test("ddMetaResources unions terminology, definitions, and the ConceptMap resource") {
    val (dir, configJson) = fixture()
    val config = ConfigReader.fromJson(configJson)
    val dd = Play.loadDdCatalog(spark, config, dir.toString)
    val out = Play.ddMetaResources(spark, config, dd, dir.toString)
    val types = out.collect().map(_.getString(1)).toSet
    assert(types == Set("CodeSystem", "ValueSet", "ObservationDefinition",
      "ActivityDefinition", "ConceptMap"))
    // harmony module carries sources VS + targets VS + the ConceptMap
    val harmony = out.filter(out("module") === "harmony").collect().map(_.getString(2)).toSet
    assert(harmony == Set("PFIX.cm-valueset.sources", "PFIX.cm-valueset.targets",
      "PFIX.concept-map"))
  }

  test("harmonyConceptMap resource aggregates groups with study identity") {
    val (dir, _) = fixture()
    val groups = Harmony.conceptMapGroups(
      Harmony.read(spark, Seq(dir.resolve("harmony.csv").toString)))
    val out = ResourceBuilders.harmonyConceptMap(spark, groups,
      Projection.StudyInfo("PFIX", "https://pfix")).collect()
    assert(out.length == 1)
    val j = out.head.getString(3)
    assert(j.contains(""""value":"PFIX.concept-map""""))
    assert(j.contains("data-to-public"))
    assert(j.contains(""""source":"sex""""))
  }

  test("IdCacheStore: load empty, merge INSERT OR REPLACE, save+reload round trip") {
    val path = Files.createTempDirectory("graft-idc").resolve("cache.parquet").toString
    val empty = IdCacheStore.load(spark, path)
    assert(empty.isEmpty)
    val v1 = df("system STRING, value STRING, resource_type STRING, fhir_id STRING",
      Seq(Row("s", "A", "Patient", "1"), Row("s", "B", "Patient", "2")))
    val v2 = df("system STRING, value STRING, resource_type STRING, fhir_id STRING",
      Seq(Row("s", "B", "Patient", "99"), Row("s", "C", "Patient", "3")))
    IdCacheStore.save(IdCacheStore.merge(empty, v1), path)
    val merged = IdCacheStore.merge(IdCacheStore.load(spark, path), v2)
    IdCacheStore.save(merged, path)
    val reloaded = IdCacheStore.load(spark, path).collect()
      .map(r => r.getString(1) -> r.getString(3)).toMap
    assert(reloaded == Map("A" -> "1", "B" -> "99", "C" -> "3")) // B replaced
  }

  test("InvalidReferencesWriter merges new entries into an existing report") {
    val deferred = df("module STRING, resourceType STRING, id STRING, resource STRING",
      Seq(Row("m", "Condition", "C1", """{"x":1}""")))
    val existing = """[{"module":"old","resourceType":"T","id":"Z","message":"m"}]"""
    val json = InvalidReferencesWriter.toJson(deferred, Some(existing))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(json)
    assert(arr.size == 2)
    assert(arr.get(0).get("id").asText == "Z")
    assert(arr.get(1).get("id").asText == "C1")
    assert(arr.get(1).get("resource").get("x").asInt == 1)
  }
}
