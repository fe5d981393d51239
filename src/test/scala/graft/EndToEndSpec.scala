package graft

import graft.cli.Play
import graft.harmony.Harmony
import graft.inspect.Consumers
import graft.project.{Projection, ResourceBuilders}
import graft.sink._
import graft.sources.{BundleScan, ConfigReader, CsvSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/**
 * The full pipeline, end to end, on a fixture study — what a reference
 * user's `play` run does (SURVEY.md §3.1), minus only the live FHIR
 * server (the load stage runs against a deterministic in-test poster):
 *
 * config+DD+harmony+CSVs -> extraction -> whistle-input document ->
 * projections (Patient + Observation + QR + ddmeta) -> inspection ->
 * bundles -> reference-resolved load fixpoint -> study-ids.
 */
class EndToEndSpec extends AnyFunSuite {
  import TestSpark.spark

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  test("fixture study runs the whole pipeline") {
    val dir = Files.createTempDirectory("graft-e2e")
    write(dir, "demographics.csv",
      "Subject Id,Sex,Age\nS1,M,12\nS2,F,9\nS3,M,40\n")
    write(dir, "demographics_dd.csv",
      """variable_name,description,data_type,enumerations
        |Subject Id,Participant identifier,string,
        |Sex,Biological sex,enumeration,M=Male;F=Female
        |Age,Age at enrollment,integer,
        |""".stripMargin)
    write(dir, "harmony.csv",
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,Sex,female,Female,http://hl7.org/fhir/administrative-gender
        |sex,Biological sex,demographics,,demographics,75617-1,Sex assigned at birth,https://loinc.org
        |""".stripMargin)
    val config = ConfigReader.fromJson(
      """{"study_id":"E2E","identifier_prefix":"https://e2e","dataset":{
        |"demographics":{"filename":"demographics.csv",
        |  "data_dictionary":{"filename":"demographics_dd.csv"},
        |  "code_harmonization":"harmony.csv"}}}""".stripMargin)
    val outDir = Files.createTempDirectory("graft-e2e-out").toString

    // 1. orchestrated extraction
    val run = Play.run(spark, config, dir.toString, outDir)
    val demo = run.extracted("demographics")
    assert(demo.count() == 3)

    // 2. projections: patients + per-row observations + QRs + dd metadata
    val study = Projection.StudyInfo("E2E", "https://e2e")
    val lookup = Harmony.codingsLookup(
      Harmony.read(spark, Seq(dir.resolve("harmony.csv").toString)))
    val ddTable = run.ddStudy.table("demographics").get
    val patients = Projection.participant(
      demo.withColumnRenamed("subject_id", "participant_id"), study, lookup,
      sexCol = "sex", raceCol = "sex", ethnicityCol = "sex") // no race/eth cols in fixture
      .drop()
    val observations = ResourceBuilders.observations(demo, study, ddTable, Some(lookup))
    val qrs = ResourceBuilders.questionnaireResponses(demo, study, ddTable, Some(lookup))
    val ddmeta = Play.ddMetaResources(spark, config, run.ddStudy, dir.toString)
    val resources = Seq(patients, observations, qrs, ddmeta).reduce(_ unionByName _)

    // 3. inspection: no duplicate identifiers, everything typed
    val report = Consumers.inspect(resources)
    assert(report.duplicateIdentifiers.isEmpty)
    assert(report.missingResourceType == 0L)
    val summary = report.moduleSummary.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(summary(("patient", "Patient")) == 3L)
    assert(summary(("source_data", "Observation")) == 3L)
    assert(summary(("source_data", "QuestionnaireResponse")) == 3L)
    spark.catalog.clearCache(); graft.CacheScope.releaseSession()

    // 4. bundles: one per module under the record cap
    val bundles = BundleSink.bundles(
      BundleSink.entries(resources, "http://fhir.local"), "e2e-bundle")
    assert(bundles.groupBy("module").count().count() == bundles.count())

    // 5. load with reference resolution: Observations/QRs reference
    // Patients by identifier; the fixpoint loads Patients first, then the
    // rest against the grown cache
    var loadedRounds = Vector.empty[Set[String]]
    val poster: FhirLoadSink.Poster = (verb, rt, existing, json) => s"srv-${rt.toLowerCase}"
    val (leftover, _) = ReferenceResolution.resolveLoop(
      resources, IdCacheStore.load(spark, s"$outDir/nonexistent-cache"),
      { (resolved, cache) =>
        val prepared = FhirLoadSink.getOrCreate(resolved, cache, "https://e2e")
        val results = FhirLoadSink.load(prepared, () => poster)
        loadedRounds :+= results.collect().map(_.getString(1)).toSet
        FhirLoadSink.asCacheRows(results)
      }, maxRounds = 5)
    assert(leftover.isEmpty, "every reference should resolve within the fixpoint")
    // dependency tiers emerge from the data: round 1 loads everything
    // without references (incl. Patients); round 2 what referenced round
    // 1 (Observations/QRs -> Patient, categorical ObsDefs -> ValueSet);
    // round 3 the ActivityDefinition that references the ObsDefs
    assert(loadedRounds.length == 3)
    assert(loadedRounds(0).contains("Patient"))
    assert(!loadedRounds(0).contains("Observation"))
    assert(loadedRounds(1).contains("Observation"))
    assert(loadedRounds(1).contains("QuestionnaireResponse"))
    assert(loadedRounds(2) == Set("ActivityDefinition"))

    // 6. study-ids from the whistle-output scan round trip
    val sets = StudyIdsSink.sortedIdSets(resources, "resourceType", "id")
    val idsJson = StudyIdsSink.toJson(sets, "E2E", "fhir.local")
    val back = BundleScan.readStudyIds(spark, idsJson)
    assert(back.filter(col("resource_type") === "Patient").count() == 3)
  }
}
