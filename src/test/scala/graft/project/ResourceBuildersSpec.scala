package graft.project

import graft.TestSpark
import graft.harmony.Harmony
import graft.model._
import graft.sources.DdCsv
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap

/** DD-driven resource builders (ref: obscomp.py / questionnaires.wstl /
 *  wlib_dd_terms_codesystem.wstl semantics). */
class ResourceBuildersSpec extends AnyFunSuite {
  import TestSpark.{df, spark}

  private val study = Projection.StudyInfo("STUDY1", "https://mystudy", "Test Publisher")

  private def mkDd: DdTable = DdTable("STUDY1", "demographics", Seq(
    DdVariable("STUDY1", "demographics", "participant_id", description = "Participant id"),
    DdVariable("STUDY1", "demographics", "sex", description = "Biological sex",
      dataType = DdType.Enumeration, enumerations = ListMap("M" -> "Male", "F" -> "Female"),
      urlBase = "http://base"),
    DdVariable("STUDY1", "demographics", "age", dataType = DdType.Integer),
    DdVariable("STUDY1", "demographics", "weight", dataType = DdType.Number)))

  private def harmonyLookup = {
    val dir = Files.createTempDirectory("graft-rb")
    val p = dir.resolve("harmony.csv")
    val content =
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |sex,Biological sex,demographics,,demographics,75617-1,Sex assigned at birth,https://loinc.org
        |M,Male,demographics,sex,sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,sex,female,Female,http://hl7.org/fhir/administrative-gender
        |demographics,Demographics,demographics,,DataSet,11506-3,Progress note,https://loinc.org
        |""".stripMargin
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    Harmony.codingsLookup(Harmony.read(spark, Seq(p.toString)))
  }

  test("ddTerminology builds CodeSystem+ValueSet for the table and each categorical variable") {
    val dd = DdStudy("STUDY1", Seq(mkDd))
    val out = ResourceBuilders.ddTerminology(spark, study, dd).collect()
    // table CS/VS + sex CS/VS (the only variable with values)
    assert(out.length == 4)
    val ids = out.map(r => (r.getString(1), r.getString(2))).toSet
    assert(ids == Set(
      ("CodeSystem", "STUDY1.demographics"), ("ValueSet", "STUDY1.demographics"),
      ("CodeSystem", "STUDY1.demographics.sex"), ("ValueSet", "STUDY1.demographics.sex")))

    val sexCs = out.find(r => r.getString(1) == "CodeSystem" &&
      r.getString(2) == "STUDY1.demographics.sex").get.getString(3)
    assert(sexCs.contains(""""count":2"""))
    assert(sexCs.contains(""""concept":[{"code":"M","display":"Male"},{"code":"F","display":"Female"}]"""))
    assert(sexCs.contains(""""publisher":"Test Publisher""""))
    assert(sexCs.contains(""""content":"complete""""))

    val sexVs = out.find(r => r.getString(1) == "ValueSet" &&
      r.getString(2) == "STUDY1.demographics.sex").get.getString(3)
    assert(sexVs.contains("/ValueSet/"))
    assert(sexVs.contains(""""compose":{"include":[{"system":"http://base/CodeSystem/data-dictionary/demographics/sex"}]}"""))
  }

  test("observations: one per row, components typed by DD type, harmonized categoricals") {
    val data = df("participant_id STRING, sex STRING, age STRING, weight STRING",
      Seq(Row("S1", "M", "12", "not-measured"), Row("S2", "F", "n/a", "70.5")))
    val out = ResourceBuilders.observations(data, study, mkDd, Some(ResourceBuilders.CodingsLookup(harmonyLookup)))
      .orderBy("id").collect()
    assert(out.length == 2)
    assert(out.map(_.getString(0)).forall(_ == "source_data"))

    val s1 = out(0)
    assert(s1.getString(2) == "STUDY1.demographics.S1.S1")
    val j1 = s1.getString(3)
    // table-level coding rides code.coding next to the LOINC form coding
    assert(j1.contains(""""code":"74468-0""""))
    assert(j1.contains(""""code":"11506-3"""")) // HarmonizeMapped(table, "DataSet")
    assert(j1.contains(""""code":"75617-1"""")) // varname-level coding, self dropped
    assert(!j1.contains(""""system":"self""""))
    // sex M harmonized to a codeable concept
    assert(j1.contains(""""valueCodeableConcept":{"coding":[{"code":"male""""))
    // age 12 -> valueQuantity; weight non-numeric -> valueString fallback
    assert(j1.contains(""""valueQuantity":{"value":12.0}"""))
    assert(j1.contains(""""valueString":"not-measured""""))
    assert(j1.contains(""""subject":{"identifier":{"value":"S1","system":"https://mystudy/patient"}}"""))

    val j2 = out(1).getString(3)
    // age n/a falls back to string; weight parses
    assert(j2.contains(""""valueString":"n/a""""))
    assert(j2.contains(""""valueQuantity":{"value":70.5}"""))
  }

  test("observations: value codings inline as literal CASEs — zero joins for a 10-enum table") {
    val enumNames = (1 to 10).map(i => s"var$i")
    val vars = DdVariable("STUDY1", "wide", "participant_id", description = "Participant id") +:
      enumNames.map(n => DdVariable("STUDY1", "wide", n, dataType = DdType.Enumeration,
        enumerations = ListMap("A" -> "Alpha", "B" -> "Beta")))
    val dd = DdTable("STUDY1", "wide", vars)
    val dir = Files.createTempDirectory("graft-rb-wide")
    val rows = enumNames.map(n =>
      s"A,Alpha,wide,$n,$n,harm-$n-a,Harmonized A,https://loinc.org").mkString("\n")
    val content =
      s"""local code,text,table_name,parent_varname,local code system,code,display,code system
         |$rows
         |""".stripMargin
    Files.write(dir.resolve("harmony.csv"), content.getBytes(StandardCharsets.UTF_8))
    val lookup = Harmony.codingsLookup(
      Harmony.read(spark, Seq(dir.resolve("harmony.csv").toString)))

    val schema = ("participant_id STRING" +: enumNames.map(n => s"$n STRING")).mkString(", ")
    val data = df(schema, Seq(
      Row("S1" +: enumNames.map(_ => "A"): _*),
      Row("S2" +: enumNames.map(_ => "B"): _*)))

    val literal = ResourceBuilders.observations(data, study, dd, Some(ResourceBuilders.CodingsLookup(lookup)))
    // 10 enum variables used to mean 10 broadcast joins; now the plan has none
    assert(!literal.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))

    // wide-vocabulary fallback (threshold exceeded) takes the join path...
    val joined = ResourceBuilders.observations(data, study, dd, Some(ResourceBuilders.CodingsLookup(lookup)),
      maxLiteralValueCodes = 0)
    assert(joined.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
    // ...and produces byte-identical resources
    val lit = literal.orderBy("id").collect().map(_.getString(3))
    val jn = joined.orderBy("id").collect().map(_.getString(3))
    assert(lit.sameElements(jn))
    assert(lit.head.contains(""""code":"harm-var1-a""""))   // hit -> mapped coding
    assert(jn(1).contains(""""valueCodeableConcept""") == lit(1).contains(""""valueCodeableConcept""""))

    // questionnaireResponses shares the dispatch: zero joins by default,
    // join fallback byte-identical
    val qrLit = ResourceBuilders.questionnaireResponses(data, study, dd, Some(ResourceBuilders.CodingsLookup(lookup)))
    assert(!qrLit.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
    val qrJn = ResourceBuilders.questionnaireResponses(data, study, dd, Some(ResourceBuilders.CodingsLookup(lookup)),
      maxLiteralValueCodes = 0)
    assert(qrJn.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
    assert(qrLit.orderBy("id").collect().map(_.getString(3))
      .sameElements(qrJn.orderBy("id").collect().map(_.getString(3))))
  }

  test("questionnaire: item per variable, categorical -> choice with ValueSet url") {
    val out = ResourceBuilders.questionnaire(spark, study, mkDd).collect()
    assert(out.length == 1)
    val j = out.head.getString(3)
    assert(out.head.getString(2) == "STUDY1.demographics")
    assert(j.contains(""""name":"demographics""""))
    assert(j.contains(""""linkId":"sex","text":"Biological sex","type":"choice""""))
    assert(j.contains("/ValueSet/"))
    assert(j.contains(""""linkId":"age","text":"age","type":"integer""""))
    assert(j.contains(""""subjectType":["Patient"]"""))
    assert(j.contains("rl-questionnaire"))
  }
}
