package graft.project

import graft.TestSpark
import graft.functions.WhistlerFunctions
import graft.harmony.Harmony
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** WhistlerFunctions semantics + the Patient projection golden
 *  (ref: docs/ref/pipeline_overview.md:48-58 — SURVEY §7's minimum
 *  end-to-end slice). */
class ProjectionSpec extends AnyFunSuite {
  import TestSpark.{df, spark}
  import WhistlerFunctions._

  test("buildCoding omits empty display/system in JSON output") {
    val in = df("c STRING", Seq(Row("X")))
    val json = in.select(to_json(buildCoding(col("c"), lit(""), lit("http://s"))).as("j"))
      .collect().head.getString(0)
    assert(json == """{"code":"X","system":"http://s"}""")
  }

  test("keyIdentifier builds value + prefixed lowercase-type system") {
    val in = df("id STRING", Seq(Row("SUB1")))
    val r = in.select(keyIdentifier(lit("https://study"), lit("Patient"), col("id"))).collect().head.getStruct(0)
    assert(r.getString(0) == "SUB1")
    assert(r.getString(1) == "https://study/patient")
  }

  test("studyMeta uses study id as code under the ResearchStudy system") {
    val in = df("x STRING", Seq(Row("")))
    val r = in.select(studyMeta(lit("https://study"), lit("STUDY1"))).collect().head.getStruct(0)
    assert(r.getString(0) == "STUDY1")
    assert(r.getString(1) == "https://study/researchstudy")
  }

  test("selfOnly / nonSelfOnly / harmonizeSelection filter coding arrays") {
    val in = df("x STRING", Seq(Row("")))
    val codings = array(
      struct(lit("M").as("code"), lit("Male").as("display"), lit("self").as("system")),
      struct(lit("male").as("code"), lit("Male").as("display"), lit("http://hl7.org/x").as("system")),
      struct(lit("u").as("code"), lit("U").as("display"), lit("http://z-unharmonized").as("system")))
    val r = in.select(
      selfOnly(codings).as("self"),
      nonSelfOnly(codings).as("nonself"),
      harmonizeSelection(codings, "http://hl7").as("hl7")).collect().head
    assert(r.getSeq[Row](0).map(_.getString(0)) == Seq("M"))
    assert(r.getSeq[Row](1).map(_.getString(0)) == Seq("male")) // unharmonized dropped
    assert(r.getSeq[Row](2).map(_.getString(0)) == Seq("male"))
  }

  test("Whistle built-in aliases behave like their $-functions") {
    val in = df("s STRING, n STRING", Seq(Row("Hello World", "3")))
    val r = in.select(
      strCat(col("s"), lit("!"), col("n")),                      // $StrCat
      strJoin("-", strSplit(col("s"), " ")),                     // $StrSplit/$StrJoin
      toLower(col("s")),                                         // $ToLower
      matchesRegex(col("s"), "^Hello"),                          // $MatchesRegex
      listLen(strSplit(col("s"), " ")),                          // $ListLen
      isNotNil(col("s")),                                        // $IsNotNil
      groupKey(col("s"), col("n"))).collect().head               // ":".join key
    assert(r.getString(0) == "Hello World!3")
    assert(r.getString(1) == "Hello-World")
    assert(r.getString(2) == "hello world")
    assert(r.getBoolean(3))
    assert(r.getInt(4) == 2)
    assert(r.getBoolean(5))
    assert(r.getString(6) == "Hello World:3")
    // strSplit is literal: a regex-special separator splits verbatim
    val dots = df("s STRING", Seq(Row("a.b.c")))
    assert(dots.select(strSplit(col("s"), ".")).collect().head.getSeq[String](0)
      == Seq("a", "b", "c"))
  }

  test("HarmonizeMapped/AsCoding/LocalDisplay select within harmonized codings") {
    val in = df("x STRING", Seq(Row("")))
    val codings = array(
      struct(lit("M").as("code"), lit("Local Male").as("display"), lit("self").as("system")),
      struct(lit("male").as("code"), lit("Male").as("display"), lit("http://hl7").as("system")))
    val r = in.select(
      harmonizeMapped(codings),
      to_json(harmonizeAsCoding(codings)),
      harmonizedLocalDisplay(codings)).collect().head
    assert(r.getSeq[Row](0).map(_.getString(0)) == Seq("male")) // self dropped
    assert(r.getString(1) == """{"coding":[{"code":"male","display":"Male","system":"http://hl7"}]}""")
    assert(r.getString(2) == "Local Male") // the self display
  }

  test("stringReplace is literal (not regex) split+join") {
    val in = df("u STRING", Seq(Row("http://b/CodeSystem/t.v")))
    assert(in.select(convertForValueSetUrl(col("u"))).collect().head.getString(0)
      == "http://b/ValueSet/t.v")
    // a regex-special old-string must be treated literally
    val in2 = df("s STRING", Seq(Row("a.b.c")))
    assert(in2.select(stringReplace(col("s"), ".", "-")).collect().head.getString(0) == "a-b-c")
  }

  test("parseInt/parseFloat follow try-parse-else-null; isNumeric routes") {
    val in = df("v STRING", Seq(Row("42"), Row("4.5"), Row("n/a")))
    val rows = in.select(parseInt(col("v")), parseFloat(col("v")), isNumeric(col("v"))).collect()
    assert(rows(0).getLong(0) == 42L && rows(0).getBoolean(2))
    assert(rows(1).isNullAt(0) && rows(1).getDouble(1) == 4.5 && rows(1).getBoolean(2))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1) && !rows(2).getBoolean(2))
  }

  test("ageAtExtension years branch builds the cqf-relativeDateTime shape") {
    val in = df("id STRING, age STRING", Seq(Row("S1", "12")))
    val json = in.select(to_json(
      ageAtExtension(lit("https://study"), col("id"), col("age"), "years")).as("j"))
      .collect().head.getString(0)
    assert(json.contains(""""url":"http://hl7.org/fhir/StructureDefinition/cqf-relativeDateTime""""))
    assert(json.contains(""""valueString":"birthDate""""))
    assert(json.contains(""""valueCode":"after""""))
    assert(json.contains("\"value\":12.0"))
    assert(json.contains(""""code":"a""""))
    assert(!json.contains("valueDuration\":{\"unit")) // years branch omits unit
  }

  // --- the end-to-end Patient slice -------------------------------------

  private def harmonyFixture(): String = {
    val dir = Files.createTempDirectory("graft-proj")
    val p = dir.resolve("harmony.csv")
    val content =
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,Sex,female,Female,http://hl7.org/fhir/administrative-gender
        |White,White,demographics,race,Race,2106-3,White,urn:oid:2.16.840.1.113883.6.238
        |Hispanic,Hispanic or Latino,demographics,ethnicity,Ethnicity,2135-2,Hispanic or Latino,urn:oid:2.16.840.1.113883.6.238
        |""".stripMargin
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("participant projection produces the Patient resources from pipeline_overview.md") {
    val subjects = df("participant_id STRING, sex STRING, race STRING, ethnicity STRING",
      Seq(
        Row("SUB1", "M", "White", "Hispanic"),
        Row("SUB2", "F", "NA", null),
        Row("SUB3", ".", null, null)))
    val lookup = ResourceBuilders.CodingsLookup(
      Harmony.codingsLookup(Harmony.read(spark, Seq(harmonyFixture())))).frame(spark)
    val out = Projection.participant(subjects,
      Projection.StudyInfo("STUDY1", "https://mystudy"), lookup)
      .orderBy("id").collect()

    assert(out.map(_.getString(0)).forall(_ == "patient"))
    assert(out.map(_.getString(1)).forall(_ == "Patient"))

    val sub1 = out(0).getString(3)
    assert(sub1.contains(""""resourceType":"Patient""""))
    assert(sub1.contains(""""gender":"male""""))
    assert(sub1.contains(""""value":"SUB1","system":"https://mystudy/patient","use":"official""""))
    assert(sub1.contains(""""code":"STUDY1","system":"https://mystudy/researchstudy""""))
    assert(sub1.contains("us-core-race"))
    assert(sub1.contains(""""code":"2106-3""""))
    assert(sub1.contains("us-core-ethnicity"))

    val sub2 = out(1).getString(3)
    assert(sub2.contains(""""gender":"female""""))
    assert(!sub2.contains("us-core-race"))      // race NA -> extension omitted
    assert(!sub2.contains("us-core-ethnicity")) // null -> omitted

    val sub3 = out(2).getString(3)
    assert(!sub3.contains("gender")) // '.' placeholder -> no gender field
  }
}
