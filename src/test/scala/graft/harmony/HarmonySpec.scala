package graft.harmony

import graft.TestSpark
import graft.cli.Play
import graft.sources.ConfigReader
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Harmony/ConceptMap semantics (ref: wstlr/conceptmap.py): first-wins
 *  raw-row dedup, the self group, curie prefixing, last-wins display map,
 *  the ConceptMap JSON assembly, and the read's row bound. */
class HarmonySpec extends AnyFunSuite {
  import TestSpark.spark

  private def harmonyCsv(rows: String*): String = {
    val dir = Files.createTempDirectory("graft-harmony")
    val p = dir.resolve("harmony.csv")
    val header = "local code,text,table_name,parent_varname,local code system,code,display,code system"
    Files.write(p, (header +: rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private val fixture = harmonyCsv(
    "M,Male,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender",
    "F,Female,demographics,sex,Sex,female,Female,http://hl7.org/fhir/administrative-gender",
    // duplicate of the first mapping: first-wins dedup drops it
    "M,Male Again,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender",
    // second target system for M
    "M,Male,demographics,sex,Sex,248153007,Male,http://snomed.info/sct")

  test("read lowercases headers and fills missing code system with ''") {
    val m = Harmony.read(spark, Seq(harmonyCsv("U,Unknown,t,v,Sex,,,")))
    assert(Harmony.RequiredColumns.forall(m.columns.contains))
    assert(m.rows.map(_.codeSystem) == Seq(""))
    assert(m.rows.head.code == null)
    assert(Harmony.read(spark, Seq(fixture)).rows.length == 4)
  }

  test("firstWins dedups on the 4-part mapping key keeping the first row") {
    val deduped = Harmony.firstWins(Harmony.read(spark, Seq(fixture)))
    assert(deduped.length == 3)
    // the surviving M/male row is the FIRST one (text 'Male', not 'Male Again')
    assert(deduped.filter(r => r.localCode == "M" && r.code == "male").map(_.text) == Seq("Male"))
  }

  test("conceptMapGroups builds real target groups plus the self group") {
    val groups = Harmony.conceptMapGroups(Harmony.read(spark, Seq(fixture)))
    // first-seen order, a row's target group before its self group
    assert(groups.map(g => (g.source, g.target)) == Seq(
      ("Sex", "http://hl7.org/fhir/administrative-gender"),
      ("Sex", "self"),
      ("Sex", "http://snomed.info/sct")))
    val bySrcTgt = groups.map(g => (g.source, g.target) -> g.element).toMap

    // gender group: M -> male, F -> female, element display from `text`
    val gender = bySrcTgt(("Sex", "http://hl7.org/fhir/administrative-gender"))
    assert(gender.map(e => (e.code, e.display)) == Seq(("M", "Male"), ("F", "Female")))
    assert(gender.head.target == Seq(Harmony.Target("male", "Male", "equivalent")))

    // self group: every local code maps to itself with its text as display
    val mSelf = bySrcTgt(("Sex", "self")).find(_.code == "M").get
    assert(mSelf.target.forall(t => t.code == "M" && t.display == "Male"))
  }

  test("curie prefixes apply to real target systems only") {
    val groups = Harmony.conceptMapGroups(
      Harmony.read(spark, Seq(fixture)),
      curies = Map("http://snomed.info/sct" -> "SCT"))
    val snomed = groups.find(_.target == "http://snomed.info/sct").get.element
    assert(snomed.head.target.head.code == "SCT:248153007")
    val self = groups.find(_.target == "self").get.element
    assert(self.flatMap(_.target).forall(!_.code.contains(":")))
  }

  test("conceptMapJson assembles the ConceptMap document with identity groups") {
    val groups = Harmony.conceptMapGroups(Harmony.read(spark, Seq(fixture)))
    val json = Harmony.conceptMapJson(spark, groups, "study-harmony",
      extraGroups = Seq(Harmony.identityGroup("sex", "http://base/CodeSystem/dd/demographics/sex",
        Seq(graft.model.CodeEntry("M", "Male")))))
    assert(json.startsWith("""{"id":"study-harmony","resourceType":"ConceptMap","version":"v1""""))
    assert(json.contains(""""target":"self""""))
    assert(json.contains(""""code":"male""""))
    assert(json.contains("""http://base/CodeSystem/dd/demographics/sex"""))
    // parseable by Spark's JSON reader
    import spark.implicits._
    val parsed = spark.read.json(Seq(json).toDS)
    assert(parsed.columns.contains("group"))
  }

  test("displayMap is last-wins (dict-overwrite semantics)") {
    val dup = harmonyCsv(
      "M,First,t,v,Sex,male,Male display one,http://sys",
      "M,Second,t,v,Sex,male,Male display two,http://sys2")
    val m = Harmony.displayMap(Harmony.read(spark, Seq(dup)))
    assert(m == Map("M" -> "Male display two"))
  }

  test("codingsLookup attaches self and target codings for a (code, system) pair") {
    val codings = Harmony.codingsLookup(Harmony.read(spark, Seq(fixture)))("Sex")("M")
      .map(c => (c._1, c._3))
    // row order, each row's target coding before its self coding
    assert(codings == Seq(("male", "http://hl7.org/fhir/administrative-gender"), ("M", "self"),
      ("248153007", "http://snomed.info/sct"), ("M", "self")))
  }

  test("source/target code groups feed the harmony ValueSets with curie + last-wins semantics") {
    val dup = harmonyCsv(
      "M,Male,demographics,sex,Sex,248153007,Male (first),http://snomed.info/sct",
      "F,Female,demographics,sex,Sex,248152002,Female,http://snomed.info/sct",
      // same target code again: LAST display wins on the target side
      "M2,Male2,demographics,sex,Sex,248153007,Male (last),http://snomed.info/sct")
    val m = Harmony.read(spark, Seq(dup))

    val src = Harmony.sourceCodeGroups(m, curies = Map("Sex" -> "SX"), urlBase = "http://base")
    assert(src.length == 1)
    assert(src.head.system == "http://base/CodeSystem/data-dictionary/demographics/sex")
    assert(src.head.codes == Seq(("SX:M", "Male"), ("SX:F", "Female"), ("SX:M2", "Male2")))

    val tgt = Harmony.targetCodeGroups(m)
    assert(tgt.length == 1)
    // Python dict overwrite: last display wins, FIRST insertion order holds
    // (248153007 was inserted first even though its kept row came last)
    assert(tgt.head.codes == Seq(("248153007", "Male (last)"), ("248152002", "Female")))

    val vs = graft.project.ResourceBuilders.harmonyValueSet(spark,
      Harmony.sourceCodeGroups(m),
      graft.project.Projection.StudyInfo("S1", "https://s1"), "sources").collect()
    assert(vs.length == 1)
    val j = vs.head.getString(3)
    assert(vs.head.getString(2) == "S1.cm-valueset.sources")
    assert(j.contains(""""compose":{"include":[{"system":"""))
    assert(j.contains(""""code":"M","display":"Male""""))
  }

  test("multi-file harmony reads as parts of one mapping with cross-file dedup") {
    val f1 = harmonyCsv("M,Male,t,v,Sex,male,Male,http://sys")
    val f2 = harmonyCsv(
      "M,Male DUP,t,v,Sex,male,Male,http://sys",
      "F,Female,t,v,Sex,female,Female,http://sys")
    val deduped = Harmony.firstWins(Harmony.read(spark, Seq(f1, f2)))
    assert(deduped.length == 2)
    // first file wins for M
    assert(deduped.find(_.localCode == "M").get.text == "Male")
  }

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  test("metadata goldens: CM JSON, harmony VS and CM, ddTerminology, codings lookup") {
    // two harmony files (the second without parent_varname), first-wins
    // duplicates within and across files, last-wins target displays,
    // curies on a target and a local system, a blank code system (a
    // self-only row), a target sorting after `self`, a null display and
    // an empty table_name. The expected lines are the output of the
    // window/aggregate derivations these replaced, with one exception:
    // there the JSON document's order between a row's target group and
    // its self group followed hash order (Sex's self group came first,
    // every other source's last); it is now the reference's insertion
    // order, target group first.
    val dir = Files.createTempDirectory("graft-golden")
    write(dir, "demographics.csv", "Subject Id,Sex,Ethnicity,Age\nS1,M,Hisp,12\nS2,F,NH,40\n")
    write(dir, "demographics_dd.csv",
      """variable_name,description,data_type,enumerations
        |Subject Id,Participant,string,
        |Sex,Biological sex,enumeration,M=Male;F=Female;U=Unknown
        |Ethnicity,Ethnicity,enumeration,Hisp=Hispanic;NH=Not Hispanic
        |Age,Age,integer,
        |""".stripMargin)
    write(dir, "h1.csv",
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,"Fem ""q"" \ é",demographics,sex,Sex,female,Female,http://hl7.org/fhir/administrative-gender
        |M,Male Again,demographics,sex,Sex,male,Male,http://hl7.org/fhir/administrative-gender
        |M,Male,demographics,sex,Sex,248153007,Male (first),http://snomed.info/sct
        |F2,Female2,demographics,sex,Sex,248153007,Male (last),http://snomed.info/sct
        |sex,Biological sex,demographics,,demographics,75617-1,Sex assigned at birth,https://loinc.org
        |demographics,Demographics,demographics,,DataSet,11506-3,Progress note,https://loinc.org
        |U,Unknown,demographics,sex,Sex,,,
        |""".stripMargin)
    write(dir, "h2.csv",
      """local code,text,table_name,local code system,code,display,code system
        |M,Male dup,demographics,Sex,male,Male,http://hl7.org/fhir/administrative-gender
        |Hisp,Hispanic,demographics,Ethnicity,2135-2,Hispanic or Latino,urn:oid:2.16.840.1.113883.6.238
        |NH,Not Hispanic,demographics,Ethnicity,2186-5,,urn:oid:2.16.840.1.113883.6.238
        |A,Alpha,,Other,a1,Alpha one,http://sys
        |M,Male,demographics,Sex,248153007,Male (third),http://snomed.info/sct
        |""".stripMargin)
    val config = ConfigReader.fromJson(
      """{"study_id":"GOLD","identifier_prefix":"https://gold","consent_group":"GRU",
        |"curies":{"http://snomed.info/sct":"SCT","Sex":"SX"},
        |"dataset":{"demographics":{"filename":"demographics.csv",
        |  "data_dictionary":{"filename":"demographics_dd.csv"},
        |  "code_harmonization":"h1.csv,h2.csv"}}}""".stripMargin)
    val out = Files.createTempDirectory("graft-golden-out").toString
    val cm = Play.buildConceptMaps(spark, config, dir.toString, out)
    val cmJson = new String(Files.readAllBytes(Paths.get(cm.head)), StandardCharsets.UTF_8)
    val dd = Play.loadDdCatalog(spark, config, dir.toString)
    val meta = Play.ddMetaResources(spark, config, dd, dir.toString).collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3)).mkString("|"))
      .sorted
    val lookup = Play.harmonyLookup(spark, config, dir.toString).get.bySystem
    val lookupLines = lookup.toSeq.sortBy(_._1).flatMap { case (sys, codes) =>
      codes.toSeq.sortBy(_._1).map { case (code, cs) =>
        s"$sys|$code|" + cs.map { case (a, b, c) => s"($a,$b,$c)" }.mkString(";")
      }
    }
    val actual = Seq("cm " + cmJson) ++ meta.map("meta " + _) ++ lookupLines.map("lookup " + _)
    val golden = scala.io.Source.fromResource("graft/harmony/metadata_golden.txt",
      getClass.getClassLoader)(scala.io.Codec.UTF8)
    val expected = try golden.getLines().toSeq finally golden.close()
    assert(actual.length == expected.length)
    val differing = actual.zip(expected).filter { case (a, e) => a != e }
    assert(differing.isEmpty, differing.mkString("\n"))
  }

  test("read fails fast, naming the files, one row over the bound") {
    val f1 = harmonyCsv("M,Male,t,v,Sex,male,Male,http://sys")
    val f2 = harmonyCsv("F,Female,t,v,Sex,female,Female,http://sys")
    assert(Harmony.read(spark, Seq(f1, f2), maxRows = 2).rows.length == 2)
    val err = intercept[IllegalArgumentException](Harmony.read(spark, Seq(f1, f2), maxRows = 1))
    assert(err.getMessage.contains("more than 1 rows"), err.getMessage)
    assert(err.getMessage.contains(f1) && err.getMessage.contains(f2), err.getMessage)
  }
}
