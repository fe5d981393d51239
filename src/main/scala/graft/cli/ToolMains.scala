package graft.cli

import graft.Extractor
import graft.harmony.Harmony
import graft.inspect.{Consumers, DdProfiler}
import graft.sink.{BundleSink, WhistleOutputWriter}
import graft.sources.{BundleScan, ConfigReader, CsvSource, DdJson}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * The remaining reference console scripts (ref: pyproject.toml:31-43) as
 * thin arg-parsed mains over the library — same `run(args, spark): Int`
 * shape as [[PlayMain]] so tests drive them in-process.
 */

/**
 * `buildcm` (ref: wstlr/conceptmap.py:553-570): one harmony ConceptMap
 * JSON per CSV argument, written next to the CSV (`<path minus ext>
 * .json`, conceptmap.py:389) — always rebuilt, like the play stage.
 */
object BuildCmMain {

  val usage = "buildcm [--curie PREFIX=URL]... harmony.csv..."

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-buildcm")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("--curie" -> "curie")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.isEmpty => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val curies = p.all("curie").map { s =>
            s.split("=", 2) match {
              case Array(k, v) => k -> v
              case _ => throw new IllegalArgumentException(s"--curie expects PREFIX=URL, got: $s")
            }
          }.toMap
          p.positional.foreach { csv =>
            if (!Files.exists(Paths.get(csv)))
              throw new java.nio.file.NoSuchFileException(csv)
            val namePrefix = Paths.get(csv).getFileName.toString.split("\\.").head
            val groups = Harmony.conceptMapGroups(Harmony.read(spark, Seq(csv)), curies)
            val json = Harmony.conceptMapJson(spark, groups, namePrefix)
            val out = csv.replaceAll("\\.[^./\\\\]*$", "") + ".json"
            println(s"Writing Harmony ConceptMap: $out")
            Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
          }
          0
        }
    }
  }
}

/**
 * `bundleup` (ref: wstlr/bundle.py:190-222): each whistle-output JSON
 * becomes transaction-bundle files under the output directory, one per
 * (module, ≤15k-record chunk), named
 * `<stem>-transaction-<module>-NNNNN.json` (bundle.py:95-99). The
 * host's target_service_url seeds the entries' fullUrls; `-e` defaults
 * to the first configured host (bundle.py:198-205).
 */
object BundleUpMain {

  val usage = "bundleup [-e ENV] [--hosts-file PATH] [-o OUTDIR] whistle-output.json..."

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-bundleup")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("-e" -> "env", "--env" -> "env",
        "--hosts-file" -> "hosts-file",
        "-o" -> "output", "--output" -> "output")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.isEmpty => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard(try {
          val hosts = CliSession.hosts(p)
          // default env = first of the SORTED names, exactly the
          // reference: `sorted(host_config.keys())[0]` (bundle.py:198-205)
          val name = p.opt("env").getOrElse(hosts.keys.toSeq.sorted.head)
          val host = CliSession.host(hosts, name)
          val outDir = p.opt("output").getOrElse("output/whistle-output")
          Files.createDirectories(Paths.get(outDir))
          p.positional.foreach { file =>
            val stem = Paths.get(file).getFileName.toString.stripSuffix(".json")
            val resources = BundleScan.read(spark, file)
            val bundles = BundleSink.bundles(
              BundleSink.entries(resources, host.targetServiceUrl), stem)
              .orderBy("module", "chunk")
            // one complete file's content per row, document-sized by the
            // 15k-record chunk contract — streamed, never collected
            val it = bundles.toLocalIterator()
            while (it.hasNext) {
              val r = it.next()
              val out = Paths.get(outDir,
                f"$stem-transaction-${r.getString(0)}-${r.getInt(1) + 1}%05d.json")
              Files.write(out, r.getString(3).getBytes(StandardCharsets.UTF_8))
              println(s"Closing Bundle $out with ${r.getLong(2)} entries.")
            }
          }
          0
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            Console.err.println(e.getMessage); 1
        })
    }
  }
}

/**
 * `inspectjson` (ref: wstlr/inspector.py:99-122): the inspection pass
 * over existing whistle-output files — module summary, duplicate
 * identifiers, missing resourceType/identifier — printed as a report.
 * `-r/--require-official` is accepted for CLI parity; the identifier
 * checks here always run (the official-flag distinction lives in the
 * projection layer's builders, which always emit official identifiers).
 */
object InspectJsonMain {

  val usage = "inspectjson [-r BOOL] whistle-output.json..."

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-inspectjson")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("-r" -> "require-official",
        "--require-official" -> "require-official")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.isEmpty => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        try {
          p.positional.foreach(f =>
            if (!Files.exists(Paths.get(f))) throw new java.nio.file.NoSuchFileException(f))
          val resources = p.positional.map(BundleScan.read(spark, _))
            .reduce(_ unionByName _)
          val report = Consumers.inspect(resources)
          val dupCount = report.duplicateIdentifiers.count()
          if (dupCount > 0) {
            println(s"Duplicate identifiers ($dupCount):")
            graft.sources.FirstKReport(report.duplicateIdentifiers, 5,
              r => s"  ${r.getString(0)}: ${r.getString(1)}").foreach(println)
          }
          if (report.missingResourceType > 0)
            println(s"Resources missing resourceType: ${report.missingResourceType}")
          if (report.missingIdentifier > 0)
            println(s"Resources missing identifier: ${report.missingIdentifier}")
          println("Module Summary:")
          report.moduleSummary.collect().foreach { r =>
            println(f"  ${r.getString(0)}%-20s ${r.getString(1)}%-24s ${r.getLong(2)}%6d  ${r.getDouble(3)}%6.2f%%")
          }
          // release only THIS inspection's cache — an in-process caller's
          // other persisted frames must survive
          report.source.unpersist()
          0
        } catch {
          case e: java.nio.file.NoSuchFileException =>
            Console.err.println(s"file not found: ${e.getFile}"); 1
          case e: org.apache.spark.sql.AnalysisException =>
            Console.err.println(e.getMessage); 1
        }
    }
  }
}

/**
 * `builddd` (ref: wstlr/dd/dd_from_fhir.py:127-214): profile a
 * whistle-input document's tables into draft DD CSVs, one
 * `<stem>-<table>.csv` per table. Table keys are the top-level array
 * fields minus the metadata sections (`code-systems`, `harmony`;
 * `config`/`study` are objects, excluded structurally —
 * dd_from_fhir.py:163 ignores study/code-systems). `-p`/`-v` code
 * prefixes are accepted for CLI parity; synthetic code assignment is
 * the varname-substitution layer's job here
 * ([[graft.operators.Restructure]]), so the draft keys by the observed
 * varnames.
 */
object BuildDdMain {

  val usage = "builddd [-o OUTDIR] [-p CODE_PREFIX] [-v VALUE_PREFIX] whistle-input.json"

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-builddd")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("-o" -> "output", "--output" -> "output",
        "-p" -> "code-prefix", "--code-prefix" -> "code-prefix",
        "-v" -> "value-prefix", "--value-prefix" -> "value-prefix")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.length != 1 => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        try {
          val input = p.positional.head
          if (!Files.exists(Paths.get(input)))
            throw new java.nio.file.NoSuchFileException(input)
          val outDir = p.opt("output").getOrElse("output")
          Files.createDirectories(Paths.get(outDir))
          val stem = Paths.get(input).getFileName.toString.stripSuffix(".json")
          val doc = spark.read.option("multiLine", "true").json(input)
          val metaSections = Set("code-systems", "harmony")
          val tables = doc.schema.fields.collect {
            case f if f.dataType.isInstanceOf[ArrayType] && !metaSections(f.name) => f.name
          }.toSeq
          if (tables.isEmpty) { Console.err.println(s"no tables found in $input"); return 1 }
          tables.foreach { table =>
            val rows = doc.select(explode(col(s"`$table`")).as("_r")).select("_r.*")
            // dimension-sized by contract: one profile row per DD variable
            val profile = DdProfiler.profile(rows, rows.columns.toSeq).collect().toSeq
            val out = Paths.get(outDir, s"$stem-$table.csv")
            println(s"Writing $out")
            Files.write(out, DdProfiler.toDdCsv(profile).getBytes(StandardCharsets.UTF_8))
          }
          0
        } catch {
          case e: java.nio.file.NoSuchFileException =>
            Console.err.println(s"file not found: ${e.getFile}"); 1
          case e: org.apache.spark.sql.AnalysisException =>
            Console.err.println(e.getMessage); 1
        }
    }
  }
}

/**
 * `buildsrcobs` / `buildsrcqr` (ref: wstlr/sourcedata/obscomp.py:36-135,
 * questionnaire.py:28-120): in the reference these GENERATE Whistle code
 * that later projects each table's rows into source-data Observations /
 * QuestionnaireResponses. The projection layer replaces Whistle here, so
 * the CLI's deliverable is the projection itself: the materialized
 * resources, written as a whistle-output document that `bundleup`,
 * `inspectjson` and `loadfhir` consume directly.
 */
object BuildSrcMains {

  def usage(kind: String) =
    s"buildsrc$kind [-o OUTDIR] [--data-dir DIR] config.yaml..."

  def run(args: Array[String], spark: SparkSession, qr: Boolean): Int = {
    val kind = if (qr) "qr" else "obs"
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("-o" -> "output", "--output" -> "output",
        "--data-dir" -> "data-dir")) match {
      case Left(err) => Console.err.println(s"$err\nusage: ${usage(kind)}"); 1
      case Right(p) if p.positional.isEmpty =>
        Console.err.println(s"usage: ${usage(kind)}"); 1
      case Right(p) =>
        try {
          val outDir = p.opt("output").getOrElse("output/whistle-output")
          p.positional.foreach { cfgPath =>
            val config = ConfigReader.fromFile(cfgPath)
            val dataDir = p.opt("data-dir").getOrElse(
              Option(Paths.get(cfgPath).getParent).map(_.toString).getOrElse(""))
            val dd = Play.loadDdCatalog(spark, config, dataDir)
            val tables = Extractor.extract(spark, config, Some(dd), dataDir)
            val study = graft.project.Projection.StudyInfo(
              config.studyId, config.identifierPrefix, config.publisher)
            val lookup = Play.harmonyLookup(spark, config, dataDir)
            val parts = tables.toSeq.flatMap { case (table, df) =>
              dd.table(table).toSeq.map { ddTable =>
                if (qr) graft.project.ResourceBuilders.questionnaireResponses(df, study, ddTable, lookup)
                else graft.project.ResourceBuilders.observations(df, study, ddTable, lookup)
              }
            }
            if (parts.isEmpty) {
              Console.err.println(s"no tables with data dictionaries in $cfgPath")
            } else {
              val out = s"$outDir/${config.studyId}-src$kind.json"
              WhistleOutputWriter.write(out, parts.reduce(_ unionByName _))
              println(s"wrote $out")
            }
          }
          0
        } catch {
          case e: java.nio.file.NoSuchFileException =>
            Console.err.println(s"file not found: ${e.getFile}"); 1
          case e: IllegalArgumentException => Console.err.println(e.getMessage); 1
          case e: org.apache.spark.sql.AnalysisException =>
            Console.err.println(e.getMessage); 1
        }
    }
  }
}

object BuildSrcObsMain {
  def main(args: Array[String]): Unit =
    sys.exit(BuildSrcMains.run(args, CliSession.create("graft-buildsrcobs"), qr = false))
}

object BuildSrcQrMain {
  def main(args: Array[String]): Unit =
    sys.exit(BuildSrcMains.run(args, CliSession.create("graft-buildsrcqr"), qr = true))
}

/**
 * `init-play` (ref: wstlr/init.py:40-143): project onboarding. The
 * reference copies starter Whistle modules into the config's
 * `projector_lib`; with the Whistle layer replaced by the projection
 * builders, the onboarding artifact is a runnable starter study —
 * config YAML, hosts-file example, and sample data/DD/harmony CSVs —
 * that `play` processes end-to-end unmodified.
 */
object InitPlayMain {

  val usage = "init-play [--study-id ID] [-f] TARGET_DIR"

  /** name -> content; `{{STUDY}}` is replaced by the study id. */
  val scaffold: Seq[(String, String)] = Seq(
    "study.yaml" ->
      """# Starter study configuration (see SURVEY.md §1 for every key).
        |study_id: {{STUDY}}
        |identifier_prefix: https://example.org/{{STUDY}}
        |output_filename: {{STUDY}}
        |dataset:
        |  demographics:
        |    filename: data/demographics.csv
        |    data_dictionary:
        |      filename: data/demographics_dd.csv
        |    code_harmonization: data/harmony.csv
        |""".stripMargin,
    "fhir_hosts.example" ->
      """# Copy to `fhir_hosts` and fill in your server details.
        |local:
        |  host_desc: Local FHIR server
        |  target_service_url: http://localhost:8000/fhir
        |  auth_type: auth_basic
        |  username: admin
        |  password: password
        |""".stripMargin,
    "data/demographics.csv" ->
      """Subject Id,Sex,Age
        |S-0001,M,34
        |S-0002,F,41
        |S-0003,F,28
        |""".stripMargin,
    "data/demographics_dd.csv" ->
      """variable_name,description,data_type,enumerations
        |Subject Id,Participant identifier,string,
        |Sex,Biological sex,enumeration,M=Male;F=Female
        |Age,Age at enrollment in years,number,
        |""".stripMargin,
    "data/harmony.csv" ->
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,sex,female,Female,http://hl7.org/fhir/administrative-gender
        |""".stripMargin)

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    CliArgs.parse(args,
      flagAliases = Map("-f" -> "force", "--force" -> "force"),
      optionAliases = Map("--study-id" -> "study-id")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.length != 1 => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        val target = Paths.get(p.positional.head)
        val studyId = p.opt("study-id").getOrElse("EXAMPLE")
        val clashes = scaffold.map(_._1).filter(n => Files.exists(target.resolve(n)))
        if (clashes.nonEmpty && !p.has("force")) {
          Console.err.println(
            s"refusing to overwrite: ${clashes.mkString(", ")} (use -f to force)")
          1
        } else {
          scaffold.foreach { case (name, content) =>
            val out = target.resolve(name)
            Option(out.getParent).foreach(Files.createDirectories(_))
            println(out.toString)
            Files.write(out,
              content.replace("{{STUDY}}", studyId).getBytes(StandardCharsets.UTF_8))
          }
          println(s"\nNext: edit ${target.resolve("study.yaml")}, then run: play ${target.resolve("study.yaml")}")
          0
        }
    }
  }
}

/**
 * `dd-json-to-csv` (ref: wstlr/dd/json_parser.py:89-130): convert a JSON
 * data dictionary to per-table CSVs (`<table>.csv`, json_parser.py:59),
 * with configurable tables/columns array names.
 */
object DdJsonToCsvMain {

  val usage = "dd-json-to-csv -s SOURCE.json [-t TABLES_KEY] [-c COLUMNS_KEY] [-o OUTDIR]"

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    CliArgs.parse(args, flagAliases = Map.empty,
      optionAliases = Map("-s" -> "source", "--source" -> "source",
        "-t" -> "tables", "--table-array-variable" -> "tables",
        "-c" -> "columns", "--column-array-variable" -> "columns",
        "-o" -> "output", "--out-directory" -> "output")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.opt("source").isEmpty || p.positional.nonEmpty =>
        Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val study = DdJson.parseFile(p.opt("source").get,
            tablesPath = p.opt("tables").getOrElse("tables"),
            columnsPath = p.opt("columns").getOrElse("columns"))
          val outDir = Paths.get(p.opt("output").getOrElse("data/dd/csv"))
          Files.createDirectories(outDir)
          DdJson.toCsv(study).toSeq.sortBy(_._1).foreach { case (table, csv) =>
            val out = outDir.resolve(s"$table.csv")
            println(s"Writing $out")
            Files.write(out, csv.getBytes(StandardCharsets.UTF_8))
          }
          0
        }
    }
  }
}
