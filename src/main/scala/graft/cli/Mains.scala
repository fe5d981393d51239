package graft.cli

import graft.harmony.Harmony
import graft.model.StudyConfig
import graft.project.{Projection, ResourceBuilders}
import graft.sink._
import graft.sources.{BundleScan, ConfigReader, CsvSource}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Arg-parsed CLI entry points over the library (ref: pyproject.toml:31-43
 * console scripts). Each main is a thin `run(args, spark): Int` (exit
 * code) so tests drive it in-process; `main` wraps it with a session and
 * `sys.exit`. Flags mirror the reference parsers (play.py:158-270,
 * extractor.py:380-386, purge.py:206-252) where the operation exists
 * here; Whistle-subprocess and thread-pool knobs have no Spark
 * counterpart and are omitted.
 */
object CliArgs {

  final case class Parsed(
      opts: Map[String, Seq[String]],
      flags: Set[String],
      positional: Seq[String]) {
    def opt(name: String): Option[String] = opts.get(name).flatMap(_.lastOption)
    def all(name: String): Seq[String] = opts.getOrElse(name, Nil)
    def has(name: String): Boolean = flags(name)
  }

  /** `flagAliases`/`optionAliases`: alias → canonical name; options
   *  consume the following token as their value. Left = usage error. */
  def parse(args: Seq[String], flagAliases: Map[String, String],
      optionAliases: Map[String, String]): Either[String, Parsed] = {
    var opts = Map.empty[String, Seq[String]]
    var flags = Set.empty[String]
    val positional = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (flagAliases.contains(a)) flags += flagAliases(a)
      else if (optionAliases.contains(a)) {
        if (i + 1 >= args.length) return Left(s"option $a requires a value")
        val name = optionAliases(a)
        opts = opts.updated(name, opts.getOrElse(name, Nil) :+ args(i + 1))
        i += 1
      } else if (a.startsWith("-") && a != "-") return Left(s"unknown argument: $a")
      else positional += a
      i += 1
    }
    Right(Parsed(opts, flags, positional.result()))
  }
}

private[cli] object CliSession {
  def create(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    graft.plans.GraftExtensions.register(spark) // SQL surface: graft_dot
    spark
  }

  def hosts(parsed: CliArgs.Parsed): Map[String, Hosts.HostConfig] =
    Hosts.load(parsed.opt("hosts-file").getOrElse(Hosts.DefaultHostsFile))

  /** The named host; an unknown name is a usage error listing the known ones. */
  def host(hosts: Map[String, Hosts.HostConfig], name: String): Hosts.HostConfig =
    hosts.getOrElse(name, throw new IllegalArgumentException(
      s"host '$name' not in hosts file (available: ${hosts.keys.toSeq.sorted.mkString(", ")})"))

  /** Runs a main's body; a missing hosts file, a bad argument or a
   *  missing input file prints its message and exits 1. */
  def guard(body: => Int): Int =
    try body catch {
      case e: Hosts.HostsFileMissing => Console.err.println(e.getMessage); 1
      case e: IllegalArgumentException => Console.err.println(e.getMessage); 1
      case e: java.nio.file.NoSuchFileException =>
        Console.err.println(s"file not found: ${e.getFile}"); 1
    }
}

/**
 * `play` (ref: wstlr/play.py:152-497): per config — DD catalog, harmony
 * ConceptMaps, gated whistle-input document; with `--host`, the
 * DD-metadata + source-data projections load into the named FHIR server
 * (validate-only with `-v`), and study-ids/invalid-references reports
 * are written next to the outputs.
 */
object PlayMain {

  val usage: String =
    """play [-f] [-v] [-b] [-x] [--host NAME] [--hosts-file PATH] [--data-dir DIR]
      |     [-o OUTDIR] [--max-validations N] config.yaml...
      |  -v validate-only (requires --host); -b save bundles; -x bundles only""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-play")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args,
      flagAliases = Map("-f" -> "force", "--force" -> "force",
        "-v" -> "validate-only", "--validate-only" -> "validate-only",
        "-b" -> "save-bundle", "--save-bundle" -> "save-bundle",
        "-x" -> "bundle-only", "--bundle-only" -> "bundle-only"),
      optionAliases = Map("--host" -> "host", "--hosts-file" -> "hosts-file",
        "--data-dir" -> "data-dir", "-o" -> "output", "--output" -> "output",
        "--max-validations" -> "max-validations")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.isEmpty =>
        Console.err.println(s"usage: $usage"); 1
      case Right(p) if p.has("validate-only") && p.opt("host").isEmpty =>
        // -v without a host would silently validate nothing and exit 0
        Console.err.println(s"-v/--validate-only requires --host\nusage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val host = p.opt("host").map(CliSession.host(CliSession.hosts(p), _))
          var rc = 0 // worst loadResources exit across configs
          p.positional.foreach { cfgPath =>
            val config = ConfigReader.fromFile(cfgPath)
            val dataDir = p.opt("data-dir").getOrElse(
              Option(Paths.get(cfgPath).getParent).map(_.toString).getOrElse(""))
            val outDir = p.opt("output").getOrElse("output")
            println(s"*  Study: ${config.studyId}")
            // the config file itself is a rebuild dependency: an edited
            // study.yaml must refresh the whistle-input even when every
            // data file is older than the output
            val result = Play.run(spark, config, dataDir, outDir,
              force = p.has("force"), extraDeps = Seq(cfgPath))
            println(s"   harmony: ${result.harmonyJsonPaths.mkString(", ")}")
            result.whistleInputPath.foreach(w => println(s"   whistle-input: $w"))

            if (host.isDefined || p.has("save-bundle") || p.has("bundle-only")) {
              val resources = studyResources(spark, config, result, dataDir)
              if (p.has("save-bundle") || p.has("bundle-only")) {
                val bundles = BundleSink.bundles(
                  BundleSink.entries(resources,
                    host.map(_.targetServiceUrl).getOrElse("http://fhir.local")),
                  s"${config.studyId}-bundle")
                BundleSink.write(bundles, s"$outDir/bundles")
                println(s"   bundles: $outDir/bundles")
              }
              if (!p.has("bundle-only")) host.foreach { h =>
                rc = rc.max(loadResources(spark, resources, h, config.identifierPrefix,
                  validateOnly = p.has("validate-only"),
                  maxValidations = p.opt("max-validations").map(_.toInt).getOrElse(0),
                  idCachePath = s"$outDir/idcache/${config.studyId}.parquet",
                  invalidRefsPath = s"$outDir/invalid-references.json",
                  studyIdsPath = s"$outDir/study_ids.json", studyId = config.studyId))
              }
            }
          }
          rc
        }
    }
  }

  /** The projection fan-out `play` loads: DD metadata (terminology,
   *  definitions, harmony CM) + per-table source-data Observations and
   *  QuestionnaireResponses (ref: sourcedata/obscomp.py + questionnaire.py
   *  — the buildsrcobs/buildsrcqr scripts `play` chains). */
  def studyResources(spark: SparkSession, config: StudyConfig,
      result: Play.RunResult, dataDir: String): DataFrame = {
    val study = Projection.StudyInfo(config.studyId, config.identifierPrefix, config.publisher)
    val lookup = Play.harmonyLookup(spark, config, dataDir)
    val ddMeta = Play.ddMetaResources(spark, config, result.ddStudy, dataDir)
    val sourceData = result.extracted.toSeq.flatMap { case (table, df) =>
      result.ddStudy.table(table).toSeq.flatMap { ddTable =>
        Seq(ResourceBuilders.observations(df, study, ddTable, lookup),
          ResourceBuilders.questionnaireResponses(df, study, ddTable, lookup))
      }
    }
    // one minimal Patient per subject across all tables (dedup on id) —
    // without these the subject references above can never resolve
    val patients = result.extracted.toSeq.flatMap { case (table, df) =>
      result.ddStudy.table(table).toSeq.map(ResourceBuilders.patients(df, study, _))
    }.reduceOption(_ unionByName _).map(_.dropDuplicates("id")).toSeq
    (ddMeta +: (patients ++ sourceData)).reduce(_ unionByName _)
  }

  /** Shared load stage: validate-only short-circuit, else the
   *  reference-resolution fixpoint with id-cache persistence and the
   *  study-ids / invalid-references reports. The id cache backs onto
   *  parquet ([[IdCacheStore]]) for a plain path, or onto the
   *  reference-shaped JDBC store ([[JdbcIdCache]]) when `idCachePath`
   *  is a JDBC URL or `*.sqlite3` file — the latter persists each
   *  round's new ids as upserts, exactly like the reference's per-id
   *  `store_id` writes (wstlr/idcache.py:89-113). */
  def loadResources(spark: SparkSession, resources: DataFrame,
      host: Hosts.HostConfig, identifierPrefix: String,
      validateOnly: Boolean, maxValidations: Int,
      idCachePath: String, invalidRefsPath: String,
      studyIdsPath: String, studyId: String): Int = {
    val jdbcCache =
      if (JdbcIdCache.isJdbcPath(idCachePath))
        Some(new JdbcIdCache(JdbcIdCache.normalizeUrl(idCachePath),
          studyId, host.targetServiceUrl))
      else None
    def loadCache(): DataFrame = jdbcCache.map(_.loadAll(spark))
      .getOrElse(IdCacheStore.load(spark, idCachePath))
    try loadResourcesWith(spark, resources, host, identifierPrefix,
      validateOnly, maxValidations, jdbcCache, loadCache _, idCachePath,
      invalidRefsPath, studyIdsPath, studyId)
    finally jdbcCache.foreach(_.close())
  }

  private def loadResourcesWith(spark: SparkSession, resources: DataFrame,
      host: Hosts.HostConfig, identifierPrefix: String,
      validateOnly: Boolean, maxValidations: Int,
      jdbcCache: Option[JdbcIdCache], loadCache: () => DataFrame,
      idCachePath: String, invalidRefsPath: String,
      studyIdsPath: String, studyId: String): Int = {
    if (validateOnly) {
      val sample =
        if (maxValidations > 0) FhirLoadSink.validationSample(resources, maxValidations)
        else resources
      val results = FhirLoadSink.load(
        FhirLoadSink.getOrCreate(sample,
          loadCache(), identifierPrefix),
        () => host.poster(validateOnly = true).post _)
      println(s"   validated: ${results.count()} resources against ${host.targetServiceUrl}")
      0
    } else {
      // study-ids must record the ids that exist ON THE SERVER (delfhir
      // deletes Type/<id>) — i.e. each ok row's fhir_id from the load
      // results, never the local projection ids (a POSTed resource gets a
      // server-assigned id). load() localCheckpoints, so accumulating a
      // second view of the results re-reads, never re-POSTs.
      val loadedPerRound = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val failedPerRound = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val (leftover, cache) = ReferenceResolution.resolveLoop(resources, loadCache(),
        (resolved, known) => {
          val prepared = FhirLoadSink.getOrCreate(resolved, known, identifierPrefix)
          val results = FhirLoadSink.load(prepared, () => host.poster().post _)
          loadedPerRound += results.filter(col("ok"))
            .select(col("resourceType"), col("fhir_id"))
          failedPerRound += results.filter(!col("ok"))
            .select(col("resourceType"), col("id"), col("error"))
          val newRows = FhirLoadSink.asCacheRows(results)
          // JDBC backing persists as it goes (per-round upserts), matching
          // the reference's write-frequency; parquet saves once at the end
          jdbcCache.foreach(_.storeAll(newRows))
          newRows
        })
      val existingIds = if (Files.exists(Paths.get(studyIdsPath)))
        Some(new String(Files.readAllBytes(Paths.get(studyIdsPath)), StandardCharsets.UTF_8))
      else None
      val loadedIds = loadedPerRound.reduceOption(_ unionByName _).getOrElse(
        resources.select(col("resourceType"), col("id").as("fhir_id")).limit(0))
      val idsJson = StudyIdsSink.toJson(
        StudyIdsSink.sortedIdSets(loadedIds, "resourceType", "fhir_id"),
        studyId, host.name, existingIds)
      Option(Paths.get(studyIdsPath).getParent).foreach(Files.createDirectories(_))
      Files.write(Paths.get(studyIdsPath), idsJson.getBytes(StandardCharsets.UTF_8))
      if (!leftover.isEmpty) {
        val existing = if (Files.exists(Paths.get(invalidRefsPath)))
          Some(new String(Files.readAllBytes(Paths.get(invalidRefsPath)), StandardCharsets.UTF_8))
        else None
        Files.write(Paths.get(invalidRefsPath),
          InvalidReferencesWriter.toJson(leftover, existing).getBytes(StandardCharsets.UTF_8))
        Console.err.println(s"   invalid references written to $invalidRefsPath")
      }
      // saved only after the last read of `leftover`: the save swaps the
      // id-cache directory, and the lazy resolution plan still lists the
      // files it replaces
      if (jdbcCache.isEmpty) IdCacheStore.save(cache, idCachePath)
      // HTTP-rejected loads: report the first 5 errors and fail the run
      // (load.py:427-452 prints <=5 issues then sys.exit(1)). Unresolved
      // REFERENCES, by contrast, only warn (play.py:493 save_fails then
      // continue) — the invalid-references file is their signal.
      val failed = failedPerRound.reduceOption(_ unionByName _)
        .filter(!_.isEmpty)
      failed.foreach { f =>
        graft.sources.FirstKReport(f, 5, r =>
          s"${r.getString(0)}/${r.getString(1)}: ${r.getString(2)}")
          .foreach(Console.err.println)
      }
      if (failed.isDefined) 1 else 0
    }
  }
}

/**
 * `extractjson` (ref: wstlr/extractor.py:376-399): DD catalog + the
 * mtime-gated whistle-input document per config, no server interaction.
 */
object ExtractJsonMain {

  val usage = "extractjson [-f] [-o OUTPUT_ROOT] [--data-dir DIR] config.yaml..."

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-extractjson")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args,
      flagAliases = Map("-f" -> "force", "--force" -> "force"),
      optionAliases = Map("-o" -> "output-root", "--output-root" -> "output-root",
        "--data-dir" -> "data-dir")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.isEmpty => Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        val outRoot = p.opt("output-root").getOrElse("output/whistle-input")
        p.positional.foreach { cfgPath =>
          val config = ConfigReader.fromFile(cfgPath)
          val dataDir = p.opt("data-dir").getOrElse(
            Option(Paths.get(cfgPath).getParent).map(_.toString).getOrElse(""))
          val dd = Play.loadDdCatalog(spark, config, dataDir)
          val (_, written) = Play.extractJson(spark, config, dd, dataDir,
            s"$outRoot/${config.studyId}.json", force = p.has("force"),
            extraDeps = Seq(cfgPath))
          println(written.map(w => s"wrote $w")
            .getOrElse(s"$outRoot/${config.studyId}.json is up to date"))
        }
        0
    }
  }
}

/**
 * Whistle-output loader (the load stage of play.py run standalone, over
 * an existing whistle-output JSON — module/resource filters as in
 * play.py's `-m`/`-r`).
 */
object LoadFhirMain {

  val usage: String =
    """loadfhir --host NAME [--hosts-file PATH] [-m MODULE]... [-r TYPE]...
      |         [-v] [--max-validations N] [--id-cache PATH] [--out DIR]
      |         [--identifier-prefix URL] whistle-output.json""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-loadfhir")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args,
      flagAliases = Map("-v" -> "validate-only", "--validate-only" -> "validate-only"),
      optionAliases = Map("--host" -> "host", "--hosts-file" -> "hosts-file",
        "-m" -> "module", "--module" -> "module",
        "-r" -> "resource", "--resource" -> "resource",
        "--max-validations" -> "max-validations", "--id-cache" -> "id-cache",
        "--identifier-prefix" -> "identifier-prefix",
        "-o" -> "out", "--out" -> "out")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.positional.length != 1 || p.opt("host").isEmpty =>
        Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val host = CliSession.host(CliSession.hosts(p), p.opt("host").get)
          val resources = BundleScan.loadFilter(
            BundleScan.read(spark, p.positional.head),
            modules = p.all("module"), resourceTypes = p.all("resource"))
          val file = Paths.get(p.positional.head)
          val stem = file.getFileName.toString.stripSuffix(".json")
          val outDir = p.opt("out").getOrElse("output")
          PlayMain.loadResources(spark, resources, host,
            identifierPrefix = p.opt("identifier-prefix").getOrElse(""),
            validateOnly = p.has("validate-only"),
            maxValidations = p.opt("max-validations").map(_.toInt).getOrElse(0),
            idCachePath = p.opt("id-cache").getOrElse(s"$outDir/idcache/$stem.parquet"),
            invalidRefsPath = s"$outDir/invalid-references.json",
            studyIdsPath = s"$outDir/study_ids.json", studyId = stem)
        }
    }
  }
}

/**
 * `igload` (ref: wstlr/igload/__init__.py:64-250): load IG definition
 * resources into a FHIR server, with `--force-overwrite` deletes +
 * settle pause, resource/exclusion filters, and the IG resource loaded
 * last. `--generate-default` prints an example content file.
 */
object IgLoadMain {

  val usage: String =
    """igload --host NAME -c CONTENT.yaml [--hosts-file PATH] [-r TYPE]...
      |       [-x WILDCARD]... [--force-overwrite] [--sleep-time SECONDS]
      |       [--generate-default]""".stripMargin

  /** Example content configuration (ref: igload/templates/ncpi.yaml
   *  shape, pointing at the public NCPI IG). */
  val defaultContent: String =
    """# IG load content file: each root key is one IG/file-set to load.
      |NCPI-FHIR-IG:
      |  source_type: IG            # IG (publisher output) or FILES
      |  url: https://nih-ncpi.github.io/ncpi-fhir-ig
      |  # path: /local/ig          # local publisher build instead of url
      |  resources:
      |  - CodeSystem
      |  - ValueSet
      |  - StructureDefinition
      |  - ImplementationGuide
      |  exclude-wildcards:
      |  - example
      |""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-igload")))

  def run(args: Array[String], spark: SparkSession,
      makeClient: Option[graft.sink.Hosts.HostConfig => graft.sink.IgLoad.Client] = None): Int = {
    CliArgs.parse(args,
      flagAliases = Map("--force-overwrite" -> "force-overwrite",
        "--generate-default" -> "generate-default"),
      optionAliases = Map("--host" -> "host", "--hosts-file" -> "hosts-file",
        "-c" -> "content", "--content" -> "content",
        "-r" -> "resource", "--resource" -> "resource",
        "-x" -> "exclude", "--exclude" -> "exclude",
        "--sleep-time" -> "sleep-time")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.has("generate-default") => println(defaultContent); 0
      case Right(p) if p.opt("host").isEmpty || p.opt("content").isEmpty =>
        Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val host = CliSession.host(CliSession.hosts(p), p.opt("host").get)
          println(s"Destination host: ${host.targetServiceUrl}")
          val mk = makeClient.getOrElse((h: graft.sink.Hosts.HostConfig) =>
            new graft.sink.HttpIgClient(h.targetServiceUrl, h.authHeaders))
          val contents = graft.sink.IgLoad.parseContent(new String(
            Files.readAllBytes(Paths.get(p.opt("content").get)), StandardCharsets.UTF_8))
          val sleepSec = p.opt("sleep-time").map(_.toLong).getOrElse(5L)
          var failures = 0L
          contents.foreach { content =>
            val (resources, contentTypes) = graft.sink.IgLoad.gather(spark, content)
            val resourceList = if (p.all("resource").nonEmpty) p.all("resource") else contentTypes
            val exclusions =
              if (p.all("exclude").nonEmpty) p.all("exclude") else content.excludeWildcards
            val results = graft.sink.IgLoad.run(resources, resourceList, exclusions,
              forceOverwrite = p.has("force-overwrite"),
              makeClient = () => mk(host),
              settleBaseMillis = sleepSec * 1000L,
              settleMillisPerItem = 1000L)
            val byAction = results.groupBy("action").count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val failed = byAction.getOrElse("load-failed", 0L) + byAction.getOrElse("invalid", 0L)
            failures += failed
            println(s"${content.name}: loaded ${byAction.getOrElse("loaded", 0L)}, " +
              s"deleted ${byAction.getOrElse("deleted", 0L)}, " +
              s"excluded ${byAction.getOrElse("excluded", 0L)}" +
              (if (failed > 0) s", FAILED $failed" else ""))
          }
          if (failures > 0) 1 else 0
        }
    }
  }
}

/**
 * `delfhir` (ref: wstlr/purge.py:200-280): purge a study's resources in
 * reverse dependency order from the study-ids file; without
 * `--study-name` it lists the studies available in that file and exits 1
 * (purge.py:267-270).
 */
object DelFhirMain {

  val usage: String =
    """delfhir -e HOST [--hosts-file PATH] -s STUDY_IDS.json [-n STUDY]
      |        [-r TYPE]... [--sleep-millis N]""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args, CliSession.create("graft-delfhir")))

  def run(args: Array[String], spark: SparkSession): Int = {
    CliArgs.parse(args,
      flagAliases = Map.empty,
      optionAliases = Map("-e" -> "env", "--env" -> "env",
        "--hosts-file" -> "hosts-file",
        "-s" -> "study-ids", "--study-ids" -> "study-ids",
        "-n" -> "study-name", "--study-name" -> "study-name",
        "-r" -> "resource", "--resource" -> "resource",
        "--sleep-millis" -> "sleep-millis")) match {
      case Left(err) => Console.err.println(s"$err\nusage: $usage"); 1
      case Right(p) if p.opt("env").isEmpty || p.opt("study-ids").isEmpty =>
        Console.err.println(s"usage: $usage"); 1
      case Right(p) =>
        CliSession.guard {
          val name = p.opt("env").get
          val host = CliSession.host(CliSession.hosts(p), name)
          val idsJson = new String(
            Files.readAllBytes(Paths.get(p.opt("study-ids").get)), StandardCharsets.UTF_8)
          // the file shape is {study: {host: {type: [ids]}}} — only this
          // host's ids may be listed or deleted against this host
          // (purge.py iterates content[study][env], never other hosts)
          val allIds = BundleScan.readStudyIds(spark, idsJson)
            .filter(col("host") === name)
          p.opt("study-name") match {
            case None =>
              // ref: purge.py:267-270 — list the available studies, exit 1
              val studies = allIds.select("study").distinct()
                .collect().map(_.getString(0)).sorted
              println("The following study IDs are available for that server:")
              println("\t" + studies.mkString("\n\t"))
              1
            case Some(study) =>
              val types = p.all("resource").filterNot(_ == "ALL")
              val scoped0 = allIds.filter(allIds("study") === study)
              val scoped = if (types.isEmpty) scoped0
                else scoped0.filter(scoped0("resource_type").isin(types: _*))
              val sleep = p.opt("sleep-millis").map(_.toLong).getOrElse(60000L)
              val results = PurgeSink.purge(scoped,
                () => host.poster().delete _, sleepMillis = sleep)
              val byStatus = results.groupBy("status").count()
                .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
              println(s"deleted: ${byStatus.getOrElse("deleted", 0L)}, " +
                s"deferred: ${byStatus.getOrElse("deferred", 0L)}, " +
                s"errors: ${byStatus.getOrElse("error", 0L)}")
              if (byStatus.getOrElse("deferred", 0L) + byStatus.getOrElse("error", 0L) > 0) 1 else 0
          }
        }
    }
  }
}
