package flowbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.cli.{Play, PlayMain}
import graft.sink.{BundleSink, Hosts}
import graft.sources.{BundleScan, ConfigReader}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/**
 * The whistler flows, called the way the CLI calls them:
 *
 *  - `play` (PlayMain.run): Play.run → PlayMain.studyResources →
 *    BundleSink.entries/bundles/write (with -x) and/or
 *    PlayMain.loadResources (with --host). Traced, Play.run is replaced by
 *    its three stages (loadDdCatalog, buildConceptMaps, extractJson —
 *    exactly its body) so each gets a span, and the projection is forced
 *    once at its boundary so its work shows in its own span.
 *  - `loadfhir` (LoadFhirMain.run): BundleScan.read/loadFilter over a
 *    whistle-output document → PlayMain.loadResources.
 */
object Study {

  final case class PlayOut(outDir: String, rc: Int)

  def play(spark: SparkSession, tr: Tracer, cfgPath: String, dataDir: String,
      outDir: String, host: Option[Hosts.HostConfig], bundles: Boolean): PlayOut = {
    val config = ConfigReader.fromFile(cfgPath)
    val result =
      if (!tr.on)
        Play.run(spark, config, dataDir, outDir, extraDeps = Seq(cfgPath))
      else {
        val dd = tr.span("sources.dd")(Play.loadDdCatalog(spark, config, dataDir))
        val cms = tr.span("harmony.conceptmaps")(
          Play.buildConceptMaps(spark, config, dataDir, s"$outDir/harmony"))
        val (tables, doc) = tr.span("extract")(Play.extractJson(spark, config, dd, dataDir,
          s"$outDir/whistle-input/${config.studyId}.json", extraDeps = Seq(cfgPath)))
        Play.RunResult(tables, dd, cms, doc)
      }
    val resources = tr.span("project") {
      val r = PlayMain.studyResources(spark, config, result, dataDir)
      if (tr.on) r.write.format("noop").mode("overwrite").save()
      r
    }
    if (bundles) tr.span("sink.bundle") {
      BundleSink.write(
        BundleSink.bundles(
          BundleSink.entries(resources,
            host.map(_.targetServiceUrl).getOrElse("http://fhir.local")),
          s"${config.studyId}-bundle"),
        s"$outDir/bundles")
    }
    val rc = host.map { h =>
      tr.span("sink.load")(PlayMain.loadResources(spark, resources, h,
        config.identifierPrefix, validateOnly = false, maxValidations = 0,
        idCachePath = s"$outDir/idcache/${config.studyId}.parquet",
        invalidRefsPath = s"$outDir/invalid-references.json",
        studyIdsPath = s"$outDir/study_ids.json", studyId = config.studyId))
    }.getOrElse(0)
    PlayOut(outDir, rc)
  }

  def loadfhir(spark: SparkSession, tr: Tracer, doc: String, outDir: String,
      host: Hosts.HostConfig, identifierPrefix: String, studyId: String): PlayOut = {
    val resources = tr.span("sources.bundle")(BundleScan.loadFilter(BundleScan.read(spark, doc)))
    val rc = tr.span("sink.load")(PlayMain.loadResources(spark, resources, host,
      identifierPrefix, validateOnly = false, maxValidations = 0,
      idCachePath = s"$outDir/idcache/$studyId.parquet",
      invalidRefsPath = s"$outDir/invalid-references.json",
      studyIdsPath = s"$outDir/study_ids.json", studyId = studyId))
    PlayOut(outDir, rc)
  }

  // ------------------------------------------------------------ checks

  private val mapper = new ObjectMapper()

  /** Entries per resource type across the written bundle files, plus a
   *  digest of their content in (module, chunk) order. Each entry sits on
   *  its own line and starts with its fullUrl `<base>/<Type>/<id>`. */
  def bundleCounts(outDir: String): (Map[String, Long], String, Long) = {
    val root = Paths.get(outDir, "bundles")
    val files = if (!Files.exists(root)) Seq.empty[Path] else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
      finally s.close()
    }
    val counts = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    files.foreach { f =>
      val content = Files.readAllBytes(f)
      bytes += content.length
      // the part file name carries a per-write uuid; the partition dirs
      // (module=, chunk=) and the content are what a seed fixes
      digest.update(root.relativize(f.getParent).toString.getBytes(StandardCharsets.UTF_8))
      digest.update(content)
      new String(content, StandardCharsets.UTF_8).split("\n").foreach { line =>
        if (line.startsWith("{\"fullUrl\":\"")) {
          val url = line.substring(12, line.indexOf('"', 12))
          val segs = url.split("/")
          counts(segs(segs.length - 2)) += 1
        }
      }
    }
    (counts.toMap, hex(digest.digest()), bytes)
  }

  /** study_ids.json as type → ids for (study, host). */
  def studyIds(outDir: String, studyId: String, host: String): Map[String, Set[String]] = {
    val p = Paths.get(outDir, "study_ids.json")
    if (!Files.exists(p)) return Map.empty
    val node = mapper.readTree(Files.readAllBytes(p)).path(studyId).path(host)
    node.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSet
    }.toMap
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def sha(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8)))

  /** expected.json: (resources per type, input rows, identifier prefix) */
  def expected(inputDir: String): (Map[String, Long], Long, String) = {
    val root = mapper.readTree(Files.readAllBytes(Paths.get(inputDir, "expected.json")))
    (root.path("resources").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      root.path("input_rows").asLong, root.path("identifier_prefix").asText(""))
  }
}
