package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model._

import scala.jdk.CollectionConverters._

/**
 * Study-configuration reader (ref: wstlr/config.py:18-70 property surface,
 * docs/ref/project_config.md key names). The reference configs are YAML
 * (`safe_load` at config.py:22); [[fromYaml]] parses the same files via
 * Jackson's YAML dataformat (ships with Spark), and the isomorphic JSON
 * form stays supported. Key names match the reference config verbatim
 * (`study_id`, `identifier_prefix`, `active_tables`,
 * `dataset.<name>.{filename, group_by, embed, code_harmonization,
 * aggregators, aggregator-splitter, data_dictionary}`).
 */
object ConfigReader {

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Parse a config file, dispatching on extension: `.yaml`/`.yml` →
   *  YAML (the reference's native format), anything else → JSON. */
  def fromFile(path: String): StudyConfig = {
    val lower = path.toLowerCase
    if (lower.endsWith(".yaml") || lower.endsWith(".yml")) fromYaml(readFile(path))
    else fromJson(readFile(path))
  }

  /** YAML study config — the reference's actual on-disk format. Parsed
   *  into the same node tree as JSON, so both forms share one walk. */
  def fromYaml(yaml: String): StudyConfig =
    fromTree(new ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory()).readTree(yaml))

  def fromJson(json: String): StudyConfig =
    fromTree(new ObjectMapper().readTree(json))

  private def fromTree(root: JsonNode): StudyConfig = {

    def str(n: JsonNode, key: String, default: String = ""): String = {
      val v = n.get(key)
      if (v == null || v.isNull) default else v.asText()
    }
    def strMap(n: JsonNode): Map[String, String] =
      if (n == null || n.isNull) Map.empty
      else n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

    val dataset = Option(root.get("dataset")).filterNot(_.isNull).map { ds =>
      ds.properties().asScala.map { e =>
        val t = e.getValue
        val dd = Option(t.get("data_dictionary")).filterNot(_.isNull).map { d =>
          DataDictionaryConfig(str(d, "filename"), strMap(d.get("colnames")))
        }
        val embed = Option(t.get("embed")).filterNot(_.isNull).map { em =>
          EmbedConfig(str(em, "dataset"), str(em, "colname"),
            saltBuckets = Option(em.get("salt_buckets")).filterNot(_.isNull)
              .map { n =>
                // a silently-ignored knob would leave the skewed join
                // un-salted with no diagnostic — reject junk loudly
                val ok = (n.isIntegralNumber && n.canConvertToInt) ||
                  (n.isTextual && n.asText().matches("-?\\d+"))
                require(ok, s"embed.salt_buckets must be an integer, got: ${n.asText()}")
                if (n.isTextual) n.asText().toInt else n.asInt()
              }.getOrElse(1))
        }
        e.getKey -> DatasetConfig(
          filename = str(t, "filename"),
          dataDictionary = dd,
          groupBy = Option(t.get("group_by")).filterNot(_.isNull).map(_.asText()),
          embed = embed,
          codeHarmonization =
            Option(t.get("code_harmonization")).filterNot(_.isNull).map(_.asText()),
          aggregators = strMap(t.get("aggregators")),
          aggregatorSplitter =
            Option(t.get("aggregator-splitter")).filterNot(_.isNull).map(_.asText()),
          delimiter = str(t, "delimiter", ","))
      }.toMap
    }.getOrElse(Map.empty)

    val activeTables = Option(root.get("active_tables")).filterNot(_.isNull).map { at =>
      at.properties().asScala.map(e => e.getKey -> e.getValue.asBoolean()).toMap
    }.getOrElse(Map("ALL" -> true))

    StudyConfig(
      studyId = str(root, "study_id"),
      studyTitle = str(root, "study_title"),
      studyDesc = str(root, "study_desc"),
      studyAccession = str(root, "study_accession"),
      identifierPrefix = str(root, "identifier_prefix"),
      ddPrefix = str(root, "dd_prefix"),
      url = str(root, "url"),
      publisher = str(root, "publisher", "NCPI FHIR Working Group"),
      idColname = Option(root.get("id_colname")).filterNot(_.isNull).map(_.asText()),
      consentGroup = Option(root.get("consent_group")).filterNot(_.isNull).map(_.asText()),
      curies = strMap(root.get("curies")),
      activeTables = activeTables,
      dataset = dataset,
      missingValues = Option(root.get("missing_values")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Naming.DefaultMissing),
      annotations = strMap(root.get("annotations")))
  }
}
