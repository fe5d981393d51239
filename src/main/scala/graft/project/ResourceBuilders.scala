package graft.project

import graft.functions.WhistlerFunctions._
import graft.harmony.Harmony
import graft.model.{DdStudy, DdTable, DdType}
import graft.project.Projection.StudyInfo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/**
 * DD-catalog-driven resource builders — the replacement for the
 * reference's Jinja2->Whistle codegen (ref: wstlr/sourcedata/obscomp.py:
 * 36-127, questionnaire.py:28-94, and the templates they render:
 * observation_w_components.wstl, questionnaires.wstl,
 * wlib/core/wlib_dd_terms_codesystem.wstl, wlib_dd_terms_valueset.wstl).
 *
 * Instead of generating per-table Whistle source, the builders iterate
 * the [[DdTable]] metadata on the driver and emit Column expressions per
 * variable (SURVEY.md §2.9: "programmatic plan building — straight
 * Scala, no codegen step needed"). Per-variable harmonize joins are all
 * broadcast (mapping dimensions), so an N-variable table costs N
 * broadcast hash probes inside one stage — the data table itself never
 * shuffles.
 *
 * All builders emit the projection output contract
 * (module, resourceType, id, resource-JSON).
 */
object ResourceBuilders {

  private val CodingType = "array<struct<code:string,display:string,system:string>>"

  /** Combined enumeration-space bound below which value codings inline
   *  as literal CASE projections instead of per-variable broadcast
   *  joins (see [[observations]]). */
  private[graft] val MaxLiteralValueCodes = 1024

  /** A harmony codings lookup ([[graft.harmony.Harmony.codingsLookup]]):
   *  system -> code -> RAW codings (self rows included — callers filter),
   *  derived on the driver from the harmony value and shared by every
   *  builder handed it. */
  final case class CodingsLookup(bySystem: Map[String, Map[String, Seq[(String, String, String)]]]) {
    /** The lookup as a (code, system, codings) frame over a local
     *  relation, for the broadcast-join fallback. */
    def frame(spark: SparkSession): DataFrame = {
      val rows = for ((system, codes) <- bySystem.toSeq; (code, cs) <- codes.toSeq)
        yield Row(code, system, cs.map { case (c, d, s) => Row(c, d, s) })
      spark.createDataFrame(rows.asJava,
        StructType.fromDDL(s"code STRING, system STRING, codings $CodingType"))
    }
  }

  /** Driver-side twin of `nonSelfOnly` (same filter as
   *  wlib/core/_harmonize_mapped.wstl:7-10). */
  private def nonSelfSeq(cs: Seq[(String, String, String)]): Seq[(String, String, String)] =
    cs.filterNot(c => c._3 == "self" || c._3.contains("-unharmonized"))

  /** Literal coding array from driver-side (code, display, system) rows. */
  private def codingsLit(codings: Seq[(String, String, String)]): Column =
    if (codings.isEmpty) lit(null).cast(CodingType)
    else array(codings.map { case (c, d, s) =>
      struct(lit(c).as("code"), nullif(lit(d), lit("")).as("display"),
        nullif(lit(s), lit("")).as("system"))
    }: _*)

  /** The constant LOINC form-definition coding
   *  (ref: observation_w_components.wstl:81). */
  private val FormDefCoding: Column =
    struct(lit("74468-0").as("code"),
      lit("Questionnaire form definition Document").as("display"),
      lit("https://loinc.org").as("system"))

  private def metaTag(study: StudyInfo): Column =
    struct(array(studyMeta(lit(study.identifierPrefix), lit(study.id))).as("tag"))

  private def officialIdentifier(study: StudyInfo, resourceType: String, value: Column): Column = {
    val ki = keyIdentifier(lit(study.identifierPrefix), lit(resourceType), value)
    array(struct(
      ki.getField("value").as("value"),
      ki.getField("system").as("system"),
      lit("official").as("use")))
  }

  /**
   * Minimal Patient per distinct subject id (ref: pipeline_overview.md's
   * participant example; study whistle code enriches this —
   * [[graft.project.Projection.participant]] is the full demographic
   * projection). Its official identifier goes through the same
   * `keyIdentifier(prefix, "Patient", id)` as the subject references
   * emitted by [[observations]]/[[questionnaireResponses]], so loading
   * these guarantees those references resolve.
   */
  def patients(data: DataFrame, study: StudyInfo, dd: DdTable): DataFrame = {
    val subjectCol = dd.subjectId.getOrElse(
      throw new IllegalArgumentException(s"table ${dd.tableName} has no subject id"))
    val resource = struct(
      lit("Patient").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "Patient", col("id")).as("identifier"))
    data.filter(col(subjectCol).isNotNull)
      .select(col(subjectCol).as("id")).distinct()
      .select(lit("patient").as("module"), lit("Patient").as("resourceType"),
        col("id"), to_json(resource).as("resource"))
  }

  // --- CodeSystem / ValueSet (ref: wlib_dd_terms_codesystem.wstl:30-72,
  // wlib_dd_terms_valueset.wstl:12-49) ------------------------------------

  /**
   * One CodeSystem + ValueSet pair per DD table and per categorical
   * variable with values (variable code systems are only built when the
   * value list is non-empty; value sets only alongside a code system —
   * ref: wlib_dd_terms_codesystem.wstl:33,76-81). Module `ddmeta`.
   */
  def ddTerminology(spark: SparkSession, study: StudyInfo, dd: DdStudy): DataFrame = {
    val entrySchema = StructType(Seq(
      StructField("table_name", StringType),
      StructField("varname", StringType, nullable = true),
      StructField("url", StringType),
      StructField("values", ArrayType(StructType(Seq(
        StructField("code", StringType), StructField("description", StringType)))))))
    val entries = dd.tables.flatMap { table =>
      val tableEntry = Row(table.tableName, null,
        table.url, table.tableCodeSystemValues.map(v => Row(v.code, v.description)))
      val varEntries = table.variables
        .filter(_.values.nonEmpty)
        .map(v => Row(table.tableName, v.varName, v.url,
          v.values.map(e => Row(e.code, e.description))))
      tableEntry +: varEntries
    }
    val df = spark.createDataFrame(entries.asJava, entrySchema)

    val termId = when(col("varname").isNotNull,
      buildVariableTerminologyId(lit(study.id), col("table_name"), col("varname")))
      .otherwise(buildTableTerminologyId(lit(study.id), col("table_name")))
    val csTitle = when(col("varname").isNotNull,
      concat(lit("Values associated with variable, "), col("table_name"), lit("."),
        col("varname"), lit(s", from study, ${study.id}.")))
      .otherwise(concat(lit("Variables associated with table, "), col("table_name"),
        lit(s", from study, ${study.id}.")))
    val ki = keyIdentifier(lit(study.identifierPrefix), lit("CodeSystem"), termId)
    val kiVs = keyIdentifier(lit(study.identifierPrefix), lit("ValueSet"), termId)
    def official(k: Column): Column = array(struct(
      k.getField("value").as("value"), k.getField("system").as("system"),
      lit("official").as("use")))

    val codeSystem = struct(
      lit("CodeSystem").as("resourceType"),
      metaTag(study).as("meta"),
      official(ki).as("identifier"),
      termId.as("name"),
      csTitle.as("title"),
      col("url").as("url"),
      lit("active").as("status"),
      lit(study.publisher).as("publisher"),
      lit("complete").as("content"),
      size(col("values")).as("count"),
      expr("transform(values, v -> struct(v.code as code, v.description as display))").as("concept"))
    val valueSet = struct(
      lit("ValueSet").as("resourceType"),
      metaTag(study).as("meta"),
      official(kiVs).as("identifier"),
      termId.as("name"),
      when(col("varname").isNotNull,
        concat(lit("ValueSet for all values associated with variable, "), col("table_name"),
          lit("."), col("varname"), lit(s", from study, ${study.id}.")))
        .otherwise(concat(lit("ValueSet for all variables associated with table, "),
          col("table_name"), lit(s", from study, ${study.id}."))).as("title"),
      convertForValueSetUrl(col("url")).as("url"),
      struct(array(struct(col("url").as("system"))).as("include")).as("compose"),
      lit("active").as("status"),
      lit(study.publisher).as("publisher"))

    val withValues = df.filter(size(col("values")) > 0)
    val cs = withValues.select(
      lit("ddmeta").as("module"), lit("CodeSystem").as("resourceType"),
      termId.as("id"), to_json(codeSystem).as("resource"))
    val vs = withValues.select(
      lit("ddmeta").as("module"), lit("ValueSet").as("resourceType"),
      termId.as("id"), to_json(valueSet).as("resource"))
    cs.unionByName(vs)
  }

  // --- Observation-per-row (ref: observation_w_components.wstl:12-124,
  // obscomp.py) -----------------------------------------------------------

  /**
   * One Observation per data row, one component per DD variable, typed by
   * the variable's DD type:
   *  - enumeration -> valueCodeableConcept from the harmonized value
   *    (a broadcast join per enum variable, system = varname)
   *  - string -> valueString
   *  - int    -> valueQuantity when it parses, else valueString
   *  - number -> valueQuantity when it parses, else valueString
   * (ref: observation_w_components.wstl:12-63 branch per type.)
   *
   * Component `code.coding` (the varname-level coding) is resolved from
   * the harmony lookup once, driver-side — it is per-*variable* metadata,
   * not per-row data.
   */
  def observations(
      data: DataFrame,
      study: StudyInfo,
      dd: DdTable,
      harmonyLookup: Option[CodingsLookup] = None,
      idCols: Seq[String] = Nil,
      maxLiteralValueCodes: Int = MaxLiteralValueCodes): DataFrame = {
    val tableName = dd.tableName
    val subjectCol = dd.subjectId.getOrElse(
      throw new IllegalArgumentException(s"table $tableName has no subject id"))
    val keyCols = if (idCols.nonEmpty) idCols else Seq(subjectCol)

    // the lookup's ONE driver-side collect (DD-sized metadata, shared by
    // every builder handed the same lookup), grouped by system —
    // per-system filtering happens on the collected map, never as another
    // Spark job (a 100-enum table used to fire 100+ separate
    // filter+collect actions at plan-build time).
    // HarmonizeMapped semantics = NonSelfOnly
    // (ref: wlib/core/_harmonize_mapped.wstl:7-10).
    val collected = harmonyLookup.map(_.bySystem).getOrElse(Map.empty)
    def mapped(system: String): Map[String, Seq[(String, String, String)]] =
      collected.getOrElse(system, Map.empty)
        .map { case (c, cs) => c -> nonSelfSeq(cs) }
    val varCodings: Map[String, Seq[(String, String, String)]] = mapped(tableName)
    // table-level coding: HarmonizeMapped(table_name, "DataSet")
    // (ref: observation_w_components.wstl:82)
    val tableCodingSeq: Seq[(String, String, String)] =
      mapped("DataSet").getOrElse(tableName, Nil)

    // Value-level codings per enumeration variable. Like the
    // varname-level codings above, these are DD-sized mapping metadata
    // (value code -> non-self codings), so they resolve driver-side and
    // attach as literal CASE projections — ZERO joins regardless of how
    // many enumeration variables the table has (this used to be one
    // broadcast join per enum variable: a 100-variable DD meant 100
    // joins in the plan). Tables whose combined enumeration space
    // exceeds `MaxLiteralValueCodes` (adversarially wide vocabularies
    // where a literal CASE would bloat the plan) fall back to the
    // per-variable broadcast-join path.
    val enumVars = dd.variables.filter(v =>
      v.dataType == DdType.Enumeration && data.columns.contains(v.fieldName))
    val valueCodingMaps: Map[String, Map[String, Seq[(String, String, String)]]] =
      if (harmonyLookup.isEmpty) Map.empty
      else enumVars.map(v => v.fieldName -> mapped(v.varName)).toMap
    val useLiteralValueCodings =
      valueCodingMaps.values.map(_.size).sum <= maxLiteralValueCodes
    val joined = harmonyLookup match {
      case Some(lookup) if !useLiteralValueCodings =>
        enumVars.foldLeft(data) { (df, v) =>
          harmonize(df, lookup.frame(data.sparkSession), v.fieldName, v.varName, s"_h_${v.fieldName}")
        }
      case _ => data
    }
    // CASE value WHEN code1 THEN [codings1] ... ELSE [] — agrees with the
    // join path's coalesce-to-[] miss behavior
    def literalValueCodings(v: graft.model.DdVariable): Column =
      valueCodingMaps.getOrElse(v.fieldName, Map.empty).toSeq.sortBy(_._1)
        .filter(_._2.nonEmpty)
        .foldLeft(array().cast(CodingType)) { case (acc, (code, cs)) =>
          when(col(v.fieldName) === code, codingsLit(cs)).otherwise(acc)
        }

    val components = dd.variables
      .filter(v => data.columns.contains(v.fieldName))
      .map { v =>
        val value = col(v.fieldName)
        val codeStruct = struct(codingsLit(varCodings.getOrElse(v.varName, Nil)).as("coding"))
        val valueCodings =
          if (v.dataType == DdType.Enumeration && harmonyLookup.isDefined) {
            val mapped =
              if (useLiteralValueCodings) literalValueCodings(v)
              else nonSelfOnly(col(s"_h_${v.fieldName}"))
            when(size(mapped) > 0, struct(mapped.as("coding")))
          } else lit(null).cast(s"struct<coding:$CodingType>")
        val numeric = v.dataType match {
          case DdType.Integer => parseInt(value).cast("double")
          case DdType.Number  => parseFloat(value)
          case _              => lit(null).cast("double")
        }
        val valueString = v.dataType match {
          case DdType.Enumeration => lit(null).cast("string")
          case DdType.Integer | DdType.Number => when(numeric.isNull, value)
          case _ => value
        }
        when(value.isNotNull, struct(
          codeStruct.as("code"),
          valueString.as("valueString"),
          when(numeric.isNotNull, struct(numeric.as("value"))).as("valueQuantity"),
          valueCodings.as("valueCodeableConcept")))
      }

    val rowId = concat_ws(".", keyCols.map(col): _*)
    val obsIdValue = concat_ws(".", lit(study.id), lit(tableName), rowId, col(subjectCol))
    val codeCoding =
      if (tableCodingSeq.isEmpty) array(FormDefCoding)
      else concat(array(FormDefCoding), codingsLit(tableCodingSeq))

    val resource = struct(
      lit("Observation").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "Observation", obsIdValue).as("identifier"),
      lit("final").as("status"),
      struct(
        codeCoding.as("coding"),
        concat(lit("Source data for data table, "), lit(tableName)).as("text")).as("code"),
      referenceKeyIdentifier(lit(study.identifierPrefix), lit("Patient"), col(subjectCol))
        .as("subject"),
      array_compact(array(components: _*)).as("component"))

    joined.select(
      lit("source_data").as("module"),
      lit("Observation").as("resourceType"),
      obsIdValue.as("id"),
      to_json(resource).as("resource"))
  }

  // --- ObservationDefinition / ActivityDefinition
  // (ref: wlib/dd/wlib_dd_tables_and_vars.wstl:36-67,83-111) --------------

  /** FHIR permittedDataType per DD type (ref: the per-type dispatch in
   *  wlib_dd_tables_and_vars.wstl's wrapper). */
  private def permittedDataType(ddType: String): String = ddType match {
    case DdType.Integer | DdType.Number => "Quantity"
    case DdType.Enumeration => "CodeableConcept"
    case _ => "string"
  }

  /** One ObservationDefinition per DD variable plus one
   *  ActivityDefinition per table referencing them — the DD-as-FHIR
   *  metadata layer. Module `ddmeta`. */
  def ddDefinitions(spark: SparkSession, study: StudyInfo, dd: DdStudy): DataFrame = {
    import spark.implicits._
    val prefix = lit(study.identifierPrefix)

    val obsDefs = dd.tables.flatMap { table =>
      table.variables.map { v =>
        val termId = s"${study.id}.${table.tableName}.${v.varName}"
        (table.tableName, v.varName, v.desc, permittedDataType(v.dataType),
          table.url, v.values.size, termId)
      }
    }.toDF("table_name", "varname", "desc", "perm_type", "code_system", "n_values", "term_id")

    val obsDefResource = struct(
      lit("ObservationDefinition").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "ObservationDefinition", col("term_id")).as("identifier"),
      array(col("perm_type")).as("permittedDataType"),
      struct(
        array(struct(col("varname").as("code"), col("desc").as("display"),
          col("code_system").as("system"))).as("coding"),
        col("desc").as("text")).as("code"),
      when(col("n_values") > 1,
        referenceKeyIdentifier(prefix, lit("ValueSet"), col("term_id")))
        .as("validCodedValueSet"))
    val obs = obsDefs.select(
      lit("ddmeta").as("module"), lit("ObservationDefinition").as("resourceType"),
      col("term_id").as("id"), to_json(obsDefResource).as("resource"))

    val actDefs = dd.tables.map { t =>
      (t.tableName, t.url, t.variables.map(v => s"${study.id}.${t.tableName}.${v.varName}"))
    }.toDF("table_name", "url", "var_term_ids")
    val actResource = struct(
      lit("ActivityDefinition").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "ActivityDefinition", col("table_name")).as("identifier"),
      concat(lit(study.id), lit("."), col("table_name"), lit("-vars")).as("name"),
      concat(lit(s"Variables for table ${study.id}."), col("table_name")).as("title"),
      col("url").as("url"),
      array(struct(array(struct(
        lit("C0035168").as("code"), lit("Research").as("display"),
        lit("https://uts.nlm.nih.gov/uts/umls").as("system"))).as("coding"))).as("topic"),
      transform(col("var_term_ids"), tid =>
        referenceKeyIdentifier(prefix, lit("ObservationDefinition"), tid))
        .as("observationResultRequirement"),
      lit("active").as("status"))
    val act = actDefs.select(
      lit("ddmeta").as("module"), lit("ActivityDefinition").as("resourceType"),
      col("table_name").as("id"), to_json(actResource).as("resource"))

    obs.unionByName(act)
  }

  // --- Harmony ValueSets (ref: wlib/dd/wlib_dd_concept_valusets.wstl:10-52)

  /**
   * The ValueSet over one side of the harmony ConceptMap: one
   * compose.include per code group (system + concepts), in group order.
   * `vsName` is `sources` or `targets` (ref: wlib_dd_conceptmap.wstl:89-91
   * ProcessDDHarmony emits both). Module `harmony`. The groups come from
   * the driver as a one-row local relation, so collecting the resource
   * runs no Spark job.
   */
  def harmonyValueSet(spark: SparkSession, codeGroups: Seq[Harmony.CodeGroup], study: StudyInfo,
      vsName: String, urlBase: String = graft.model.Dd.SystemBase): DataFrame = {
    val idValue = s"${study.id}.cm-valueset.$vsName"
    val include = codeGroups.sortBy(_.order).map(g =>
      Row(g.system, g.codes.map { case (code, display) => Row(code, display) }))
    val one = spark.createDataFrame(java.util.List.of(Row(include)), StructType.fromDDL(
      "_include array<struct<system:string,concept:array<struct<code:string,display:string>>>>"))
    val resource = struct(
      lit("ValueSet").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "ValueSet", lit(idValue)).as("identifier"),
      buildVariableTerminologyId(lit(study.id), lit("concept-map-vs"), lit(vsName)).as("name"),
      lit(s"ValueSet for values associated with $vsName codes in data harmonization " +
        s"from study, ${study.id}.").as("title"),
      lit(s"$urlBase/data-dictionary/valueset/${study.id}/$vsName").as("url"),
      struct(col("_include").as("include")).as("compose"),
      lit("active").as("status"),
      lit(study.publisher).as("publisher"))
    one.select(
      lit("harmony").as("module"),
      lit("ValueSet").as("resourceType"),
      lit(idValue).as("id"),
      to_json(resource).as("resource"))
  }

  // --- TableType dispatch for per-row projections
  // (ref: observation_w_components.wstl:103-124 ProcessSourceData-* —
  // grouped tables project their content rows, embedded tables the rows
  // of their array column) ------------------------------------------------

  /**
   * Flatten an extracted table back to projection-ready rows per its
   * TableType: grouped tables explode `content` (group keys rejoin each
   * row), embed children explode their array column on the parent. The
   * result feeds [[observations]] / [[questionnaireResponses]] unchanged.
   */
  def flattenForProjection(
      extracted: DataFrame,
      tableType: graft.model.TableType,
      embedColumn: String = ""): DataFrame = tableType match {
    case graft.model.TableType.Grouped =>
      val keys = extracted.columns.filterNot(_ == "content").toSeq
      extracted
        .select((keys.map(col) :+ explode(col("content")).as("_row")).toIndexedSeq: _*)
        .select((keys.map(col) :+ col("_row.*")).toIndexedSeq: _*)
    case graft.model.TableType.Embedded =>
      require(embedColumn.nonEmpty, "embedded flatten requires the embed column name")
      extracted
        .select(explode(col(embedColumn)).as("_row"))
        .select(col("_row.*"))
        .drop("table_name")
    case _ => extracted
  }

  // --- Harmony ConceptMap resource
  // (ref: wlib/dd/wlib_dd_conceptmap.wstl:71-86) --------------------------

  /**
   * The study's harmony ConceptMap as a FHIR resource: all
   * [[graft.harmony.Harmony.conceptMapGroups]] in one `group` array, with
   * the study identifier, purpose, and the IG-style data-to-public URL.
   * Module `harmony`. Groups order by first row; a row's target and self
   * groups tie there (same row, same source) and order by target, as
   * Spark compares strings. The groups come from the driver as a one-row
   * local relation, so collecting the resource runs no Spark job.
   */
  def harmonyConceptMap(spark: SparkSession, groups: Seq[Harmony.Group], study: StudyInfo,
      urlBase: String = graft.model.Dd.SystemBase): DataFrame = {
    val idValue = s"${study.id}.concept-map"
    val one = Harmony.groupsFrame(spark,
      groups.sortBy(g => (g.order, UTF8String.fromString(g.target))))
    val resource = struct(
      lit("ConceptMap").as("resourceType"),
      metaTag(study).as("meta"),
      struct(
        keyIdentifier(lit(study.identifierPrefix), lit("ConceptMap"), lit(idValue))
          .getField("value").as("value"),
        keyIdentifier(lit(study.identifierPrefix), lit("ConceptMap"), lit(idValue))
          .getField("system").as("system"),
        lit("official").as("use")).as("identifier"),
      lit("active").as("status"),
      lit("Represent transformations applied to the dataset").as("purpose"),
      lit(s"$urlBase/data-dictionary/conceptmap/${study.id}/data-to-public").as("url"),
      lit(s"$urlBase/data-dictionary/valueset/${study.id}/sources").as("sourceUri"),
      lit(s"$urlBase/data-dictionary/valueset/${study.id}/targets").as("targetUri"),
      col("group").as("group"))
    one.select(
      lit("harmony").as("module"),
      lit("ConceptMap").as("resourceType"),
      lit(idValue).as("id"),
      to_json(resource).as("resource"))
  }

  // --- Questionnaire (ref: questionnaires.wstl:46-99) ---------------------

  /** One Questionnaire per DD table: an item per variable, categorical
   *  variables typed `choice` with their ValueSet URL. */
  def questionnaire(spark: SparkSession, study: StudyInfo, dd: DdTable): DataFrame = {
    val items = dd.variables.map { v =>
      val (itemType, answerValueSet) = v.dataType match {
        case DdType.Enumeration => ("choice", convertForValueSetUrl(lit(v.url)))
        case DdType.Integer => ("integer", lit(null).cast("string"))
        case DdType.Number => ("decimal", lit(null).cast("string"))
        case _ => ("string", lit(null).cast("string"))
      }
      struct(lit(v.varName).as("linkId"), lit(v.desc).as("text"),
        lit(itemType).as("type"), answerValueSet.as("answerValueSet"))
    }
    val url = concat_ws("/", lit(study.identifierPrefix),
      lit("data-dictionary/rl-questionnaire"), lit(study.id), lower(lit(dd.tableName)))
    val idValue = concat_ws(".", lit(study.id), lit(dd.tableName))
    val resource = struct(
      lit("Questionnaire").as("resourceType"),
      metaTag(study).as("meta"),
      officialIdentifier(study, "Questionnaire", idValue).as("identifier"),
      url.as("url"),
      lit(dd.tableName).as("name"),
      lit("active").as("status"),
      array(lit("Patient")).as("subjectType"),
      array(FormDefCoding).as("code"),
      array(items: _*).as("item"))
    import spark.implicits._
    Seq(1).toDF("_one").select(
      lit("questionnaire").as("module"),
      lit("Questionnaire").as("resourceType"),
      idValue.as("id"),
      to_json(resource).as("resource"))
  }

  // --- QuestionnaireResponse per data row
  // (ref: questionnaires.wstl:99-124 + the per-type item helpers at
  // questionnaires.wstl:13-43) --------------------------------------------

  /**
   * One QuestionnaireResponse per row: an item per DD variable, answers
   * typed by the variable's DD type — categorical answers take the first
   * study-prefixed harmonized coding (HarmonizeSelectByPrefix), numeric
   * answers only materialize when the value parses (the reference drops
   * non-numeric answers rather than recording them).
   */
  def questionnaireResponses(
      data: DataFrame,
      study: StudyInfo,
      dd: DdTable,
      harmonyLookup: Option[CodingsLookup] = None,
      idCols: Seq[String] = Nil,
      maxLiteralValueCodes: Int = MaxLiteralValueCodes): DataFrame = {
    val subjectCol = dd.subjectId.getOrElse(
      throw new IllegalArgumentException(s"table ${dd.tableName} has no subject id"))
    val keyCols = if (idCols.nonEmpty) idCols else Seq(subjectCol)

    val enumVars = dd.variables.filter(v =>
      v.dataType == DdType.Enumeration && data.columns.contains(v.fieldName))
    // same literal-CASE dispatch as [[observations]] — but with the RAW
    // codings (self included), because HarmonizeSelectByPrefix filters by
    // system prefix downstream, not NonSelfOnly
    val collected = harmonyLookup.map(_.bySystem).getOrElse(Map.empty)
    val rawValueCodings: Map[String, Map[String, Seq[(String, String, String)]]] =
      if (harmonyLookup.isEmpty) Map.empty
      else enumVars.map(v => v.fieldName -> collected.getOrElse(v.varName, Map.empty)).toMap
    val useLiteralValueCodings =
      rawValueCodings.values.map(_.size).sum <= maxLiteralValueCodes
    val joined = harmonyLookup match {
      case Some(lookup) if !useLiteralValueCodings =>
        enumVars.foldLeft(data) { (df, v) =>
          harmonize(df, lookup.frame(data.sparkSession), v.fieldName, v.varName, s"_qh_${v.fieldName}")
        }
      case _ => data
    }
    def literalRawCodings(v: graft.model.DdVariable): Column =
      rawValueCodings.getOrElse(v.fieldName, Map.empty).toSeq.sortBy(_._1)
        .filter(_._2.nonEmpty)
        .foldLeft(array().cast(CodingType)) { case (acc, (code, cs)) =>
          when(col(v.fieldName) === code, codingsLit(cs)).otherwise(acc)
        }

    val answerType =
      s"array<struct<valueString:string,valueInteger:bigint,valueCoding:struct<code:string,display:string,system:string>,valueQuantity:struct<value:double>>>"
    def answer(valueString: Column = lit(null).cast("string"),
        valueInteger: Column = lit(null).cast("bigint"),
        valueCoding: Column = lit(null).cast("struct<code:string,display:string,system:string>"),
        valueQuantity: Column = lit(null).cast("struct<value:double>")): Column =
      array(struct(valueString.as("valueString"), valueInteger.as("valueInteger"),
        valueCoding.as("valueCoding"), valueQuantity.as("valueQuantity")))

    val items = dd.variables.filter(v => data.columns.contains(v.fieldName)).map { v =>
      val value = col(v.fieldName)
      val answers: Column = v.dataType match {
        case DdType.Enumeration if harmonyLookup.isDefined =>
          val codings =
            if (useLiteralValueCodings) literalRawCodings(v)
            else col(s"_qh_${v.fieldName}")
          val coding = harmonizeFirst(
            harmonizeSelection(codings, study.identifierPrefix))
          when(coding.isNotNull, answer(valueCoding = coding))
        case DdType.Integer =>
          when(parseInt(value).isNotNull, answer(valueInteger = parseInt(value)))
        case DdType.Number =>
          when(parseFloat(value).isNotNull,
            answer(valueQuantity = struct(parseFloat(value).as("value"))))
        case _ => answer(valueString = value).cast(answerType)
      }
      when(value.isNotNull, struct(
        lit(v.varName).as("linkId"), lit(v.desc).as("text"), answers.as("answer")))
    }

    val rowId = concat_ws(".", keyCols.map(col): _*)
    val qrId = concat_ws(".", lit(study.id), lit(dd.tableName), lit("source-data"), rowId)
    val qUrl = concat_ws("/", lit(study.identifierPrefix),
      lit("data-dictionary/rl-questionnaire"), lit(study.id), lower(lit(dd.tableName)))
    val ki = keyIdentifier(lit(study.identifierPrefix), lit("QuestionnaireResponse"), qrId)
    val resource = struct(
      lit("QuestionnaireResponse").as("resourceType"),
      metaTag(study).as("meta"),
      struct(ki.getField("value").as("value"), ki.getField("system").as("system"),
        lit("official").as("use")).as("identifier"),
      lit("completed").as("status"),
      qUrl.as("questionnaire"),
      referenceKeyIdentifier(lit(study.identifierPrefix), lit("Patient"), col(subjectCol))
        .as("subject"),
      array_compact(array(items: _*)).as("item"))

    joined.select(
      lit("source_data").as("module"),
      lit("QuestionnaireResponse").as("resourceType"),
      qrId.as("id"),
      to_json(resource).as("resource"))
  }
}
