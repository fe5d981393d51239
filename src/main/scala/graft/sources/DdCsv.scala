package graft.sources

import graft.model._
import org.apache.spark.sql.SparkSession

/**
 * Data-dictionary CSV parser (ref: wstlr/dd/csv_parser.py:26-52 with the
 * header alias remap from wstlr/dd/loader.py:43-49 and required-column
 * check at loader.py:73-81). Produces the [[graft.model.DdTable]] catalog.
 *
 * The DD is metadata (it *declares* the data's schema), so rows are
 * collected to the driver by design — this is the catalog-build path, not
 * a data path (SURVEY.md §1.1: "metadata catalog: case classes").
 * Undeclared extra columns are ignored (the reference swallows them via
 * `restkey='junk'`).
 */
object DdCsv {

  /** Required post-remap header names (ref: dd/loader.py:18-22). */
  val RequiredColumns: Seq[String] = Seq("variable_name", "data_type", "enumerations")

  /** Built-in header aliases (ref: dd/loader.py:43-49):
   *  alternate header -> canonical name. */
  val BaseColnames: Map[String, String] = Map(
    "column" -> "variable_name",
    "varname" -> "variable_name",
    "desc" -> "description",
    "type" -> "data_type",
    "values" -> "enumerations")

  /**
   * Parse one DD CSV into a [[DdTable]].
   *
   * @param colnames user alias remap, canonical-name -> alternate-header
   *                 (ref: dd/loader.py:67-71: config maps target to alias)
   */
  def parse(
      spark: SparkSession,
      path: String,
      studyName: String,
      tableName: Option[String] = None,
      colnames: Map[String, String] = Map.empty,
      consentGroup: Option[String] = None,
      urlBase: String = Dd.SystemBase,
      subjectIdOverride: Option[String] = None): DdTable = {

    val name = tableName.getOrElse(
      path.split("/").last.split("\\.").head)

    val df = CsvSource.read(spark, Seq(path), headerMode = CsvSource.Raw)
    // alias remap: built-ins plus user-provided (alt -> canonical)
    val aliasMap = BaseColnames ++ colnames.map { case (canonical, alt) => alt -> canonical }
    val remapped = df.columns.map(c => aliasMap.getOrElse(c, c))

    val missing = RequiredColumns.filterNot(remapped.contains)
    require(missing.isEmpty,
      s"Required column, ${missing.mkString(", ")}, missing from file, $path. " +
        s"The columns found: ${remapped.mkString(",")}. If this should be mapped " +
        "to another column, please provide a valid mapping.")

    val renamed = df.toDF(remapped.toIndexedSeq: _*)
    val idx = renamed.columns.zipWithIndex.toMap
    def cell(row: org.apache.spark.sql.Row, col: String): String =
      idx.get(col).map(i => if (row.isNullAt(i)) "" else row.getString(i)).getOrElse("")

    // DD files are small metadata — collect is the catalog build, not a
    // data-path collect
    val variables = renamed.collect().toSeq.map { row =>
      DdVariable(
        studyName = studyName,
        tableName = name,
        varName = cell(row, "variable_name"),
        description = cell(row, "description"),
        dataType = DdType.standardize(cell(row, "data_type")),
        enumerations = DdVariable.parseEnums(cell(row, "enumerations")),
        consentGroup = consentGroup,
        urlBase = urlBase,
        required = Naming.evaluateBool(cell(row, "required")),
        keyComponent = Naming.evaluateBool(cell(row, "key_component")),
        notes = cell(row, "notes"))
    }
    DdTable(studyName, name, variables, consentGroup, urlBase, subjectIdOverride)
  }
}
