package graft.harmony

import graft.model.{CodeEntry, Naming}
import graft.operators.Restructure
import graft.sources.CsvSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/**
 * The code-harmonization layer: harmony CSVs -> ConceptMap structure +
 * lookup surfaces (ref: wstlr/conceptmap.py, docs/ref/harmony_files.md).
 *
 * Shapes and their scale posture:
 *  - a harmony file set is a *dimension* input, held on the driver as one
 *    [[Mappings]] value, as the reference holds it in a Python dict
 *    (conceptmap.py:380-550). [[read]] collects it once, in `_rid` order,
 *    and fails fast, naming the files, above [[MaxRows]] rows;
 *  - every derivation below is plain Scala over that value, so the
 *    metadata a pass builds from it (ConceptMap JSON and resource, the
 *    harmony ValueSets, the codings lookup, the display map) costs no
 *    Spark job;
 *  - the dedup polarity is exactly the reference's: FIRST-wins when
 *    deduping raw mapping rows (ref: conceptmap.py:419-428), LAST-wins
 *    when duplicate target codes overwrite inside ObjectifyHarmony
 *    (ref: conceptmap.py:87-107).
 *
 * "First-seen" order everywhere is row order: file-list order, then
 * in-file order.
 */
object Harmony {

  /** Required (lowercased) harmony columns (ref: docs/ref/harmony_files.md). */
  val RequiredColumns: Seq[String] =
    Seq("local code system", "local code", "code system", "code", "display", "text")

  /** The most rows one harmony file set may hold on the driver. */
  val MaxRows: Int = 1000000

  /** One mapping row. A cell is null where the CSV cell is empty or its
   *  file lacks the column, except `code system`, which reads '' (ref:
   *  conceptmap.py:407-408). */
  final case class Mapping(localCodeSystem: String, localCode: String, codeSystem: String,
      code: String, display: String, text: String, tableName: String, parentVarname: String)

  /** One harmony file set on the driver: its files, its columns and its
   *  rows in `_rid` order. */
  final case class Mappings(paths: Seq[String], columns: Seq[String], rows: IndexedSeq[Mapping]) {
    /** The two sets as parts of one mapping: this set's rows first. */
    def ++(that: Mappings): Mappings =
      Mappings(paths ++ that.paths, (columns ++ that.columns).distinct, rows ++ that.rows)
  }

  /** A ConceptMap target coding (code, display, equivalence). */
  final case class Target(code: String, display: String, equivalence: String)
  /** A ConceptMap element: one local code and its target codings. */
  final case class Element(code: String, display: String, target: Seq[Target])
  /** A ConceptMap group; `order` is its first row's position. */
  final case class Group(source: String, target: String, element: Seq[Element], order: Int)
  /** One include of a harmony ValueSet: a system and its (code, display)
   *  concepts; `order` is its first row's position. */
  final case class CodeGroup(system: String, codes: Seq[(String, String)], order: Int)

  private val Columns = Seq("local code system", "local code", "code system", "code",
    "display", "text", "table_name", "parent_varname")

  /**
   * Read one or more harmony CSVs as one logical mapping table
   * (ref: conceptmap.py:396-403 — lowercased headers, multi-file parts
   * of the same harmony file) and collect it to the driver.
   */
  def read(spark: SparkSession, paths: Seq[String]): Mappings = read(spark, paths, MaxRows)

  private[graft] def read(spark: SparkSession, paths: Seq[String], maxRows: Int): Mappings = {
    val df = CsvSource.read(spark, paths, headerMode = CsvSource.Lowercased, withRowId = true)
    val missing = RequiredColumns.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"Harmony file missing required column(s): ${missing.mkString(", ")}; " +
        s"found: ${df.columns.mkString(", ")}")
    collect(df, paths, maxRows)
  }

  /** Collect a mapping frame (the [[read]] columns plus `_rid`) in `_rid`
   *  order: one Spark job, at most `maxRows` rows. */
  private[graft] def collect(df: DataFrame, paths: Seq[String], maxRows: Int = MaxRows): Mappings = {
    val cells = Columns.map { c =>
      val cell = if (df.columns.contains(c)) col(c) else lit(null).cast(StringType)
      (if (c == "code system") coalesce(cell, lit("")) else cell).as(c)
    }
    val rows = df.orderBy(col(Restructure.RowId)).select(cells: _*).limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"Harmony file set holds more than $maxRows rows, the bound for a driver-side " +
        s"mapping: ${paths.mkString(", ")}")
    Mappings(paths, df.columns.toSeq.filterNot(_ == Restructure.RowId),
      rows.iterator.map(r => Mapping(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6), r.getString(7))).toIndexedSeq)
  }

  /** Spark's `trim(s) = ''`: only spaces trim; null is not blank. */
  private def blank(s: String): Boolean = s != null && s.forall(_ == ' ')

  /** Spark's `concat`: null when either side is. */
  private def cat(a: String, b: String): String = if (a == null || b == null) null else a + b

  private def curie(curies: Map[String, String], system: String, code: String): String =
    cat(curies.get(system).map(_ + ":").getOrElse(""), code)

  /**
   * First-wins dedup on (local code system, local code, code system, code)
   * (ref: conceptmap.py:419-428 `observed_mappings`).
   */
  def firstWins(m: Mappings): IndexedSeq[Mapping] =
    m.rows.distinctBy(r => (r.localCodeSystem, r.localCode, r.codeSystem, r.code))

  /**
   * Each deduped row with its position, in its own target group AND (when
   * its code system is non-blank) in the '' group that becomes the `self`
   * mapping (ref: conceptmap.py:426-428), target group first: the
   * reference appends to both per row, in read order. A row whose own
   * target group is blank is a self row.
   */
  private def selfExpand(m: Mappings): IndexedSeq[(Mapping, Int, Boolean)] =
    firstWins(m).zipWithIndex.flatMap { case (r, i) =>
      if (blank(r.codeSystem)) Seq((r, i, true)) else Seq((r, i, false), (r, i, true))
    }

  /**
   * ConceptMap groups: one per (source system, target system) with the
   * order-preserved elements (ref: conceptmap.py:438-486), in first-seen
   * order, a row's target group before its self group. Elements are
   * grouped by local code in first-seen order — the *intended* semantics
   * of the reference's adjacency-run grouping (conceptmap.py:455-469;
   * SURVEY.md §2.6) — with target codings in row order. The '' group
   * surfaces as target `self` whose codings echo the local code with the
   * human-readable text (conceptmap.py:444-483); curie prefixes apply to
   * real target systems only. An element's display is its first row's
   * text.
   */
  def conceptMapGroups(m: Mappings, curies: Map[String, String] = Map.empty): Seq[Group] = {
    val groups = mutable.LinkedHashMap.empty[(String, String),
      (Int, mutable.LinkedHashMap[String, (String, mutable.ArrayBuffer[Target])])]
    selfExpand(m).foreach { case (r, i, self) =>
      val target = if (self) "self" else r.codeSystem
      val (_, elems) = groups.getOrElseUpdate((r.localCodeSystem, target), (i, mutable.LinkedHashMap.empty))
      val (_, targets) = elems.getOrElseUpdate(r.localCode, (r.text, mutable.ArrayBuffer.empty))
      targets += (if (self) Target(r.localCode, r.text, "equivalent")
        else Target(curie(curies, r.codeSystem, r.code), r.display, "equivalent"))
    }
    groups.toSeq.map { case ((source, target), (order, elems)) =>
      Group(source, target,
        elems.toSeq.map { case (code, (display, ts)) => Element(code, display, ts.toSeq) }, order)
    }
  }

  /**
   * DD-derived identity groups appended to the ConceptMap so variable
   * categoricals harmonize through the same mechanism
   * (ref: conceptmap.py:488-536): source = varname (or table name),
   * target = the CodeSystem URL, each code mapping to itself.
   */
  def identityGroup(source: String, targetUrl: String, values: Seq[CodeEntry]): Group =
    Group(source, targetUrl,
      values.map(v => Element(v.code, v.description, Seq(Target(v.code, v.description, "equivalent")))),
      Int.MaxValue)

  /** The groups as a one-row local relation with one column, `group`:
   *  array<struct<source, target, element>> in the given order. */
  private[graft] def groupsFrame(spark: SparkSession, groups: Seq[Group]): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(groups.map(g =>
      Row(g.source, g.target, g.element.map(e =>
        Row(e.code, e.display, e.target.map(t => Row(t.code, t.display, t.equivalence)))))))),
      StructType.fromDDL("`group` array<struct<source:string,target:string,element:" +
        "array<struct<code:string,display:string,target:" +
        "array<struct<code:string,display:string,equivalence:string>>>>>>"))

  /**
   * Assemble the harmony ConceptMap JSON document
   * (ref: conceptmap.py:430-540: {id, resourceType, version, group}),
   * groups in the given order, then `extraGroups`. `to_json` encodes it
   * over a local relation, which Catalyst folds at optimization time:
   * the document costs no Spark job.
   */
  def conceptMapJson(
      spark: SparkSession,
      groups: Seq[Group],
      namePrefix: String,
      extraGroups: Seq[Group] = Nil): String =
    groupsFrame(spark, groups ++ extraGroups)
      .select(to_json(struct(lit(namePrefix).as("id"), lit("ConceptMap").as("resourceType"),
        lit("v1").as("version"), col("group"))))
      .collect().head.getString(0)

  /**
   * The `local code -> display` map used for `_display` derived columns
   * (ref: wstlr/extractor.py:274-282). LAST-wins on duplicates (dict
   * overwrite in the reference). Driver-side map for
   * [[graft.operators.DisplayColumns]].
   */
  def displayMap(m: Mappings): Map[String, String] =
    m.rows.map(r => r.localCode -> r.display).toMap

  /**
   * Harmonize-lookup surface (the $HarmonizeCode hook,
   * ref: wlib/core/_harmonize.wstl:7-9): local code system -> local code
   * -> the harmonized codings (code, display, system), where system is
   * the target system or `self`. Codings keep row order, a row's target
   * coding before its self coding (conceptmap.py:425-428: the
   * target-group append precedes the ''-group append). The
   * Self/NonSelf/prefix filters in [[graft.functions.WhistlerFunctions]]
   * then select within the codings.
   */
  def codingsLookup(m: Mappings, curies: Map[String, String] = Map.empty):
      Map[String, Map[String, Seq[(String, String, String)]]] = {
    val codings = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[(String, String, String)]]
    selfExpand(m).foreach { case (r, _, self) =>
      codings.getOrElseUpdate((r.localCodeSystem, r.localCode), mutable.ArrayBuffer.empty) +=
        (if (self) (r.localCode, r.text, "self")
          else (curie(curies, r.codeSystem, r.code), r.display, r.codeSystem))
    }
    codings.toSeq.groupMap(_._1._1) { case ((_, code), cs) => code -> cs.toSeq }
      .map { case (system, codes) => system -> codes.toMap }
  }

  /**
   * The harmony ConceptMap's source-side code groups
   * (ref: conceptmap.py:108-118 `vs_sources` + 145-168 emit): per
   * (local code system, table, parent varname), in first-seen order, the
   * first-seen distinct (code, display-text) pairs, with the group's
   * system a constructed DD CodeSystem URL (from its first row) and
   * curie prefixes applied per local system. Feeds the sources
   * HarmonyValueSet.
   */
  def sourceCodeGroups(m: Mappings, curies: Map[String, String] = Map.empty,
      consentGroup: Option[String] = None,
      urlBase: String = graft.model.Dd.SystemBase): Seq[CodeGroup] = {
    // ObjectifyHarmony-side columns (the ConceptMap path needs only the 6
    // required ones; the ValueSet path also needs the accounting columns)
    require(Seq("table_name", "parent_varname").forall(m.columns.contains),
      s"source code groups need table_name/parent_varname columns; found: ${m.columns.mkString(", ")}")
    val consentSeg = consentGroup.filter(_.trim.nonEmpty)
      .map(cg => "/" + Naming.fixFieldName(cg)).getOrElse("")
    // WhistlerFunctions.fixFieldName: Spark's trim strips only spaces
    def fix(s: String): String =
      if (s == null) null
      else s.toLowerCase.replaceAll("^ +| +$", "").replaceAll("[()]", "")
        .replace(' ', '_').replace('/', '_')
    val groups = mutable.LinkedHashMap.empty[(String, String, String),
      (Int, String, mutable.LinkedHashSet[(String, String)])]
    m.rows.zipWithIndex.foreach { case (r, i) =>
      if (r.tableName != null && !blank(r.tableName)) {
        val system = cat(cat(s"$urlBase/CodeSystem/data-dictionary$consentSeg/", fix(r.tableName)),
          cat("/", fix(r.localCodeSystem)))
        val (_, _, codes) = groups.getOrElseUpdate(
          (r.localCodeSystem, r.tableName, r.parentVarname), (i, system, mutable.LinkedHashSet.empty))
        codes += (curie(curies, r.localCodeSystem, r.localCode) -> r.text)
      }
    }
    groups.values.toSeq.map { case (order, system, codes) => CodeGroup(system, codes.toSeq, order) }
  }

  /**
   * The target-side code groups (ref: conceptmap.py:119-127 `targets`
   * last-wins + 169-181 emit): per target system, the distinct target
   * (curie-prefixed code, display) pairs, duplicates overwritten by the
   * last row. Feeds the targets HarmonyValueSet.
   */
  def targetCodeGroups(m: Mappings, curies: Map[String, String] = Map.empty): Seq[CodeGroup] = {
    require(m.columns.contains("table_name"),
      s"target code groups need a table_name column; found: ${m.columns.mkString(", ")}")
    // Python dict overwrite semantics (conceptmap.py:121-127
    // `targets[cs][code] = {...}`): the VALUE is the last row's, but the
    // insertion ORDER is the first occurrence's, for codes and systems
    val groups = mutable.LinkedHashMap.empty[String, (Int, mutable.LinkedHashMap[String, String])]
    m.rows.zipWithIndex.foreach { case (r, i) =>
      if (r.tableName != null && !blank(r.tableName) && !blank(r.codeSystem)) {
        val (_, codes) = groups.getOrElseUpdate(r.codeSystem, (i, mutable.LinkedHashMap.empty))
        codes.update(curie(curies, r.codeSystem, r.code), r.display)
      }
    }
    groups.toSeq.map { case (system, (order, codes)) => CodeGroup(system, codes.toSeq, order) }
  }
}
