package graft.sink

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}

/**
 * The FHIR REST load sink shape (ref: wstlr/load.py:233-453): identifier
 * upsert decisions as a join, the per-partition HTTP loop as
 * `mapPartitions` with a pluggable poster — executors own their
 * connections (the shape a real `foreachPartition` HTTP sink needs; the
 * test suite injects a deterministic poster, since this container has no
 * FHIR server). The rows to load are hash-partitioned on the resource
 * key into `spark.default.parallelism` partitions, so every task slot
 * posts and the server sees at most that many concurrent connections
 * (the reference's thread pool, 10 by default). At-least-once delivery +
 * identifier-keyed upsert = effectively-once, the same contract the
 * reference's threaded loader provides (SURVEY.md §7 risks).
 */
object FhirLoadSink {

  private val IdentifierSchema =
    "struct<identifier:array<struct<system:string,value:string,use:string>>>"

  /**
   * get_identifier (ref: load.py:152-175): the first identifier whose
   * system starts with the study's identifier prefix, falling back to
   * the `use: official` entry. Expression-level — from_json with a
   * partial schema reads just the identifier array out of any resource.
   */
  def primaryIdentifier(resource: Column, identifierPrefix: String): Column = {
    val ids = from_json(resource, lit(IdentifierSchema)).getField("identifier")
    val prefixed = filter(ids, i => i.getField("system").startsWith(identifierPrefix))
    val official = filter(ids, i => i.getField("use") === "official")
    coalesce(try_element_at(prefixed, lit(1)), try_element_at(official, lit(1)))
  }

  /**
   * The get-or-create join (ref: load.py:152-175,359-377): probe the ID
   * cache by primary identifier; a hit becomes a PUT to the existing
   * server id (upsert), a miss a POST. Adds `_sys`/`_val` (the probe
   * key), `verb`, and `fhir_id` (null on miss).
   */
  def getOrCreate(resources: DataFrame, idCache: DataFrame, identifierPrefix: String): DataFrame = {
    val pid = primaryIdentifier(col("resource"), identifierPrefix)
    val probe = resources
      .withColumn("_sys", pid.getField("system"))
      .withColumn("_val", pid.getField("value"))
    probe
      .join(idCache.select(col("system").as("_sys"), col("value").as("_val"),
        col("fhir_id")), Seq("_sys", "_val"), "left")
      .withColumn("verb", when(col("fhir_id").isNotNull, "PUT").otherwise("POST"))
  }

  /** One load attempt: the poster gets (verb, resourceType, fhir_id-or-
   *  null, resource JSON) and returns the server-assigned id, or throws. */
  type Poster = (String, String, String, String) => String

  /**
   * Execute the load per partition (ref: load.py:233-246 queue +
   * thread pool -> here, a hash repartition on (module, resourceType, id)
   * into `spark.default.parallelism` partitions, one poster per partition:
   * concurrent server connections = that parallelism). An explicit
   * partition count is never coalesced by AQE, and a hash key keeps a
   * retried task's rows the same, so a retry re-sends only its own rows.
   * Per-partition poster construction is where a real HTTP client pool
   * would live. Returns the load results — (module, resourceType, id,
   * _sys, _val, fhir_id, ok, error) — which feed the study-ids writer,
   * the module summary, and [[ReferenceResolution.resolveLoop]]'s cache
   * growth.
   */
  def load(prepared: DataFrame, makePoster: () => Poster): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("module", StringType), StructField("resourceType", StringType),
      StructField("id", StringType),
      StructField("system", StringType), StructField("value", StringType),
      StructField("fhir_id", StringType, nullable = true),
      StructField("ok", BooleanType),
      StructField("error", StringType, nullable = true)))
    val cols = Seq("module", "resourceType", "id", "_sys", "_val", "verb", "fhir_id", "resource")
    prepared.select(cols.map(col): _*)
      .repartition(prepared.sparkSession.sparkContext.defaultParallelism,
        col("module"), col("resourceType"), col("id"))
      .mapPartitions { rows =>
        val poster = makePoster() // per-partition client (connection pool site)
        rows.map { r =>
          val (module, rt, id) = (r.getString(0), r.getString(1), r.getString(2))
          val (sys, v, verb) = (r.getString(3), r.getString(4), r.getString(5))
          val existing = if (r.isNullAt(6)) null else r.getString(6)
          try {
            val fhirId = poster(verb, rt, existing, r.getString(7))
            Row(module, rt, id, sys, v, fhirId, true, null)
          } catch {
            case e: Exception => Row(module, rt, id, sys, v, null, false, e.getMessage)
          }
        }
      }(Encoders.row(outSchema))
      // eager checkpoint: results feed several downstream consumers
      // (cache growth, summaries, study-ids) and a lineage replay would
      // re-POST every resource — materialize once. Task retry remains
      // at-least-once; the identifier upsert keeps that effectively-once.
      .localCheckpoint(true)
  }

  /** Successful loads as ID-cache rows (system, value, resource_type,
   *  fhir_id) — the cache-priming format (ref: wstlr/idcache.py:85-112). */
  def asCacheRows(results: DataFrame): DataFrame =
    results.filter(col("ok"))
      .select(col("system"), col("value"),
        col("resourceType").as("resource_type"), col("fhir_id"))

  /**
   * Dependency-tier ordering (ref: bundle.py:37-42 patient-first;
   * load.py:233-246 CodeSystem/ValueSet loaded synchronously first):
   * terminology, then patient, then everything else.
   */
  def loadTier(moduleCol: Column, typeCol: Column): Column =
    when(typeCol.isin("CodeSystem", "ValueSet", "ConceptMap"), 0)
      .when(moduleCol === "patient", 1)
      .otherwise(2)

  /** Per-type validation cutoff (ref: load.py:332-339 max_validations):
   *  keep the first N resources of each type. */
  def validationSample(resources: DataFrame, maxPerType: Int, orderCol: String = "id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("resourceType").orderBy(col(orderCol))
    resources.withColumn("_vrn", row_number().over(w))
      .filter(col("_vrn") <= maxPerType).drop("_vrn")
  }
}
