package graft.sink

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row}

import scala.jdk.CollectionConverters._

/**
 * Identifier-based reference resolution
 * (ref: wstlr/load.py:53-83 `build_references`, deferral at load.py:264-286,
 * the ≤10-round retry loop at play.py:477-488).
 *
 * The reference walks each resource dict recursively, rewriting every
 * nested `identifier` object (except under `container`) to
 * `reference: "Type/id"` from the RAM ID cache, and defers the whole
 * resource on the first miss. The Spark shape (SURVEY.md §2.4):
 *
 *  1. extract — one row per embedded identifier reference, via a typed
 *     per-partition JSON walk (resources have per-type schemas; the walk
 *     is the one place expression-level JSON access can't reach);
 *  2. resolve — a join of the extracted (system, value) keys against the
 *     ID-cache DataFrame (shuffle on the identifier key — the cache is
 *     NOT collected or broadcast by assumption; at study scale Catalyst
 *     may still pick a broadcast join on size);
 *  3. rewrite — resources whose references all resolved get their
 *     identifier objects replaced in a second typed pass; any miss
 *     defers the resource;
 *  4. [[resolveLoop]] — the driver-side bounded fixpoint: newly loaded
 *     resources feed the cache, deferred resources retry, ≤ maxRounds.
 *     Each round materializes its per-resource join once (one local
 *     checkpoint); that round's resolved and deferred sets are narrow
 *     reads of it, so no round re-runs an earlier round's plan.
 *
 * ID cache contract: DataFrame(system, value, resource_type, fhir_id) —
 * the (system, unique-id) -> (resourceType, server-id) map of
 * wstlr/idcache.py:26-113.
 */
object ReferenceResolution {

  /** Key under which a walk must NOT treat `identifier` as a reference
   *  (ref: load.py:63-64 backbone containers). */
  private val SkipParent = "container"

  private def walkRefs(node: JsonNode, parentKey: String, out: (String, String) => Unit): Unit =
    node match {
      case obj: ObjectNode =>
        obj.properties().asScala.foreach { e =>
          val (key, value) = (e.getKey, e.getValue)
          if (key == "identifier" && parentKey != null && parentKey != SkipParent &&
              value.isObject && value.has("system") && value.has("value"))
            out(value.get("system").asText(), value.get("value").asText())
          else if (value.isObject || value.isArray) walkRefs(value, key, out)
        }
      case arr: ArrayNode =>
        arr.elements().asScala.foreach {
          case child if child.isObject || child.isArray => walkRefs(child, parentKey, out)
          case _ =>
        }
      case _ =>
    }

  /**
   * One row per embedded identifier reference:
   * (_rkey, ref_system, ref_value). `_rkey` is the resource's position in
   * `resources` — module + id + resourceType (assumed unique per the
   * duplicate-identifier inspection).
   */
  def extractRefs(resources: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("_rkey", StringType),
      StructField("ref_system", StringType),
      StructField("ref_value", StringType)))
    resources
      .select(concat_ws("|", col("module"), col("resourceType"), col("id")).as("_rkey"),
        col("resource"))
      .mapPartitions { rows =>
        val mapper = new ObjectMapper()
        rows.flatMap { r =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          walkRefs(mapper.readTree(r.getString(1)), null,
            (s, v) => buf += Row(r.getString(0), s, v))
          buf.iterator
        }
      }(Encoders.row(schema))
  }

  /**
   * Resolve references against the ID cache. Returns
   * (resolved, deferred): `resolved` carries the rewritten resource JSON
   * (identifier objects replaced by `reference: "Type/id"`); `deferred`
   * is the original rows whose references were not all found, with a
   * `_missing` count (the InvalidReference set, ref: load.py:264-265).
   * Eager: runs the extract walk and the joins once, into a local
   * checkpoint that both returned frames read.
   */
  def resolve(resources: DataFrame, idCache: DataFrame): (DataFrame, DataFrame) = {
    // the join below reads its input on both sides: a lazy checkpoint
    // lets the one materializing job compute the input once; its blocks
    // are released as soon as that job is done
    val input = resources.localCheckpoint(false)
    val keyed = input.withColumn("_rkey",
      concat_ws("|", col("module"), col("resourceType"), col("id")))

    // distinct: a resource referencing the same (system, value) twice
    // (subject AND performer, say) would otherwise put duplicate keys
    // into map_from_entries, which THROWS under the default
    // spark.sql.mapKeyDedupPolicy=EXCEPTION; _missing likewise counts
    // distinct unresolved identifiers, not occurrences
    val refs = extractRefs(input).distinct()
    val hits = refs.join(
        idCache.select(col("system").as("ref_system"), col("value").as("ref_value"),
          concat_ws("/", col("resource_type"), col("fhir_id")).as("_target")),
        Seq("ref_system", "ref_value"), "left")
    val perResource = hits
      .groupBy("_rkey")
      .agg(
        sum(when(col("_target").isNull, 1).otherwise(0)).as("_missing"),
        map_from_entries(collect_list(when(col("_target").isNotNull,
          struct(concat_ws("\u0000", col("ref_system"), col("ref_value")), col("_target")))))
          .as("_resolved"))

    // materialized once per round: `resolved.isEmpty`, the load's
    // getOrCreate and the next round's `pending.isEmpty` all read these
    // blocks instead of re-running the walk and both joins, and the next
    // round's plan starts here
    val joined = keyed.join(perResource, Seq("_rkey"), "left")
      .withColumn("_missing", coalesce(col("_missing"), lit(0L)))
      .localCheckpoint(true)
    graft.CacheScope.release(input)

    val deferred = joined.filter(col("_missing") > 0)
      .select(col("module"), col("resourceType"), col("id"), col("resource"), col("_missing"))

    val outSchema = StructType(Seq(
      StructField("module", StringType), StructField("resourceType", StringType),
      StructField("id", StringType), StructField("resource", StringType)))
    val resolved = joined.filter(col("_missing") === 0)
      .select(col("module"), col("resourceType"), col("id"), col("resource"), col("_resolved"))
      .mapPartitions { rows =>
        val mapper = new ObjectMapper()
        rows.map { r =>
          val lookup: Map[String, String] =
            if (r.isNullAt(4)) Map.empty
            else r.getMap[String, String](4).toMap
          val root = mapper.readTree(r.getString(3))
          rewrite(root, null, lookup)
          Row(r.getString(0), r.getString(1), r.getString(2), mapper.writeValueAsString(root))
        }
      }(Encoders.row(outSchema))
    (resolved, deferred)
  }

  private def rewrite(node: JsonNode, parentKey: String, lookup: Map[String, String]): Unit =
    node match {
      case obj: ObjectNode =>
        val keys = obj.properties().asScala.map(_.getKey).toList
        keys.foreach { key =>
          val value = obj.get(key)
          if (key == "identifier" && parentKey != null && parentKey != SkipParent &&
              value.isObject && value.has("system") && value.has("value")) {
            lookup.get(value.get("system").asText() + "\u0000" + value.get("value").asText())
              .foreach { target =>
                obj.remove(key)
                obj.put("reference", target)
              }
          } else if (value.isObject || value.isArray) rewrite(value, key, lookup)
        }
      case arr: ArrayNode =>
        arr.elements().asScala.foreach {
          case child if child.isObject || child.isArray => rewrite(child, parentKey, lookup)
          case _ =>
        }
      case _ =>
    }

  /**
   * The bounded driver-side fixpoint (ref: play.py:477-488: ≤10 rounds).
   * Each round resolves what it can, hands the resolved batch and the
   * current cache to `load` — which returns the newly assigned ids as
   * cache rows (system, value, resource_type, fhir_id) — and retries the
   * deferred remainder against the grown cache. Returns the resources
   * still unresolved after `maxRounds` (the invalid-references output,
   * ref: load.py:195-222) and the final cache.
   */
  def resolveLoop(
      resources: DataFrame,
      initialCache: DataFrame,
      load: (DataFrame, DataFrame) => DataFrame,
      maxRounds: Int = 10): (DataFrame, DataFrame) = {
    var pending = resources
    var cache = initialCache
    var round = 0
    // round 1 makes no emptiness probe: it would run the caller's whole
    // input lineage, which resolve's checkpoint then runs again. An empty
    // input resolves nothing, so it stops early below with an empty
    // leftover and the cache unchanged
    while (round < maxRounds && (round == 0 || !pending.isEmpty)) {
      val (resolved, deferred) = resolve(pending, cache)
      if (resolved.isEmpty) {
        // no progress: every remaining resource waits on an id that no
        // load can produce — stop early, report as invalid references
        return (deferred, cache)
      }
      // merge, not raw union: a warm-cache rerun re-loads resources whose
      // (system, value) keys are already cached, and duplicate keys crash
      // resolve()'s map_from_entries in the NEXT round
      // (mapKeyDedupPolicy=EXCEPTION); updates win
      cache = IdCacheStore.merge(cache, load(resolved, cache))
      pending = deferred.drop("_missing")
      round += 1
    }
    (pending, cache)
  }
}
