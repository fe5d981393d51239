package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract (SURVEY.md §7 + §2.11). Each [[registry]] row is one
 * verification query exercising an operator family from SURVEY.md §2,
 * declared with its DuckDB-equivalent SQL (same column names, doubles
 * rounded to 2 digits); `queries` and `oracleSql` are the driver's
 * name-keyed views of it. Neither side carries a final presentation sort:
 * the driver's compare sorts rows before hashing (verified by the
 * round-9 vq12 pilot), so a trailing total order is a pure range-exchange
 * tax — dropped fleet-wide in round 10 from BOTH sides (dropping it from
 * only one side would bias the bench ratio). Window/sort semantics that
 * determine row MEMBERSHIP (top-k ranks, run-length ids, session
 * numbering) are untouched.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Flagship: whistler-style extraction pipeline on sf0.001 — normalize,
   *  embed-join orders into customer, nation display column via a
   *  broadcast dimension join (never a driver collect), group-nest by
   *  market segment. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val customer = NormalizeColumns(t(spark, dir, "customer"))
    val orders = NormalizeColumns(t(spark, dir, "orders"))
      .withColumnRenamed("o_custkey", "c_custkey")
    val embedded = EmbedJoin(customer, orders, "orders", "c_custkey")
    val withDisplay = DisplayJoin(embedded, t(spark, dir, "nation"),
      "c_nationkey", "n_nationkey", "n_name")
    GroupByNest(withDisplay.drop("orders"), "c_mktsegment", ordered = false)
  }

  // ---------------------------------------------------------------------
  // Verification queries (SURVEY.md §2.11). DataFrame-first; spark.sql only
  // where the SQL form is the idiomatic Spark API (grouping sets).
  // Each row's DuckDB oracle has the same column names as the Spark
  // result and no final ORDER BY (see the object scaladoc). Dialect notes:
  // DuckDB regexp_replace needs the 'g' flag for global replace; SUM over
  // INTEGER returns HUGEINT, so run-length sums are cast to BIGINT to
  // match Spark's LongType.
  // ---------------------------------------------------------------------

  private lazy val vqRows: Seq[Query] = Seq(
    // VQ-1: scan + projection + predicate (pushed to parquet)
    Query("vq1_scan_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_returnflag
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin),

    // VQ-2: module-style counting + forced-first ordering (ModuleSummary)
    Query("vq2_count_order", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .withColumn("grp", when(col("o_orderstatus") === "O", 0).otherwise(1))
        .select("grp", "o_orderstatus", "n")
    }, oracle =
      """SELECT CASE WHEN o_orderstatus = 'O' THEN 0 ELSE 1 END AS grp,
        |       o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // VQ-3: distinct / dedup / sorted-set
    Query("vq3_distinct", (s, dir) => {
      t(s, dir, "customer")
        .select("c_mktsegment", "c_nationkey").distinct()
    }, oracle =
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer""".stripMargin),

    // VQ-4: per-group count/min/max/sum (GroupBy key profiling)
    Query("vq4_groupby_stats", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n"),
          min("o_orderkey").as("first_ord"),
          max("o_orderkey").as("last_ord"),
          round(sum("o_totalprice"), 2).as("total"))
    }, oracle =
      """SELECT o_custkey, COUNT(*) AS n, MIN(o_orderkey) AS first_ord,
        |       MAX(o_orderkey) AS last_ord, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_custkey""".stripMargin),

    // VQ-4b: grouping sets (partial+final agg)
    Query("vq4b_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
    }, oracle =
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // VQ-4c: rollup over a two-hop join (shuffle agg under join). SQL form
    // (like vq4b): DataFrame rollup + orderBy on grouping columns trips
    // Spark's ambiguous-self-join resolution; ROLLUP in SQL resolves
    // cleanly and produces the identical plan. The nation dim is broadcast
    // by AQE (25 rows, far under autoBroadcastJoinThreshold).
    Query("vq4c_rollup_join", (s, dir) => {
      Seq("orders", "customer", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT n_name, o_orderstatus, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_name, o_orderstatus)""")
    }, oracle =
      """SELECT n_name, o_orderstatus, COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin),

    // VQ-5: scalar predicates — regex cleanup, sentinel nulling, try-cast
    Query("vq5_scalar_predicates", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_size").between(10, 30))
        .select(
          col("p_partkey"),
          lower(trim(regexp_replace(col("p_name"), " +", "_"))).as("fixed_name"),
          when(col("p_brand").isin("Brand#1", "NA", ""), lit(null))
            .otherwise(col("p_brand")).as("brand"),
          when(expr("try_cast(p_type AS DOUBLE)").isNull, 0).otherwise(1).as("numericish"))
    }, oracle =
      """SELECT p_partkey,
        |       LOWER(TRIM(REGEXP_REPLACE(p_name, ' +', '_', 'g'))) AS fixed_name,
        |       CASE WHEN p_brand IN ('Brand#1', 'NA', '') THEN NULL ELSE p_brand END AS brand,
        |       CASE WHEN TRY_CAST(p_type AS DOUBLE) IS NULL THEN 0 ELSE 1 END AS numericish
        |FROM part WHERE p_size BETWEEN 10 AND 30""".stripMargin),

    // VQ-6: embed join shape — pre-aggregate child, left join, zero-fill.
    // Aggregate-before-join keeps the shuffle on the (smaller) aggregated
    // side at scale rather than joining raw fact rows to every parent.
    Query("vq6_embed_join_agg", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("_n"), sum("o_totalprice").as("_spend"))
      t(s, dir, "customer")
        .join(perCust, Seq("c_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("_n"), lit(0L)).as("n_orders"),
          round(coalesce(col("_spend"), lit(0.0)), 2).as("spend"))
    }, oracle =
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |       ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin),

    // VQ-6b: anti join (deferred-load split)
    Query("vq6b_anti_join", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey")
    }, oracle =
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin),

    // VQ-7: harmonize lookup (small-dim broadcast translation join)
    Query("vq7_harmonize_dims", (s, dir) => {
      val supplier = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      supplier
        .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .select(
          col("s_suppkey"), col("s_name"),
          col("n_name").as("nation_display"),
          col("r_name").as("region_display"))
    }, oracle =
      """SELECT s_suppkey, s_name, n_name AS nation_display, r_name AS region_display
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // VQ-8: reference resolution (multi-hop identifier join, miss -> null)
    Query("vq8_reference_resolution", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
      val orders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val supplier = t(s, dir, "supplier")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(supplier), li("l_suppkey") === supplier("s_suppkey"), "left")
        .select(col("o_orderkey"), col("l_linenumber"), col("s_name"))
    }, oracle =
      """SELECT o_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F' AND l_linenumber = 1""".stripMargin),

    // VQ-9: system-prefix filters (Self/NonSelf/prefix) flattened
    Query("vq9_prefix_filter", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").like("STANDARD%") && !col("p_type").like("%unharmonized%"))
        .select("p_partkey", "p_type")
    }, oracle =
      """SELECT p_partkey, p_type FROM part
        |WHERE p_type LIKE 'STANDARD%' AND p_type NOT LIKE '%unharmonized%'""".stripMargin),

    // VQ-9b: run-length adjacent-code grouping (BuildConceptMap runs)
    Query("vq9b_runlength", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_returnflag")
      RunLengthGroup(li, "l_returnflag", Seq("l_orderkey", "l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |       CAST(SUM(chg) OVER (ORDER BY l_orderkey, l_linenumber
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |FROM (SELECT l_orderkey, l_linenumber, l_returnflag,
        |             CASE WHEN l_returnflag =
        |               LAG(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber)
        |             THEN 0 ELSE 1 END AS chg
        |      FROM lineitem WHERE l_orderkey <= 100) t""".stripMargin),

    // VQ-10: last-wins / per-key top-1 (redundant-mapping, max_validations)
    Query("vq10_topk_per_key", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1""".stripMargin),

    // VQ-11: analytic window with frame (running sum)
    Query("vq11_window_running", (s, dir) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 50)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(sum("l_extendedprice").over(w), 2).as("running"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |       ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM lineitem WHERE l_orderkey <= 50""".stripMargin),

    // VQ-12: union (multi-file table). Was the round-9 sort-drop pilot:
    // shipped without a final orderBy, CORRECTNESS_r09 stayed green, so
    // the drop went fleet-wide in round 10 (class scaladoc).
    Query("vq12_union", (s, dir) => {
      t(s, dir, "nation").select(col("n_name").as("x"))
        .unionByName(t(s, dir, "region").select(col("r_name").as("x")))
    }, oracle =
      """SELECT x FROM (SELECT n_name AS x FROM nation UNION ALL SELECT r_name FROM region) t""".stripMargin),

    // VQ-12b: except (module set-minus)
    Query("vq12b_except", (s, dir) => {
      t(s, dir, "nation").select(col("n_regionkey").as("k"))
        .except(t(s, dir, "region").select(col("r_regionkey").as("k")))
    }, oracle =
      """SELECT n_regionkey AS k FROM nation EXCEPT SELECT r_regionkey FROM region""".stripMargin),

    // VQ-13: date/timestamp handling over events
    Query("vq13_events_date", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          // decimal-exact sum: order-independent across engines/partitions
          round(sum(col("value").cast("decimal(20,6)")).cast("double"), 2).as("total"))
    }, oracle =
      """SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin),

    // VQ-14: duplicate-identifier detection (inspector.py:57-97) — the
    // system:value composite repeated within a resource type
    Query("vq14_dup_identifiers", (s, dir) => {
      // component-keyed form: system/value are separate fields in the
      // reference too — the shuffle carries the raw ints, the composite
      // renders only for surviving duplicates. Single-shuffle agg shape
      // confirmed optimal (a two-phase hash pre-pass measured 1.7x
      // slower); the final sort went with the round-10 fleet-wide drop
      // (0.95 s sorted vs 0.73 s unsorted quiet at sf0.1).
      graft.inspect.DuplicateIdentifiers(
        t(s, dir, "lineitem"), "l_returnflag",
        Seq(col("l_partkey"), col("l_suppkey")), sep = ":")
    }, oracle =
      """SELECT l_returnflag AS resource_type,
        |       l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR AS idval,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin),

    // VQ-15: ModuleSummary (module_summary.py:9-41) — counts + share of
    // each resource type's total
    Query("vq15_module_summary", (s, dir) => {
      graft.inspect.ModuleSummary(
        t(s, dir, "orders"), "o_orderpriority", "o_orderstatus", ordered = false)
    }, oracle =
      """WITH c AS (SELECT o_orderpriority AS module, o_orderstatus AS resource_type,
        |                  COUNT(*) AS n
        |           FROM orders GROUP BY 1, 2)
        |SELECT module, resource_type, n,
        |       ROUND(100.0 * n / SUM(n) OVER (PARTITION BY resource_type), 2) AS pct
        |FROM c""".stripMargin),

    // VQ-16: study-ids aggregation (studyids.py:103) — dedup + sort per
    // type, string-joined for a cross-engine-stable shape
    Query("vq16_sorted_idsets", (s, dir) => {
      graft.sink.StudyIdsSink.sortedIdSets(
        t(s, dir, "customer"), "c_mktsegment", "c_nationkey", ordered = false)
        .select(col("resource_type"), array_join(col("ids"), ",").as("ids"))
    }, oracle =
      """SELECT c_mktsegment AS resource_type,
        |       array_to_string(list_sort(list_distinct(list(c_nationkey::VARCHAR))), ',') AS ids
        |FROM customer GROUP BY c_mktsegment""".stripMargin),

    // VQ-17: bundle chunk assignment (bundle.py:84,131-134) — new chunk
    // per module per maxRecords, verified via per-chunk counts
    Query("vq17_bundle_chunks", (s, dir) => {
      graft.sink.BundleSink.assignChunks(
        t(s, dir, "orders"), "o_orderstatus", "o_orderkey", maxRecords = 1000)
        .groupBy(col("o_orderstatus").as("module"), col("_chunk").as("chunk"))
        .agg(count(lit(1)).as("n"))
    }, oracle =
      """WITH r AS (SELECT o_orderstatus AS module,
        |                  ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
        |           FROM orders)
        |SELECT module, CAST((rn - 1) // 1000 AS INT) AS chunk, COUNT(*) AS n
        |FROM r GROUP BY 1, 2""".stripMargin),

    // VQ-18: builddd profiling (dd_from_fhir.py:41-125) — per-variable
    // try-float min/max, distinct count, <50-distinct value-list gate
    Query("vq18_dd_profile", (s, dir) => {
      graft.inspect.DdProfiler.profile(
        t(s, dir, "orders"), Seq("o_orderstatus", "o_orderpriority", "o_orderkey"))
    }, oracle =
      """WITH m AS (
        |  SELECT 'o_orderstatus' AS varname, o_orderstatus::VARCHAR AS value FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderkey', o_orderkey::VARCHAR FROM orders)
        |SELECT varname,
        |       COALESCE(ROUND(MIN(TRY_CAST(value AS DOUBLE)), 2)::VARCHAR, '') AS vmin,
        |       COALESCE(ROUND(MAX(TRY_CAST(value AS DOUBLE)), 2)::VARCHAR, '') AS vmax,
        |       COUNT(DISTINCT value) AS n_distinct,
        |       CASE WHEN COUNT(DISTINCT value) < 50
        |            THEN array_to_string(list_sort(list_distinct(list(value))), ';') END AS values_list
        |FROM m GROUP BY varname""".stripMargin),

    // VQ-19: exclusion wildcard filter (igload/__init__.py:21-26) — drop
    // rows whose name contains any exclusion substring
    Query("vq19_exclusion_filter", (s, dir) => {
      val exclusions = array(lit("chocolate"), lit("burnished"))
      t(s, dir, "part")
        .filter(!exists(exclusions, s => contains(col("p_name"), s)))
        .filter(col("p_partkey") <= 500)
        .select("p_partkey", "p_name")
    }, oracle =
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT (p_name LIKE '%chocolate%' OR p_name LIKE '%burnished%')
        |  AND p_partkey <= 500""".stripMargin),

    // VQ-20: salted skew join (operators/SkewJoin.scala) — event_type has
    // 5 values at ~20% each, the classic hot-key shape; the salted join
    // must be result-identical to the plain join (vq20b times that twin).
    // Both variants pin the SHUFFLE join strategy: a 5-row dim would
    // otherwise broadcast under AQE and neither plan would exercise the
    // skewed exchange that salting exists to fix.
    Query("vq20_salted_join", (s, dir) => {
      val events = t(s, dir, "events")
      // decimal-exact numerator: a double sum over ~N/5 rows per key is
      // order-dependent, and at scale the rounding boundary WILL be hit
      val dim = events.groupBy("event_type")
        .agg(round(sum(col("value").cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 3).as("weight"))
      SkewJoin.saltedJoin(events.select("event_type", "value"),
          dim.hint("shuffle_hash"), Seq("event_type"), saltBuckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // per-term double product (IEEE-identical across engines) cast
          // to decimal: the SUM is then exact and order-independent
          round(sum((col("value") * col("weight")).cast("decimal(20,6)"))
            .cast("double"), 2).as("weighted"))
    }, oracle =
      """WITH dim AS (SELECT event_type,
        |             ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 3) AS weight
        |             FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(e.value * d.weight AS DECIMAL(20,6))) AS DOUBLE), 2) AS weighted
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type""".stripMargin),

    // VQ-20b: the plain shuffle-join twin of vq20 (same oracle) so BENCH
    // times salted vs unsalted side by side: here the 5 keys land on at
    // most 5 shuffle tasks; vq20 spreads them over 5 * saltBuckets.
    Query("vq20b_plain_skew_join", (s, dir) => {
      val events = t(s, dir, "events")
      // decimal-exact numerator: a double sum over ~N/5 rows per key is
      // order-dependent, and at scale the rounding boundary WILL be hit
      val dim = events.groupBy("event_type")
        .agg(round(sum(col("value").cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 3).as("weight"))
      events.select("event_type", "value")
        .join(dim.hint("shuffle_hash"), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // per-term double product (IEEE-identical across engines) cast
          // to decimal: the SUM is then exact and order-independent
          round(sum((col("value") * col("weight")).cast("decimal(20,6)"))
            .cast("double"), 2).as("weighted"))
    }, oracle =
      """WITH dim AS (SELECT event_type,
        |             ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 3) AS weight
        |             FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(e.value * d.weight AS DECIMAL(20,6))) AS DOUBLE), 2) AS weighted
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type""".stripMargin),

    // VQ-21: bundle entry verb choice (bundle.py:135-147) — PUT keeps
    // resources carrying an id, everything else POSTs to the type; the
    // full entry JSON (fullUrl/verb/destination assembly + per-module
    // fullUrl dedup) is the compared value. Resource content is a
    // function of the dedup key so the first-wins row is deterministic.
    Query("vq21_bundle_verb", (s, dir) => {
      val res = t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(
          col("o_orderstatus").as("module"),
          col("o_orderpriority").as("resourceType"),
          when(col("o_orderkey") % 3 =!= 0,
            col("o_orderkey").cast("string")).as("id"),
          concat(lit("""{"t":""""), col("o_orderpriority"), lit("\"}"))
            .as("resource"))
      graft.sink.BundleSink.entries(res, "http://fhir.example/base")
        .select(col("module"), col("resourceType").as("resource_type"),
          col("fullUrl").as("full_url"), col("entry"))
    }, oracle =
      """WITH res AS (
        |  SELECT o_orderstatus AS module, o_orderpriority AS rt,
        |         CASE WHEN o_orderkey % 3 <> 0
        |              THEN CAST(o_orderkey AS VARCHAR) END AS id
        |  FROM orders WHERE o_orderkey <= 2000),
        |uniq AS (
        |  SELECT module, rt, id,
        |         concat_ws('/', 'http://fhir.example/base', rt, id) AS full_url,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY module,
        |                        concat_ws('/', 'http://fhir.example/base', rt, id)
        |           ORDER BY rt) AS rn
        |  FROM res)
        |SELECT module, rt AS resource_type, full_url,
        |       '{"fullUrl":"' || full_url || '","resource":{"t":"' || rt ||
        |       '"},"request":{"method":"' ||
        |       CASE WHEN id IS NOT NULL THEN 'PUT' ELSE 'POST' END ||
        |       '","url":"' ||
        |       CASE WHEN id IS NOT NULL THEN rt || '/' || id ELSE rt END ||
        |       '"}}' AS entry
        |FROM uniq WHERE rn = 1""".stripMargin),

    // VQ-22: sessionization over events — gap > 30 min starts a new
    // session. Both windows partition by user_id (contrast RunLengthGroup,
    // whose global order is documented small-input-only): at 100 TB each
    // user's history is one partition's work, no total order anywhere.
    Query("vq22_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val prevTs = lag(col("ts"), 1).over(w)
      val newSess = when(prevTs.isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(prevTs) > 1800, 1).otherwise(0)
      t(s, dir, "events")
        .withColumn("_new", newSess)
        .withColumn("session_id",
          sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_sec"))
    }, oracle =
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR date_diff('second',
        |                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    // VQ-23: as-of join — each click matched to the user's latest
    // purchase at or before it (operators/AsOfJoin: union+carry-forward,
    // one shuffle, no range join). Seconds truncation makes the ts
    // values byte-identical across engines; the purchase side is
    // aggregated to uniqueness per (user, ts) so "the" match is
    // deterministic in both engines.
    Query("vq23_asof_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 2).as("ref_value"))
        .select(col("user_id"), col("ts"), col("ts").as("ref_ts"), col("ref_value"))
      // no-match sentinels: a null double round-trips as NaN through the
      // pandas bridge and NaN defeats row compares (same trade as pq21's
      // dup_of = -1)
      AsOfJoin(clicks, purchases, Seq("user_id"), "ts", Seq("ref_ts", "ref_value"))
        .select(col("user_id"), col("event_id"), col("ts"),
          coalesce(col("ref_ts"), to_timestamp(lit("1970-01-01"))).as("ref_ts"),
          coalesce(col("ref_value"), lit(-1.0)).as("ref_value"))
    }, oracle =
      """WITH ev AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |                   event_type, value FROM events),
        |c AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, ts AS ref_ts, ROUND(MAX(value), 2) AS ref_value
        |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.ts,
        |       COALESCE(p.ref_ts, TIMESTAMP '1970-01-01') AS ref_ts,
        |       COALESCE(p.ref_value, -1.0) AS ref_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),

    // VQ-25: forward as-of with tolerance — each click matched to the
    // user's NEXT purchase within 10 minutes (the merge_asof
    // direction/tolerance knobs, cross-engine: DuckDB ASOF with the
    // inequality flipped + a staleness CASE).
    Query("vq25_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 2).as("ref_value"))
        .select(col("user_id"), col("ts"), col("ts").as("ref_ts"), col("ref_value"))
      AsOfJoin(clicks, purchases, Seq("user_id"), "ts", Seq("ref_ts", "ref_value"),
          direction = "forward", tolerance = Some(600.0))
        .select(col("user_id"), col("event_id"), col("ts"),
          coalesce(col("ref_ts"), to_timestamp(lit("1970-01-01"))).as("ref_ts"),
          coalesce(col("ref_value"), lit(-1.0)).as("ref_value"))
    }, oracle =
      """WITH ev AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |                   event_type, value FROM events),
        |c AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, ts AS ref_ts, ROUND(MAX(value), 2) AS ref_value
        |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.ts,
        |       COALESCE(CASE WHEN date_diff('second', c.ts, p.ref_ts) <= 600
        |                     THEN p.ref_ts END, TIMESTAMP '1970-01-01') AS ref_ts,
        |       COALESCE(CASE WHEN date_diff('second', c.ts, p.ref_ts) <= 600
        |                     THEN p.ref_value END, -1.0) AS ref_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin),

    // VQ-24: range (interval) join — clicks inside a ±5-minute window
    // around each purchase (operators/RangeJoin: time-bucketed equi-join,
    // never a per-key cross product). Purchases are aggregated to
    // uniqueness per (user, ts) first so the interval side is
    // deterministic; inner join, so no null sentinels needed.
    Query("vq24_range_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val windows = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("_pts"))
        .agg(round(max("value"), 2).as("purchase_value"))
        .select(col("user_id"),
          (col("_pts") - expr("INTERVAL 5 MINUTES")).as("win_start"),
          (col("_pts") + expr("INTERVAL 5 MINUTES")).as("win_end"),
          col("purchase_value"))
      RangeJoin(clicks, windows, Seq("user_id"), "ts",
        "win_start", "win_end", bucketSeconds = 600)
    }, oracle =
      """WITH ev AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |                   event_type, value FROM events),
        |c AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click'),
        |w AS (SELECT user_id, ts - INTERVAL 5 MINUTE AS win_start,
        |             ts + INTERVAL 5 MINUTE AS win_end,
        |             ROUND(MAX(value), 2) AS purchase_value
        |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.ts, w.win_start, w.win_end, w.purchase_value
        |FROM c JOIN w ON c.user_id = w.user_id
        |               AND c.ts BETWEEN w.win_start AND w.win_end""".stripMargin),

    // VQ-21b: harmony target-group last-wins polarity
    // (conceptmap.py:119-127 `targets`): duplicate (system, code) pairs
    // keep the LAST row's display (firstWins dedup, by contrast, keeps
    // the first) and groups list codes in surviving-row order.
    Query("vq21b_harmony_lastwins", (s, dir) => {
      val m = t(s, dir, "customer").select(
        lit("t").as("table_name"),
        col("c_mktsegment").as("code system"),
        col("c_nationkey").cast("string").as("code"),
        concat(lit("d"), col("c_custkey")).as("display"),
        col("c_custkey").as(Restructure.RowId))
      graft.harmony.Harmony.targetCodeGroups(m)
        .select(col("system"), posexplode(col("codes")).as(Seq("pos", "c")))
        .select(col("system"), col("pos"),
          col("c.code").as("code"), col("c.display").as("display"))
    }, oracle =
      """WITH m AS (SELECT c_mktsegment AS system,
        |                  CAST(c_nationkey AS VARCHAR) AS code,
        |                  'd' || CAST(c_custkey AS VARCHAR) AS display,
        |                  c_custkey AS rid
        |           FROM customer),
        |kept AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY system, code
        |                                      ORDER BY rid DESC) AS dup,
        |                  MIN(rid) OVER (PARTITION BY system, code) AS ord
        |         FROM m)
        |SELECT system,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY system ORDER BY ord) - 1
        |            AS INT) AS pos,
        |       code, display
        |FROM kept WHERE dup = 1""".stripMargin),

    // VQ-26: nearest as-of — each click matched to the purchase closest
    // in time either direction, ties to backward (the third merge_asof
    // direction knob). The oracle composes DuckDB's two ASOF directions
    // and picks the closer candidate with the same tie rule.
    Query("vq26_asof_nearest", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 2).as("ref_value"))
        .select(col("user_id"), col("ts"), col("ts").as("ref_ts"), col("ref_value"))
      AsOfJoin(clicks, purchases, Seq("user_id"), "ts", Seq("ref_ts", "ref_value"),
          direction = "nearest")
        .select(col("user_id"), col("event_id"), col("ts"),
          coalesce(col("ref_ts"), to_timestamp(lit("1970-01-01"))).as("ref_ts"),
          coalesce(col("ref_value"), lit(-1.0)).as("ref_value"))
    }, oracle =
      """WITH ev AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |                   event_type, value FROM events),
        |c AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, ts AS ref_ts, ROUND(MAX(value), 2) AS ref_value
        |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT c.user_id, c.event_id, c.ts, p.ref_ts, p.ref_value
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (SELECT c.event_id, p.ref_ts AS fref_ts, p.ref_value AS fref_value
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT b.user_id, b.event_id, b.ts,
        |       COALESCE(CASE WHEN b.ref_ts IS NOT NULL AND (f.fref_ts IS NULL OR
        |                          date_diff('second', b.ref_ts, b.ts) <=
        |                          date_diff('second', b.ts, f.fref_ts))
        |                     THEN b.ref_ts ELSE f.fref_ts END,
        |                TIMESTAMP '1970-01-01') AS ref_ts,
        |       COALESCE(CASE WHEN b.ref_ts IS NOT NULL AND (f.fref_ts IS NULL OR
        |                          date_diff('second', b.ref_ts, b.ts) <=
        |                          date_diff('second', b.ts, f.fref_ts))
        |                     THEN b.ref_value ELSE f.fref_value END,
        |                -1.0) AS ref_value
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin),

    // VQ-26b/26c: the HOT-KEY as-of pair — every click keyed to ONE
    // group (the 100%-skew straggler shape), matched to the latest
    // purchase anywhere. 26b runs the plain single-window carry (one
    // task does all the work); 26c runs the time-bucketed carry
    // (AsOfJoin.bucketed, 1-hour buckets over the 30-day span = ~720
    // parallel slices). Same oracle — BENCH times the pair side by
    // side, so the hot-key defense carries a number like vq20/vq20b.
    // Expected crossover: at sf0.1 the hot key is ~20k rows, so the
    // plain single window wins and bucketed pays its two extra
    // buckets-sized shuffles; the pair prices that insurance. The
    // vq26d/26e amplified pair below demonstrates the other side of
    // the crossover: at ~5M rows on the key the plain variant's one
    // serial window task loses to the bucketed carry (measured ~3.9 s
    // vs ~3.1 s at sf0.1 local[32]).
    Query("vq26b_asof_hot_plain", (s, dir) => asofHot(s, dir, bucketed = false),
      oracle = AsofHotOracle),
    Query("vq26c_asof_hot_bucketed", (s, dir) => asofHot(s, dir, bucketed = true),
      oracle = AsofHotOracle),

    // VQ-26d/26e: the same hot-key as-of pair at STRAGGLER scale — the
    // click side amplified 256x (each click replicated with distinct
    // event ids, same ts), so the one key carries ~5M rows at sf0.1.
    // Here the plain variant's single window task is the serial
    // bottleneck and the bucketed carry's constant overhead (two
    // buckets-sized shuffles + the union persist) buys ~bucket-count-way
    // parallelism: the A/B pair demonstrates the CROSSOVER the
    // vq26b/26c floor-scale pair prices from the other side.
    Query("vq26d_asof_hot_plain_amp", (s, dir) =>
      asofHot(s, dir, bucketed = false, amplify = 256), oracle = AsofHotAmpOracle),
    Query("vq26e_asof_hot_bucketed_amp", (s, dir) =>
      asofHot(s, dir, bucketed = true, amplify = 256), oracle = AsofHotAmpOracle),

    // VQ-27/27b: the 50%-hot-key join pair — half of all events
    // collapse onto one synthetic key ('hot'), the rest keep their
    // event_type. 27 is the plain shuffle join (the hot key lands on
    // one task); 27b salts it across 8 buckets
    // (operators/SkewJoin.scala). Same oracle; BENCH times the pair so
    // the salting defense carries a number at the skew ratio AQE's
    // splitter cannot fix when the dim aggregate sits between sort and
    // shuffle (see PlanAssertionsSpec's AQE note).
    Query("vq27_hot_join_plain", (s, dir) => hotJoin(s, dir, salted = false),
      oracle = HotJoinOracle),
    Query("vq27b_hot_join_salted", (s, dir) => hotJoin(s, dir, salted = true),
      oracle = HotJoinOracle)
  )

  /** Every verification row, vq then pq, each name declared once. */
  lazy val registry: Seq[Query] = Query.registry(vqRows, PipelineQueries.pqRows)

  /** Driver-contract views of [[registry]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.build).toMap
  def oracleSql: Map[String, String] = registry.map(r => r.name -> r.oracle).toMap

  /** The vq26b/vq26c (amplify=1) and vq26d/vq26e (amplify=256) hot-key
    * as-of body — identical semantics, carry strategy switched by
    * `bucketed`, probe-side volume by `amplify` (each click replicated
    * with distinct event ids at its own ts — same-timestamp copies
    * carry the same match, so the answer is the 1x answer replicated,
    * while the window sort carries amplify-times the rows). */
  private def asofHot(s: SparkSession, dir: String, bucketed: Boolean,
      amplify: Int = 1): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"),
      date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
    val clicks0 = ev.filter(col("event_type") === "click")
    val clicks =
      if (amplify == 1) clicks0.select(lit(0).as("g"), col("event_id"), col("ts"))
      else clicks0
        .select(explode(sequence(lit(0), lit(amplify - 1))).as("_rep"),
          col("event_id"), col("ts"))
        .select(lit(0).as("g"),
          (col("event_id") * amplify + col("_rep")).as("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("ts").agg(round(max("value"), 2).as("ref_value"))
      .select(lit(0).as("g"), col("ts"), col("ts").as("ref_ts"), col("ref_value"))
    val joined =
      if (bucketed) AsOfJoin.bucketed(clicks, purchases, Seq("g"), "ts",
        Seq("ref_ts", "ref_value"), bucketSeconds = 3600L,
        // both inputs are narrow projections of one pruned parquet scan:
        // re-reading them per branch beats materializing a rows-sized
        // cache (the amplified fixture is exactly the case the
        // cacheUnion scaladoc describes)
        cacheUnion = false)
      else AsOfJoin(clicks, purchases, Seq("g"), "ts", Seq("ref_ts", "ref_value"))
    joined.select(col("event_id"), col("ts"),
      coalesce(col("ref_ts"), to_timestamp(lit("1970-01-01"))).as("ref_ts"),
      coalesce(col("ref_value"), lit(-1.0)).as("ref_value"))
  }

  /** The vq27/vq27b 50%-hot-key join body — identical semantics, salting
    * switched by `salted`. Decimal-exact aggregates as in vq20. */
  private def hotJoin(s: SparkSession, dir: String, salted: Boolean): DataFrame = {
    val events = t(s, dir, "events").select(
      when(col("user_id") % 2 === 0, lit("hot"))
        .otherwise(col("event_type")).as("k"),
      col("value"))
    val dim = events.groupBy("k")
      .agg(round(sum(col("value").cast("decimal(20,6)")).cast("double") /
        count(lit(1)), 3).as("weight"))
    val joined =
      if (salted) SkewJoin.saltedJoin(events, dim.hint("shuffle_hash"),
        Seq("k"), saltBuckets = 8)
      else events.join(dim.hint("shuffle_hash"), Seq("k"))
    joined.groupBy("k")
      .agg(count(lit(1)).as("n"),
        round(sum((col("value") * col("weight")).cast("decimal(20,6)"))
          .cast("double"), 2).as("weighted"))
  }

  /** Shared oracle for the vq26b/vq26c hot-key as-of pair (same result
    * by construction — the pair exists so BENCH can time plain vs
    * bucketed on the 100%-skew key). */
  private val AsofHotOracle: String =
    """WITH ev AS (SELECT event_id, date_trunc('second', ts) AS ts,
      |                   event_type, value FROM events),
      |c AS (SELECT event_id, ts FROM ev WHERE event_type = 'click'),
      |p AS (SELECT ts, ts AS ref_ts, ROUND(MAX(value), 2) AS ref_value
      |      FROM ev WHERE event_type = 'purchase' GROUP BY ts)
      |SELECT c.event_id, c.ts,
      |       COALESCE(p.ref_ts, TIMESTAMP '1970-01-01') AS ref_ts,
      |       COALESCE(p.ref_value, -1.0) AS ref_value
      |FROM c ASOF LEFT JOIN p ON c.ts >= p.ts""".stripMargin

  /** Shared oracle for the vq26d/vq26e straggler-scale pair: the 1x
    * clicks cross-joined with range(256) — same ts per copy, distinct
    * event ids, exactly the operator's amplification. */
  private val AsofHotAmpOracle: String =
    """WITH ev AS (SELECT event_id, date_trunc('second', ts) AS ts,
      |                   event_type, value FROM events),
      |c0 AS (SELECT event_id, ts FROM ev WHERE event_type = 'click'),
      |c AS (SELECT c0.event_id * 256 + r.rep AS event_id, c0.ts
      |      FROM c0 CROSS JOIN range(256) AS r(rep)),
      |p AS (SELECT ts, ts AS ref_ts, ROUND(MAX(value), 2) AS ref_value
      |      FROM ev WHERE event_type = 'purchase' GROUP BY ts)
      |SELECT c.event_id, c.ts,
      |       COALESCE(p.ref_ts, TIMESTAMP '1970-01-01') AS ref_ts,
      |       COALESCE(p.ref_value, -1.0) AS ref_value
      |FROM c ASOF LEFT JOIN p ON c.ts >= p.ts""".stripMargin

  /** Shared oracle for the vq27/vq27b 50%-hot-key join pair. */
  private val HotJoinOracle: String =
    """WITH e AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'hot' ELSE event_type END AS k,
      |                  value FROM events),
      |d AS (SELECT k, ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
      |                      / COUNT(*), 3) AS weight
      |      FROM e GROUP BY k)
      |SELECT e.k, COUNT(*) AS n,
      |       ROUND(CAST(SUM(CAST(e.value * d.weight AS DECIMAL(20,6))) AS DOUBLE), 2)
      |         AS weighted
      |FROM e JOIN d ON e.k = d.k
      |GROUP BY e.k""".stripMargin
}
