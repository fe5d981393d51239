package graft

import org.scalatest.funsuite.AnyFunSuite

/** Flagship smoke: the driver checks entry() returns rows; so do we. */
class EntrySpec extends AnyFunSuite {

  test("entry() produces nested market-segment groups with rows") {
    val out = SparkEntry.entry(TestSpark.spark)
    assert(out.columns.toSeq == Seq("c_mktsegment", "content"))
    // the nation display column rides inside the nested content structs
    val contentType = out.schema("content").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(contentType.fieldNames.contains("c_nationkey_display"))
    assert(out.count() > 0)
  }

  test("every declared query has oracle SQL (or is explicitly exempt)") {
    // the exemption mechanism stays for future rows-only queries;
    // currently every query — pq16b included (quantile_disc is exact
    // at fixture group sizes) — carries an oracle
    val exempt = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- exempt
    assert(missing.isEmpty, s"queries without oracle: $missing")
    assert(exempt.subsetOf(SparkEntry.queries.keySet),
      "stale exemption: every exempt name must still be a declared query")
  }

  test("pq53b executes repeatedly in one JVM — the persisted index overwrites, never leaks") {
    val run = () => SparkEntry.queries("pq53b_ivf_pruned")(
      TestSpark.spark, "/root/testdata/sf0.001")
    val first = run().collect()
    val second = run().collect() // same table/path, overwritten
    assert(first.nonEmpty && first.length == second.length)
    // exactly one catalog entry regardless of execution count
    assert(TestSpark.spark.catalog.listTables().collect()
      .count(_.name.startsWith("graft_pq53b")) == 1)
  }

  test("model caches: an unreadable dir builds every call and never grows the cache") {
    val cache = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val root = java.nio.file.Files.createTempDirectory("graft-cache")
    val unreadable = root.resolve("missing").toString
    (1 to 2).foreach { _ =>
      assert(PipelineQueries.cachedModel(cache, unreadable)(builds.incrementAndGet()) > 0)
    }
    assert(cache.size == 0 && builds.get == 2)
    // a readable dir caches once and serves the cached model after
    java.nio.file.Files.write(root.resolve("documents.parquet"), Array[Byte](1, 2, 3))
    (1 to 2).foreach(_ =>
      PipelineQueries.cachedModel(cache, root.toString)(builds.incrementAndGet()))
    assert(cache.size == 1 && builds.get == 3)
  }

  test("Tables.registerAll exposes every testdata table as a view") {
    graft.sources.Tables.registerAll(TestSpark.spark, "/root/testdata/sf0.001")
    val n = TestSpark.spark.sql(
      "SELECT COUNT(*) FROM nation JOIN region ON n_regionkey = r_regionkey")
      .collect().head.getLong(0)
    assert(n == 25L)
  }

  test("ConfigReader defaults and full-surface parse") {
    import graft.sources.ConfigReader
    val minimal = ConfigReader.fromJson("""{"study_id":"S"}""")
    assert(minimal.studyId == "S")
    assert(minimal.isActive("anything")) // default ALL -> true
    assert(minimal.missingValues == graft.model.Naming.DefaultMissing)
    assert(minimal.publisher == "NCPI FHIR Working Group")

    val full = ConfigReader.fromJson(
      """{"study_id":"S","curies":{"http://snomed.info/sct":"SCT"},
        |"active_tables":{"a":true},"missing_values":["-","?"],
        |"consent_group":"GRU",
        |"dataset":{"a":{"filename":"a.csv","delimiter":";",
        |  "aggregators":{"x":"^x_"},"aggregator-splitter":"_"}}}""".stripMargin)
    assert(full.curies == Map("http://snomed.info/sct" -> "SCT"))
    assert(full.isActive("a") && !full.isActive("b"))
    assert(full.missingValues == Seq("-", "?"))
    assert(full.consentGroup.contains("GRU"))
    val ds = full.dataset("a")
    assert(ds.delimiter == ";" && ds.aggregatorSplitter.contains("_"))
    assert(ds.tableType == graft.model.TableType.Default)
  }
}
