package graft.sink

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JVM-singleton state shared by purge-test tasks (closures are
 *  serialized per task; static state is the local-mode escape hatch). */
object PurgeTestState {
  val attempts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val conflictsLeft = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(conflicts: Int): Unit = { attempts.clear(); conflictsLeft.set(conflicts) }
  val deleter: PurgeSink.Deleter = (rt, id) => {
    attempts.add(s"$rt/$id")
    if (id == "p1" && conflictsLeft.getAndDecrement() > 0) false // 409
    else if (id == "m1") throw new RuntimeException("410 gone")
    else true
  }
}

/** Reference resolution + deferred fixpoint + load sink
 *  (ref: wstlr/load.py:53-83,152-175,264-286; play.py:477-488). */
class LoadSpec extends AnyFunSuite {
  import TestSpark.df

  private val cacheDdl = "system STRING, value STRING, resource_type STRING, fhir_id STRING"

  private def resourcesDf(rows: Seq[Row]) =
    df("module STRING, resourceType STRING, id STRING, resource STRING", rows)

  test("extractRefs finds nested identifiers but skips top-level and container ones") {
    val r = resourcesDf(Seq(Row("m", "Condition", "C1",
      """{"resourceType":"Condition",
         |"identifier":[{"system":"top","value":"T"}],
         |"subject":{"identifier":{"system":"https://s/patient","value":"P1"}},
         |"specimen":{"container":{"identifier":{"system":"skip","value":"S"}}},
         |"performer":[{"identifier":{"system":"https://s/org","value":"O1"}}]}""".stripMargin
        .replaceAll("\n", ""))))
    val refs = ReferenceResolution.extractRefs(r).collect()
      .map(x => (x.getString(1), x.getString(2))).toSet
    assert(refs == Set(("https://s/patient", "P1"), ("https://s/org", "O1")))
  }

  test("resolve rewrites resolved references and defers resources with misses") {
    val r = resourcesDf(Seq(
      Row("m", "Condition", "C1",
        """{"subject":{"identifier":{"system":"https://s/patient","value":"P1"}}}"""),
      Row("m", "Condition", "C2",
        """{"subject":{"identifier":{"system":"https://s/patient","value":"MISSING"}}}"""),
      Row("m", "Observation", "O1", """{"status":"final"}""")))
    val cache = df(cacheDdl, Seq(Row("https://s/patient", "P1", "Patient", "42")))
    val (resolved, deferred) = ReferenceResolution.resolve(r, cache)
    val res = resolved.collect().map(x => x.getString(2) -> x.getString(3)).toMap
    assert(res("C1") == """{"subject":{"reference":"Patient/42"}}""")
    assert(res("O1") == """{"status":"final"}""") // no refs: passes through
    val defIds = deferred.collect().map(_.getString(2)).toSeq
    assert(defIds == Seq("C2"))
  }

  test("primaryIdentifier prefers the prefix match, falls back to official") {
    val r = resourcesDf(Seq(
      Row("m", "Patient", "P1",
        """{"identifier":[{"system":"urn:other","value":"X","use":"official"},
           |{"system":"https://study/patient","value":"P1"}]}""".stripMargin.replaceAll("\n", "")),
      Row("m", "CodeSystem", "CS1",
        """{"identifier":[{"system":"urn:shared-terms","value":"CS1","use":"official"}]}""")))
    val out = r.select(col("id"),
      FhirLoadSink.primaryIdentifier(col("resource"), "https://study").as("pid")).collect()
    val byId = out.map(x => x.getString(0) -> x.getStruct(1)).toMap
    assert(byId("P1").getString(0) == "https://study/patient") // prefix wins over official
    assert(byId("CS1").getString(0) == "urn:shared-terms")     // official fallback
  }

  test("getOrCreate turns cache hits into PUT upserts and misses into POST") {
    val r = resourcesDf(Seq(
      Row("m", "Patient", "P1",
        """{"identifier":[{"system":"https://s/patient","value":"P1","use":"official"}]}"""),
      Row("m", "Patient", "P2",
        """{"identifier":[{"system":"https://s/patient","value":"P2","use":"official"}]}""")))
    val cache = df(cacheDdl, Seq(Row("https://s/patient", "P1", "Patient", "77")))
    val out = FhirLoadSink.getOrCreate(r, cache, "https://s").collect()
      .map(x => x.getAs[String]("id") -> (x.getAs[String]("verb"), x.getAs[String]("fhir_id"))).toMap
    assert(out("P1") == (("PUT", "77")))
    assert(out("P2") == (("POST", null)))
  }

  test("load runs the poster per row and reports results; failures are recorded not thrown") {
    val r = resourcesDf(Seq(
      Row("m", "Patient", "P1",
        """{"identifier":[{"system":"https://s/patient","value":"P1","use":"official"}]}"""),
      Row("m", "Patient", "BAD",
        """{"identifier":[{"system":"https://s/patient","value":"BAD","use":"official"}]}""")))
    val cache = df(cacheDdl, Seq.empty)
    val prepared = FhirLoadSink.getOrCreate(r, cache, "https://s")
    val results = FhirLoadSink.load(prepared, () => (verb, rt, existing, resource) => {
      if (resource.contains("BAD")) throw new RuntimeException("simulated 500")
      s"srv-${verb.toLowerCase}"
    }).collect().map(x => x.getString(2) -> x).toMap
    assert(results("P1").getBoolean(6) && results("P1").getString(5) == "srv-post")
    assert(!results("BAD").getBoolean(6) && results("BAD").getString(7).contains("simulated 500"))
  }

  test("resolveLoop converges over rounds as loads grow the cache") {
    // chain: Patient (no refs) <- Condition (refs Patient) <- Report (refs Condition)
    val r = resourcesDf(Seq(
      Row("patient", "Patient", "P1", """{"resourceType":"Patient"}"""),
      Row("cond", "Condition", "C1",
        """{"subject":{"identifier":{"system":"https://s/patient","value":"P1"}}}"""),
      Row("rep", "Report", "R1",
        """{"result":{"identifier":{"system":"https://s/condition","value":"C1"}}}""")))
    val empty = df(cacheDdl, Seq.empty)
    var loadedBatches = Vector.empty[Set[String]]
    val (leftover, _) = ReferenceResolution.resolveLoop(r, empty, { (resolved, _) =>
      val ids = resolved.collect().map(_.getString(2)).toSet
      loadedBatches :+= ids
      // loading assigns server ids; new cache rows keyed by study identifier
      df(cacheDdl, ids.toSeq.map { id =>
        val sys = if (id == "P1") "https://s/patient" else "https://s/condition"
        Row(sys, id, id.substring(0, 1) match { case "P" => "Patient"; case _ => "Condition" },
          s"srv-$id")
      })
    }, maxRounds = 10)
    assert(leftover.isEmpty, "all resources should resolve")
    assert(loadedBatches.length == 3)
    assert(loadedBatches(0) == Set("P1"))
    assert(loadedBatches(1) == Set("C1"))
    assert(loadedBatches(2) == Set("R1"))
  }

  test("resolveLoop stops early and reports resources that can never resolve") {
    val r = resourcesDf(Seq(
      Row("m", "Condition", "C1",
        """{"subject":{"identifier":{"system":"https://s/patient","value":"NEVER"}}}""")))
    val empty = df(cacheDdl, Seq.empty)
    val (leftover, _) = ReferenceResolution.resolveLoop(r, empty,
      (_, _) => df(cacheDdl, Seq.empty), maxRounds = 10)
    assert(leftover.collect().map(_.getString(2)).toSeq == Seq("C1"))
  }

  test("loadTier orders terminology, then patient module, then the rest") {
    val r = df("module STRING, resourceType STRING", Seq(
      Row("ddmeta", "CodeSystem"), Row("patient", "Patient"), Row("cond", "Condition")))
    val tiers = r.select(col("resourceType"),
      FhirLoadSink.loadTier(col("module"), col("resourceType")).as("t"))
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(tiers == Map("CodeSystem" -> 0, "Patient" -> 1, "Condition" -> 2))
  }

  test("purge deletes in reverse dependency order and retries 409-deferred ids") {
    val ids = df("resource_type STRING, id STRING", Seq(
      Row("CodeSystem", "cs1"), Row("Patient", "p1"),
      Row("Observation", "o1"), Row("Mystery", "m1")))
    // task closures are serialized even in local mode, so shared state
    // must live in a JVM singleton, not captured fields
    PurgeTestState.reset(conflicts = 2)
    val out = PurgeSink.purge(ids, () => PurgeTestState.deleter, maxRounds = 5, sleepMillis = 1)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(out == Map("cs1" -> "deleted", "o1" -> "deleted",
      "p1" -> "deleted", "m1" -> "error"))
    // first round order: unknown first, then reverse creation order
    val firstRound = PurgeTestState.attempts.toArray(new Array[String](0)).take(4).toSeq
    assert(firstRound == Seq("Mystery/m1", "Observation/o1", "Patient/p1", "CodeSystem/cs1"))
    // p1 retried until the conflict cleared
    assert(PurgeTestState.attempts.toArray.count(_ == "Patient/p1") == 3)
  }

  test("purge reports ids still deferred after maxRounds") {
    val ids = df("resource_type STRING, id STRING", Seq(Row("Patient", "stuck")))
    val out = PurgeSink.purge(ids, () => (_, _) => false, maxRounds = 2, sleepMillis = 1)
      .collect()
    assert(out.length == 1 && out.head.getString(2) == "deferred")
  }

  test("validationSample keeps at most N per resource type") {
    val r = resourcesDf((1 to 5).map(i =>
      Row("m", "Patient", s"P$i", "{}")) :+ Row("m", "Condition", "C1", "{}"))
    val out = FhirLoadSink.validationSample(r, maxPerType = 2)
    assert(out.groupBy("resourceType").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap == Map("Patient" -> 2L, "Condition" -> 1L))
  }
}
