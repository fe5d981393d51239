package graft.cli

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** The CLI entry points (play/extractjson/loadfhir/delfhir) run
 *  in-process against the fixture study and a loopback FHIR server. */
class MainsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p
  }

  private def fixture(): Path = {
    val dir = Files.createTempDirectory("graft-mains")
    write(dir, "demographics.csv", "Subject Id,Sex\nS1,M\nS2,F\n")
    write(dir, "demographics_dd.csv",
      """variable_name,description,data_type,enumerations
        |Subject Id,Participant,string,
        |Sex,Biological sex,enumeration,M=Male;F=Female
        |""".stripMargin)
    write(dir, "harmony.csv",
      """local code,text,table_name,parent_varname,local code system,code,display,code system
        |M,Male,demographics,sex,sex,male,Male,http://hl7.org/fhir/administrative-gender
        |F,Female,demographics,sex,sex,female,Female,http://hl7.org/fhir/administrative-gender
        |""".stripMargin)
    write(dir, "study.yaml",
      """study_id: MAINS
        |identifier_prefix: https://mains
        |dataset:
        |  demographics:
        |    filename: demographics.csv
        |    data_dictionary:
        |      filename: demographics_dd.csv
        |    code_harmonization: harmony.csv
        |""".stripMargin)
    dir
  }

  /** Loopback FHIR stand-in: every write returns a server id; DELETE
   *  returns 200. Counts requests by method. `status` overrides the
   *  response code (e.g. 422 = every load rejected). */
  private def withServer[A](status: Int = 200)(
      f: (String, java.util.Map[String, AtomicInteger]) => A): A = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val nextId = new AtomicInteger(0)
    server.createContext("/fhir", { exchange =>
      counts.computeIfAbsent(exchange.getRequestMethod, _ => new AtomicInteger).incrementAndGet()
      val body = s"""{"id":"srv-${nextId.incrementAndGet()}"}""".getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(status, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/fhir", counts)
    finally server.stop(0)
  }

  private def hostsFile(dir: Path, url: String): Path =
    write(dir, "fhir_hosts",
      s"""dev:
         |  host_desc: Dev
         |  target_service_url: $url
         |  auth_type: auth_basic
         |  username: u
         |  password: p
         |""".stripMargin)

  test("extractjson writes the whistle-input document, is incremental, and validates args") {
    val dir = fixture()
    val out = dir.resolve("wi").toString
    assert(ExtractJsonMain.run(Array("-o", out, dir.resolve("study.yaml").toString), spark) == 0)
    val doc = dir.resolve("wi/MAINS.json")
    assert(Files.exists(doc))
    assert(new String(Files.readAllBytes(doc)).contains(""""id":"MAINS""""))
    // second run leaves the fresh document alone
    val mtime = Files.getLastModifiedTime(doc)
    assert(ExtractJsonMain.run(Array("-o", out, dir.resolve("study.yaml").toString), spark) == 0)
    assert(Files.getLastModifiedTime(doc) == mtime)
    // no config -> usage error
    assert(ExtractJsonMain.run(Array("-o", out), spark) == 1)
    assert(ExtractJsonMain.run(Array("--bogus"), spark) == 1)
  }

  test("play with --host loads the study into the server and writes study_ids") {
    val dir = fixture()
    withServer() { (url, counts) =>
      hostsFile(dir, url)
      val out = dir.resolve("out").toString
      val rc = PlayMain.run(Array(
        "--host", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
        "-o", out, dir.resolve("study.yaml").toString), spark)
      assert(rc == 0)
      assert(counts.get("POST").get > 0) // resources actually posted
      val ids = new String(Files.readAllBytes(dir.resolve("out/study_ids.json")))
      assert(ids.contains("\"MAINS\""))
      assert(ids.contains("\"Observation\""))
      // study-ids records the SERVER-assigned ids (what delfhir deletes),
      // never the local projection ids
      assert(ids.contains("srv-"))
      // every subject became a loadable Patient, so all references resolved
      assert(ids.contains("\"Patient\""))
      assert(!Files.exists(dir.resolve("out/invalid-references.json")))
      // id cache persisted for incremental loads
      assert(Files.exists(dir.resolve(s"out/idcache/MAINS.parquet")))
    }
  }

  test("play -x runs one Spark execution per harmony file set and no lookup collect") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    val dir = fixture()
    val harmonyScans = new AtomicInteger(0)
    val lookupCollects = new AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        // header-inference reads go through the text source, not CSV
        if (qe.analyzed.collectLeaves().exists {
              case l: LogicalRelation => l.relation match {
                case h: HadoopFsRelation => h.fileFormat.isInstanceOf[CSVFileFormat] &&
                  h.location.rootPaths.exists(_.getName == "harmony.csv")
                case _ => false
              }
              case _ => false
            }) harmonyScans.incrementAndGet()
        if (funcName == "collect" &&
            qe.analyzed.output.map(_.name) == Seq("system", "code", "codings"))
          lookupCollects.incrementAndGet()
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val log = new graft.JobLog
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(log)
    try {
      assert(PlayMain.run(Array("-x", "-o", dir.resolve("outx").toString,
        dir.resolve("study.yaml").toString), spark) == 0)
      log.settle()
    } finally {
      spark.sparkContext.removeSparkListener(log)
      spark.listenerManager.unregister(listener)
    }
    assert(Files.exists(dir.resolve("outx/bundles")))
    // the one read of harmony.csv; the codings lookup derives from it on
    // the driver
    assert(harmonyScans.get == 1)
    assert(lookupCollects.get == 0)
  }

  test("play without host stops after documents; unknown host is an error") {
    val dir = fixture()
    val out = dir.resolve("out2").toString
    assert(PlayMain.run(Array("-o", out, dir.resolve("study.yaml").toString), spark) == 0)
    assert(Files.exists(dir.resolve("out2/whistle-input/MAINS.json")))
    withServer() { (url, _) =>
      hostsFile(dir, url)
      assert(PlayMain.run(Array("--host", "nope",
        "--hosts-file", dir.resolve("fhir_hosts").toString,
        "-o", out, dir.resolve("study.yaml").toString), spark) == 1)
    }
  }

  test("loadfhir loads a whistle-output json with module filters") {
    val dir = fixture()
    val wo = write(dir, "whistle-output.json",
      """{"patient":[
        |  {"resourceType":"Patient","id":"p1",
        |   "identifier":[{"system":"https://mains","value":"S1"}]},
        |  {"resourceType":"Patient","id":"p2",
        |   "identifier":[{"system":"https://mains","value":"S2"}]}],
        |"junk":[{"resourceType":"Basic","id":"b1",
        |   "identifier":[{"system":"https://mains","value":"B1"}]}]}""".stripMargin)
    withServer() { (url, counts) =>
      hostsFile(dir, url)
      val cache = dir.resolve("cache.parquet").toString
      val rc = LoadFhirMain.run(Array(
        "--host", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
        "-m", "patient", "--id-cache", cache,
        "--out", dir.resolve("out").toString,
        "--identifier-prefix", "https://mains", wo.toString), spark)
      assert(rc == 0)
      assert(counts.get("POST").get == 2) // junk module filtered out
    }
  }

  test("loadfhir with a JDBC id cache: run 1 POSTs, run 2 primes and PUTs") {
    val dir = fixture()
    val wo = write(dir, "whistle-output.json",
      """{"patient":[
        |  {"resourceType":"Patient","id":"p1",
        |   "identifier":[{"system":"https://mains","value":"S1"}]},
        |  {"resourceType":"Patient","id":"p2",
        |   "identifier":[{"system":"https://mains","value":"S2"}]}]}""".stripMargin)
    withServer() { (url, counts) =>
      hostsFile(dir, url)
      // a real on-disk JDBC database (embedded Derby), not parquet
      val cache = s"jdbc:derby:${dir.resolve("dbcache")};create=true"
      def run() = LoadFhirMain.run(Array(
        "--host", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
        "--id-cache", cache,
        "--out", dir.resolve("out").toString,
        "--identifier-prefix", "https://mains", wo.toString), spark)
      assert(run() == 0)
      assert(counts.get("POST").get == 2) // cold cache: everything new
      assert(counts.get("PUT") == null)
      // second run, fresh JVM-state-free path: the cache written by run 1
      // primes run 2 from the database file, so both loads become PUTs
      // against the server-assigned ids (get-or-create upsert join)
      assert(run() == 0)
      assert(counts.get("POST").get == 2) // no new POSTs
      assert(counts.get("PUT").get == 2)
    }
  }

  test("loadfhir twice into one out dir with the parquet id cache: run 2 succeeds with PUTs only") {
    val dir = fixture()
    val wo = write(dir, "whistle-output.json",
      """{"patient":[
        |  {"resourceType":"Patient","id":"p1",
        |   "identifier":[{"system":"https://mains","value":"S1"}]},
        |  {"resourceType":"Patient","id":"p2",
        |   "identifier":[{"system":"https://mains","value":"S2"}]}],
        |"observation":[
        |  {"resourceType":"Observation","id":"o1",
        |   "identifier":[{"system":"https://mains","value":"O1"}],
        |   "subject":{"reference":"Patient/p1"}}]}""".stripMargin)
    withServer() { (url, counts) =>
      hostsFile(dir, url)
      // no --id-cache: the parquet cache lives under the out dir, and
      // run 2 reads the very cache it then replaces
      def run() = LoadFhirMain.run(Array(
        "--host", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
        "--out", dir.resolve("out").toString,
        "--identifier-prefix", "https://mains", wo.toString), spark)
      assert(run() == 0)
      assert(counts.get("POST").get == 3)
      assert(counts.get("PUT") == null)
      assert(run() == 0)
      assert(counts.get("POST").get == 3) // no new POSTs
      assert(counts.get("PUT").get == 3)
      assert(!Files.exists(dir.resolve("out/invalid-references.json")))
    }
  }

  test("loadfhir exits 1 and reports errors when the server rejects every load") {
    val dir = fixture()
    val wo = write(dir, "whistle-output.json",
      """{"patient":[{"resourceType":"Patient","id":"p1",
        |   "identifier":[{"system":"https://mains","value":"S1"}]}]}""".stripMargin)
    withServer(status = 422) { (url, _) =>
      hostsFile(dir, url)
      sys.props("graft.http.backoffErrMillis") = "0"
      try {
        val rc = LoadFhirMain.run(Array(
          "--host", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
          "--id-cache", dir.resolve("cache.parquet").toString,
          "--out", dir.resolve("outf").toString,
          "--identifier-prefix", "https://mains", wo.toString), spark)
        assert(rc == 1) // load.py:452 sys.exit(1) on rejected loads
      } finally sys.props.remove("graft.http.backoffErrMillis")
    }
  }

  test("delfhir lists studies without -n, purges with -n") {
    val dir = fixture()
    val ids = write(dir, "study_ids.json",
      """{"MAINS":{"dev":{"Observation":["o1","o2"],"Patient":["p1"]}}}""")
    withServer() { (url, counts) =>
      hostsFile(dir, url)
      val common = Array("-e", "dev", "--hosts-file", dir.resolve("fhir_hosts").toString,
        "-s", ids.toString, "--sleep-millis", "0")
      assert(DelFhirMain.run(common, spark) == 1) // lists studies, exits 1
      assert(counts.getOrDefault("DELETE", new AtomicInteger).get == 0)
      assert(DelFhirMain.run(common ++ Array("-n", "MAINS"), spark) == 0)
      assert(counts.get("DELETE").get == 3)
      // resource filter narrows the purge
      assert(DelFhirMain.run(common ++ Array("-n", "MAINS", "-r", "Patient"), spark) == 0)
      assert(counts.get("DELETE").get == 4)
    }
  }
}
