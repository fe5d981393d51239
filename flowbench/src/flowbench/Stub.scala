package flowbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/**
 * Loopback stand-in for a FHIR server (JDK `HttpServer`, at most
 * `threads` handler threads).
 *
 *  - POST `/fhir/<Type>` creates: the id is a hash of the body's first
 *    identifier, so it does not depend on arrival order and one seed
 *    always yields the same server ids.
 *  - PUT `/fhir/<Type>/<id>` updates (or creates under that id).
 *  - A seed-chosen 1 % of resources get 429 on their first attempt; the
 *    retry succeeds.
 *
 * It records which ids it acknowledged, for the benchmark's output checks.
 */
final class Stub(port: Int, threads: Int, seed: Long) {
  // answer each response as one TCP send: without it, headers and body go
  // out in two segments and delayed ACKs stall every request ~40 ms
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 64)
  private val pool = Executors.newFixedThreadPool(threads)

  val requests = new AtomicLong
  val posts = new AtomicLong
  val puts = new AtomicLong
  val status429 = new AtomicLong
  val retries = new AtomicLong
  val busyNs = new AtomicLong
  val bytesIn = new AtomicLong
  /** acknowledged ids per resource type */
  val acked = new ConcurrentHashMap[String, java.util.Set[String]]()
  /** resources seen at least once (first-attempt tracking) */
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val nextAnon = new AtomicInteger

  private val IdentValue = "\"value\"\\s*:\\s*\"([^\"]*)\"".r

  server.createContext("/fhir", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/fhir"

  def counters: Map[String, Double] = Map(
    "requests" -> requests.get.toDouble, "post" -> posts.get.toDouble,
    "put" -> puts.get.toDouble, "status_429" -> status429.get.toDouble,
    "retries" -> retries.get.toDouble, "busy_s" -> busyNs.get / 1e9,
    "bytes_in" -> bytesIn.get.toDouble)

  def ackedIds: Map[String, Set[String]] =
    acked.asScala.map { case (t, ids) => t -> ids.asScala.toSet }.toMap

  /** Forget every resource (a fresh, empty server). */
  def reset(): Unit = { acked.clear(); resetAttempts() }

  /** Forget which requests were seen, so the next play's first attempts
   *  meet the same seed-chosen 429s again. */
  def resetAttempts(): Unit = seen.clear()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      requests.incrementAndGet()
      bytesIn.addAndGet(body.length.toLong)
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty) // fhir, Type[, id]
      val method = ex.getRequestMethod
      val rtype = if (parts.length > 1) parts(1) else ""
      val ident = IdentValue.findFirstMatchIn(body).map(_.group(1))
        .getOrElse(s"anon-${nextAnon.incrementAndGet()}")
      val key = s"$method $rtype $ident"
      val first = seen.add(key)
      if (!first) retries.incrementAndGet()
      if (method == "POST") posts.incrementAndGet() else if (method == "PUT") puts.incrementAndGet()
      // 1 % of resources, chosen by (seed, identifier), see 429 once
      val throttle = first && java.lang.Long.parseLong(hex(s"$seed|$key").take(8), 16) % 100 == 0
      if (throttle) {
        status429.incrementAndGet()
        ex.sendResponseHeaders(429, -1)
      } else {
        val id = method match {
          case "PUT" if parts.length > 2 => parts(2)
          case _ => s"${rtype.toLowerCase}-${hex(s"$rtype|$ident")}"
        }
        acked.computeIfAbsent(rtype, _ => ConcurrentHashMap.newKeySet[String]()).add(id)
        val out = s"""{"resourceType":"$rtype","id":"$id"}""".getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/fhir+json")
        ex.sendResponseHeaders(if (method == "POST") 201 else 200, out.length.toLong)
        ex.getResponseBody.write(out)
      }
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
