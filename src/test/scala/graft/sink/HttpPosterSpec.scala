package graft.sink

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.llm.Similarity
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

/** HTTP poster retry/backoff against a local server, file fetch, and
 *  ANN bucket sizing. */
class HttpPosterSpec extends AnyFunSuite {

  private def withServer(handler: HttpExchange => Unit)(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = handler(ex)
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, bodyStr: String): Unit = {
    val bytes = bodyStr.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("poster POSTs and returns the server-assigned id") {
    withServer(ex => respond(ex, 201, """{"resourceType":"Patient","id":"srv-9"}""")) { base =>
      val poster = new HttpPoster(base, backoff429Millis = 1, backoffErrMillis = 1)
      assert(poster.post("POST", "Patient", null, "{}") == "srv-9")
    }
  }

  test("poster retries through 429 responses (ref: load.py:398-406)") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      if (calls.incrementAndGet() <= 2) respond(ex, 429, "slow down")
      else respond(ex, 200, """{"id":"after-backoff"}""")
    } { base =>
      val poster = new HttpPoster(base, maxRetries = 5, backoff429Millis = 5, backoffErrMillis = 5)
      assert(poster.post("PUT", "Patient", "p1", "{}") == "after-backoff")
      assert(calls.get() == 3)
    }
  }

  test("poster gives up after maxRetries and reports the last status") {
    withServer(ex => respond(ex, 500, "boom")) { base =>
      val poster = new HttpPoster(base, maxRetries = 2, backoff429Millis = 1, backoffErrMillis = 1)
      val e = intercept[RuntimeException](poster.post("POST", "Patient", null, "{}"))
      assert(e.getMessage.contains("500"))
    }
  }

  test("PUT upserts target Type/id; POST targets the type (ref: bundle.py:135-147)") {
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    withServer { ex =>
      paths.synchronized { paths += ex.getRequestMethod + " " + ex.getRequestURI.getPath }
      respond(ex, 200, """{"id":"x"}""")
    } { base =>
      val poster = new HttpPoster(base, backoff429Millis = 1, backoffErrMillis = 1)
      poster.post("PUT", "Patient", "77", "{}")
      poster.post("POST", "Patient", null, "{}")
      assert(paths.toSeq == Seq("PUT /Patient/77", "POST /Patient"))
    }
  }

  test("validateOnly mode POSTs every request to the type's $validate operation") {
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    withServer { ex =>
      paths.synchronized { paths += ex.getRequestMethod + " " + ex.getRequestURI.getPath }
      respond(ex, 200, """{"resourceType":"OperationOutcome"}""")
    } { base =>
      val poster = new HttpPoster(base, backoff429Millis = 1, backoffErrMillis = 1,
        validateOnly = true)
      poster.post("PUT", "Patient", "77", "{}")
      poster.post("POST", "Observation", null, "{}")
      assert(paths.toSeq == Seq("POST /Patient/$validate", "POST /Observation/$validate"))
    }
  }

  private def deleteAgainst(statuses: Int*)(check: (HttpPoster, AtomicInteger) => Unit): Unit = {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      val status = statuses(math.min(calls.getAndIncrement(), statuses.size - 1))
      if (status == 204) { ex.sendResponseHeaders(204, -1); ex.close() }
      else respond(ex, status, "x")
    } { base =>
      check(new HttpPoster(base, maxRetries = 3, backoff429Millis = 1, backoffErrMillis = 1), calls)
    }
  }

  test("delete: 404 means already gone") {
    deleteAgainst(404)((poster, calls) =>
      assert(poster.delete("Patient", "p1") && calls.get() == 1))
  }

  test("delete: 409 defers after exactly one request") {
    deleteAgainst(409)((poster, calls) =>
      assert(!poster.delete("Patient", "p1") && calls.get() == 1))
  }

  test("delete: retries through a 429, then 204 means gone") {
    deleteAgainst(429, 204)((poster, calls) =>
      assert(poster.delete("Patient", "p1") && calls.get() == 2))
  }

  test("delete: a persistent 500 throws after maxRetries, naming the last status") {
    deleteAgainst(500) { (poster, calls) =>
      val e = intercept[RuntimeException](poster.delete("Patient", "p1"))
      assert(calls.get() == 3)
      assert(e.getMessage.contains("DELETE") && e.getMessage.contains("last: 500"))
    }
  }

  test("FileSource.fetch reads local paths, file:// URIs, and http URLs") {
    val p = java.nio.file.Files.createTempFile("graft-fs", ".json")
    java.nio.file.Files.write(p, """{"ok":true}""".getBytes(StandardCharsets.UTF_8))
    assert(FileSource.fetch(p.toString) == """{"ok":true}""")
    assert(FileSource.fetch(p.toUri.toString) == """{"ok":true}""")
    withServer(ex => respond(ex, 200, "remote")) { base =>
      assert(FileSource.fetch(s"$base/x") == "remote")
    }
  }

  test("autoBucketBits scales bits with corpus size and caps at maxBits") {
    assert(Similarity.autoBucketBits(500) == 1)          // tiny corpus: 1 bit
    assert(Similarity.autoBucketBits(1 << 20) == 10)     // 1M / 1024 = 2^10
    assert(Similarity.autoBucketBits(1L << 50) == 32)    // capped
    assert(Similarity.autoBucketBits(1 << 20, targetBucketSize = 4096) == 8)
  }
}
