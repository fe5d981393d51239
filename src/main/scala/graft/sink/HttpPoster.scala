package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/**
 * A real HTTP poster for [[FhirLoadSink.load]] (ref: wstlr/load.py:378-409
 * retry loop and the client at load.py:455+): bounded retries, 429
 * backoff (the reference sleeps 35 s; configurable here so tests don't),
 * a shorter pause on other non-2xx, PUT to `Type/id` for upserts and
 * POST to `Type` for creates. One instance per partition — the
 * connection pool lives exactly where `foreachPartition` scopes it.
 *
 * The server-assigned id is read from the JSON response's top-level
 * `"id"` field (ref: load.py:412-415).
 */
class HttpPoster(
    baseUrl: String,
    maxRetries: Int = 3,
    backoff429Millis: Long = 35000L,
    backoffErrMillis: Long = 5000L,
    headers: Map[String, String] = Map.empty,
    validateOnly: Boolean = false) {

  private val client = HttpClient.newHttpClient()
  private val IdField = "\"id\"\\s*:\\s*\"([^\"]+)\"".r

  /** The [[FhirLoadSink.Poster]] contract: returns the server id, throws
   *  after retries are exhausted. In `validateOnly` mode every request
   *  POSTs to the type's `$validate` operation instead of writing
   *  (ref: load.py:288-310 validate_only path + the per-type cutoff in
   *  [[FhirLoadSink.validationSample]]). */
  def post(verb: String, resourceType: String, existingId: String, resourceJson: String): String = {
    val url =
      if (validateOnly) s"$baseUrl/$resourceType/" + "$validate"
      else if (verb == "PUT" && existingId != null) s"$baseUrl/$resourceType/$existingId"
      else s"$baseUrl/$resourceType"
    val effectiveVerb = if (validateOnly) "POST" else verb // $validate is always a POST
    val req = request(url).header("Content-Type", "application/fhir+json")
      .method(effectiveVerb,
        HttpRequest.BodyPublishers.ofString(resourceJson, StandardCharsets.UTF_8))
      .build()
    withRetries(s"$verb $url", req) { resp =>
      val status = resp.statusCode()
      if (status >= 300) None
      else {
        val bodyId = IdField.findFirstMatchIn(resp.body()).map(_.group(1))
        // a 2xx write MUST yield a known id: the body's, the PUT
        // target's, or the Location header's. Recording a create
        // (POST) with no id as ok would poison the ID cache with
        // null fhir_ids and corrupt downstream references.
        val locId: String = {
          // e.g. Location: http://host/fhir/Patient/123/_history/1
          val loc = resp.headers().firstValue("Location").orElse(null)
          if (loc == null) null
          else {
            val segs = loc.split("/")
            val i = segs.lastIndexOf(resourceType)
            if (i >= 0 && i + 1 < segs.length) segs(i + 1) else null
          }
        }
        val id = bodyId.getOrElse(if (existingId != null) existingId else locId)
        if (id == null && !validateOnly)
          throw new RuntimeException(
            s"$verb $url returned $status but no resource id " +
              "(empty body and no Location header)")
        Some(id)
      }
    }
  }

  /** The [[PurgeSink.Deleter]] contract: DELETE `Type/id`; true = gone
   *  (2xx, or 404 = already gone), false = 409 conflict (something still
   *  references it — defer to a later round, ref: purge.py:130-157),
   *  throw on anything else after retries. */
  def delete(resourceType: String, id: String): Boolean = {
    val url = s"$baseUrl/$resourceType/$id"
    withRetries(s"DELETE $url", request(url).DELETE().build()) { resp =>
      val status = resp.statusCode()
      if (status < 300 || status == 404) Some(true)
      else if (status == 409) Some(false)
      else None
    }
  }

  private def request(url: String): HttpRequest.Builder = {
    val builder = HttpRequest.newBuilder(URI.create(url))
    headers.foreach { case (k, v) => builder.header(k, v) }
    builder
  }

  /** Sends `req` up to `maxRetries` times and returns the first answer
   *  `accept` gives. A response it declines waits `backoff429Millis` on
   *  429 (ref: load.py:398-406, too many requests) and `backoffErrMillis`
   *  otherwise; connection resets and timeouts are the MOST transient
   *  failures, so they get the same bounded retry as a 5xx. Throws once
   *  the attempts run out, naming the last status (or the last error
   *  when no response ever arrived). */
  private def withRetries[A](what: String, req: HttpRequest)(
      accept: HttpResponse[String] => Option[A]): A = {
    var attempt = 0
    var lastStatus = -1
    var lastErr: String = null
    while (attempt < maxRetries) {
      attempt += 1
      val resp =
        try Some(client.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => lastErr = e.toString; None }
      resp.foreach(r => lastStatus = r.statusCode())
      resp.flatMap(accept) match {
        case Some(answer) => return answer
        case None if attempt < maxRetries =>
          Thread.sleep(if (resp.exists(_.statusCode() == 429)) backoff429Millis
            else backoffErrMillis)
        case None =>
      }
    }
    throw new RuntimeException(s"$what failed after $maxRetries attempts " +
      s"(last: ${if (lastStatus >= 0) lastStatus else lastErr})")
  }
}

/**
 * Driver-side file/URL fetch (ref: wstlr/igload/file_source.py:10-26,
 * dd/loader.py:51-65): DD and IG inputs may be http(s) URLs; they are
 * fetched to local content before entering Spark's read path. Local
 * paths and file:// URIs read directly.
 */
object FileSource {
  def fetch(location: String): String =
    if (location.startsWith("http://") || location.startsWith("https://")) {
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(location)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() < 300, s"GET $location -> ${resp.statusCode()}")
      resp.body()
    } else {
      val path =
        if (location.startsWith("file://")) java.nio.file.Paths.get(URI.create(location))
        else java.nio.file.Paths.get(location)
      new String(java.nio.file.Files.readAllBytes(path), StandardCharsets.UTF_8)
    }

  /** Binary fetch (IG definition zips, ref: igload/ig_source.py:17-25)
   *  to a local file; local paths copy through. */
  def fetchBytes(location: String, dest: java.nio.file.Path): Unit =
    if (location.startsWith("http://") || location.startsWith("https://")) {
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(location)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() < 300, s"GET $location -> ${resp.statusCode()}")
      java.nio.file.Files.write(dest, resp.body())
    } else {
      java.nio.file.Files.copy(java.nio.file.Paths.get(location), dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
}
