package graft.sources.odata

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.Base64
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal OData HTTP client (JDK HttpURLConnection + the Jackson that
  * ships with Spark — zero extra deps). Mirrors the reference's
  * request shape: JSON accept header, `$format=json`, Basic auth from
  * options, per-request timeout (reference `src/etl.py:40-41,67-79`).
  * Error diagnostics mirror etl.py:81-87: status, URL, first 2 000
  * body chars.
  */
object ODataClient {

  private val mapper = new ObjectMapper()

  /** OAuth2 client-credentials config (SAP-style API access: a token
    * endpoint exchanges the client id/secret for a short-lived bearer
    * token). Carried alongside basic auth; when present it WINS.
    */
  final case class OAuthConfig(tokenUrl: String, clientId: String,
                               clientSecret: String)

  // one cached token per (tokenUrl, clientId), shared by every task
  // thread in the JVM; value = (token, fetchedAtMs, expiresInMs)
  private val tokenCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Long, Long)]

  // single-flight guard per cache key: token expiry mid-scan 401s
  // every reader thread at once, and without serialization each would
  // re-POST the token endpoint simultaneously (a grant stampede a
  // rate-limited real endpoint then 429s). Waiters re-check the cache
  // under the lock and share the one fresh grant.
  private val tokenLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Evict the cached token ONLY if it is still the one that 401'd: a
    * stale 401 landing after a concurrent re-grant must not kill the
    * fresh token (that would trigger a pointless extra grant).
    */
  private[odata] def evictToken(cfg: OAuthConfig, usedToken: String): Unit = {
    val key = (cfg.tokenUrl, cfg.clientId)
    tokenCache.get(key).foreach { v =>
      if (v._1 == usedToken) tokenCache.remove(key, v)
    }
  }

  /** Current bearer token for `cfg`, fetching via the
    * client-credentials grant when absent or ≥80% through its
    * lifetime. SINGLE-FLIGHT per (tokenUrl, clientId): concurrent
    * misses serialize on a per-key lock and all but the first reuse
    * the grant the first one fetched. (A 401'd token is evicted by
    * [[getWithRetryResponse]]'s re-auth branch — conditionally, see
    * [[evictToken]]; this method only reads/refreshes the cache.)
    */
  def bearerToken(cfg: OAuthConfig, timeoutMs: Int): String = {
    val key = (cfg.tokenUrl, cfg.clientId)
    def cached: Option[String] = tokenCache.get(key) match {
      case Some((tok, at, ttl)) if System.currentTimeMillis() - at < ttl * 8 / 10 =>
        Some(tok)
      case _ => None
    }
    cached.getOrElse {
      val lock = tokenLocks.getOrElseUpdate(key, new Object)
      lock.synchronized {
        // double-check: a concurrent grant may have landed while this
        // thread waited on the lock
        cached.getOrElse(fetchToken(cfg, timeoutMs))
      }
    }
  }

  private def fetchToken(cfg: OAuthConfig, timeoutMs: Int): String = {
    val body = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> cfg.clientId,
      "client_secret" -> cfg.clientSecret)
      .map { case (k, v) =>
        URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8") }
      .mkString("&")
    val conn = new URI(cfg.tokenUrl).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val resp = try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      conn.setRequestProperty("Accept", "application/json")
      val out = conn.getOutputStream
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text =
        if (stream == null) ""
        else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      if (status < 200 || status >= 300)
        throw new ODataHttpException(status, cfg.tokenUrl, text)
      text
    } finally conn.disconnect()
    val node = mapper.readTree(resp)
    val tok = Option(node.get("access_token")).map(_.asText())
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"oauth token endpoint returned no access_token: ${resp.take(200)}"))
    val ttlMs = Option(node.get("expires_in")).map(_.asLong() * 1000L)
      .filter(_ > 0).getOrElse(3600 * 1000L)
    tokenCache.put((cfg.tokenUrl, cfg.clientId),
      (tok, System.currentTimeMillis(), ttlMs))
    tok
  }

  /** One answer: `bytes` is the size of the body as decoded (after any
    * gzip inflation), 0 where it was not counted. */
  final case class Response(status: Int, body: String,
                            retryAfterMs: Option[Long] = None, bytes: Long = 0L)

  final case class Page(rows: Seq[Map[String, String]], nextLink: Option[String],
                        deltaLink: Option[String] = None)

  final class ODataHttpException(val status: Int, val url: String, val body: String)
    extends RuntimeException(
      s"OData request failed: HTTP $status url=$url body=${body.take(2000)}")

  def buildUrl(base: String, params: Seq[(String, String)]): String = {
    if (params.isEmpty) base
    else {
      val q = params.map { case (k, v) =>
        URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      val sep = if (base.contains("?")) "&" else "?"
      s"$base$sep$q"
    }
  }

  def get(url: String, user: Option[String], password: Option[String],
          timeoutMs: Int, extraHeaders: Seq[(String, String)] = Nil,
          oauth: Option[OAuthConfig] = None): Response = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestProperty("Accept", "application/json")
      // the reference's HTTP client (python-requests) sends
      // Accept-Encoding: gzip by default and auto-decompresses — NOT
      // offering it was a parity gap, and JSON feeds compress ~10×,
      // so at tenant scale this is most of the transfer. A server
      // that cannot gzip lawfully ignores the offer.
      conn.setRequestProperty("Accept-Encoding", "gzip")
      extraHeaders.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      oauth match {
        case Some(cfg) =>
          conn.setRequestProperty("Authorization",
            s"Bearer ${bearerToken(cfg, timeoutMs)}")
        case None =>
          for (u <- user; p <- password) {
            val tok = Base64.getEncoder.encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8))
            conn.setRequestProperty("Authorization", s"Basic $tok")
          }
      }
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val raw =
        if (stream == null) Array.emptyByteArray else stream.readAllBytes()
      // inflate AFTER reading the raw bytes so a gzip-flagged but
      // empty/corrupt ERROR body cannot eat the HTTP status (and its
      // Retry-After pacing) — the diagnostic degrades to empty, the
      // status survives. A corrupt gzip DATA body (2xx) still throws:
      // that is payload corruption, not a diagnostics nicety.
      val decoded =
        if (raw.nonEmpty && "gzip".equalsIgnoreCase(conn.getContentEncoding))
          try new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw)).readAllBytes()
          catch { case _: java.io.IOException if status >= 400 => Array.emptyByteArray }
        else raw
      val body = if (decoded.isEmpty) "" else new String(decoded, StandardCharsets.UTF_8)
      // delta-seconds form only (an HTTP-date Retry-After falls back
      // to the client's own exponential backoff); capped at 5 minutes
      // BEFORE the millis conversion so a hostile/buggy header can
      // neither overflow Long nor park an executor thread for hours
      val retryAfter = Option(conn.getHeaderField("Retry-After"))
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .filter(_ >= 0).map(s => math.min(s, 300L) * 1000L)
      Response(status, body, retryAfter, decoded.length.toLong)
    } finally conn.disconnect()
  }

  def getOrThrow(url: String, user: Option[String], password: Option[String],
                 timeoutMs: Int): String = {
    val r = get(url, user, password, timeoutMs)
    if (r.status < 200 || r.status >= 300) throw new ODataHttpException(r.status, url, r.body)
    r.body
  }

  /** [[getOrThrow]] with bounded retry: transient failures (5xx,
    * 429 rate limits, network I/O) back off exponentially —
    * `backoffMs · 2^attempt`, or the server's `Retry-After` delay when
    * one is sent (a throttling SaaS tenant states exactly when to come
    * back; guessing shorter hammers it, guessing longer wastes the
    * task) — and retry up to maxRetries times. Other 4xx are permanent
    * and surface immediately (a retried 404 would break the schema
    * probe's discriminator). Retry is OFF by default (maxRetries=0):
    * the reference raises on first failure (`src/etl.py:81-87`), so
    * parity is the default posture and backoff is opt-in hardening.
    */
  def getWithRetry(url: String, user: Option[String], password: Option[String],
                   timeoutMs: Int, maxRetries: Int, backoffMs: Long,
                   extraHeaders: Seq[(String, String)] = Nil,
                   oauth: Option[OAuthConfig] = None): String =
    fetch(url, user, password, timeoutMs, maxRetries, backoffMs, extraHeaders, oauth).body

  /** [[getWithRetry]] returning the whole 2xx [[Response]] (its body
    * and byte count); any other final status throws. */
  def fetch(url: String, user: Option[String], password: Option[String],
            timeoutMs: Int, maxRetries: Int, backoffMs: Long,
            extraHeaders: Seq[(String, String)] = Nil,
            oauth: Option[OAuthConfig] = None): Response = {
    val r = getWithRetryResponse(url, user, password, timeoutMs, maxRetries,
      backoffMs, extraHeaders, oauth)
    if (r.status >= 200 && r.status < 300) r
    else throw new ODataHttpException(r.status, url, r.body)
  }

  /** Re-auths one request may make. The token cache is shared by every
    * task thread, so a fresh grant can be used up or expired by
    * concurrent requests before this one reaches the server: the first
    * re-auth replaces the expired token, the second covers that race.
    * A server refusing every fresh token still fails after two grants.
    */
  private val MaxReauths = 2

  /** The retry core, returning the final [[Response]] so callers that
    * DISCRIMINATE on status (the schema probe's 404-segment check) can
    * still ride the transient-failure budget. Absorbed within
    * `maxRetries`: 5xx/429 from the DATA url, 5xx/429 from the OAUTH
    * TOKEN endpoint (bearerToken throws ODataHttpException(tokenUrl)
    * from inside get — a token-endpoint blip deserves the same budget
    * as a data-url one), and network IOExceptions. Transparent
    * re-auth: a 401 under oauth evicts the cached token (the server's
    * validity clock wins) and retries with a fresh grant, up to
    * [[MaxReauths]] times per request; the next 401 — like any other
    * non-retryable or budget-exhausted status — is RETURNED for the
    * caller to judge.
    */
  def getWithRetryResponse(url: String, user: Option[String],
                           password: Option[String], timeoutMs: Int,
                           maxRetries: Int, backoffMs: Long,
                           extraHeaders: Seq[(String, String)] = Nil,
                           oauth: Option[OAuthConfig] = None): Response = {
    var attempt = 0
    var reauths = 0
    while (true) {
      try {
        // resolve the bearer HERE (not inside get) so a 401 can evict
        // exactly the token this attempt used — see evictToken
        val usedTok = oauth.map(bearerToken(_, timeoutMs))
        val hdrs = usedTok.map(t =>
          extraHeaders :+ ("Authorization" -> s"Bearer $t"))
          .getOrElse(extraHeaders)
        // oauth WINS over basic (the ODataOptions contract): drop the
        // user/password when a bearer rides the headers, or get()
        // would overwrite the Authorization with Basic
        val r =
          if (usedTok.isDefined) get(url, None, None, timeoutMs, hdrs, None)
          else get(url, user, password, timeoutMs, hdrs, None)
        if (r.status >= 200 && r.status < 300) return r
        if (r.status == 401 && oauth.isDefined && reauths < MaxReauths) {
          reauths += 1
          for (cfg <- oauth; t <- usedTok) evictToken(cfg, t)
        } else {
          val retryable = r.status >= 500 || r.status == 429
          if (!retryable || attempt >= maxRetries) return r
          Thread.sleep(r.retryAfterMs.getOrElse(backoffMs * (1L << attempt)))
          attempt += 1
        }
      } catch {
        case e: ODataHttpException
            if oauth.exists(_.tokenUrl == e.url) &&
              (e.status >= 500 || e.status == 429) && attempt < maxRetries =>
          Thread.sleep(backoffMs * (1L << attempt))
          attempt += 1
        case e: ODataHttpException => throw e
        case _: java.io.IOException if attempt < maxRetries =>
          Thread.sleep(backoffMs * (1L << attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** OData v4.01 JSON `$batch` (protocol §11.7, JSON format §19): POST
    * one `{"requests": [{id, method, url}…]}` envelope and decode the
    * per-request `{"responses": [{id, status, body}…]}` answers —
    * bundling N control-plane GETs (the schema probe's candidates,
    * counts) into ONE HTTP round-trip. Sub-responses come back as
    * [[Response]]s so callers keep their status discrimination (the
    * probe's 404-segment check). The batch POST itself rides the same
    * transient-retry budget as any GET; a missing sub-response (a
    * server answering fewer ids than asked) fails loudly — silently
    * dropping a probe candidate would mis-detect the schema. The
    * transparent 401 re-auth covers the batch POST itself; a 401
    * INSIDE a sub-response (a server validating per sub-request) is
    * returned to the caller, where the probe treats it as fatal —
    * loud, never silent.
    */
  def postJsonBatch(batchUrl: String, requests: Seq[(String, String)],
                    user: Option[String], password: Option[String],
                    timeoutMs: Int, maxRetries: Int, backoffMs: Long,
                    oauth: Option[OAuthConfig] = None): Map[String, Response] = {
    val payload = {
      val sb = new StringBuilder("{\"requests\": [")
      requests.zipWithIndex.foreach { case ((id, u), i) =>
        if (i > 0) sb.append(", ")
        sb.append(s"""{"id": ${jsonQuote(id)}, "method": "GET", "url": ${jsonQuote(u)}}""")
      }
      sb.append("]}").toString
    }
    var attempt = 0
    var reauths = 0
    while (true) {
      // a token-endpoint 5xx/429 rides the same retry budget as the
      // batch POST itself (the getWithRetryResponse convention)
      var usedTok: Option[String] = None
      var tokenOk = true
      try usedTok = oauth.map(bearerToken(_, timeoutMs))
      catch {
        case e: ODataHttpException
            if oauth.exists(_.tokenUrl == e.url) &&
              (e.status >= 500 || e.status == 429) && attempt < maxRetries =>
          Thread.sleep(backoffMs * (1L << attempt))
          attempt += 1
          tokenOk = false
      }
      if (tokenOk) {
      val conn = new URI(batchUrl).toURL.openConnection().asInstanceOf[HttpURLConnection]
      val r = try {
        conn.setRequestMethod("POST")
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setRequestProperty("Accept", "application/json")
        usedTok match {
          case Some(t) => conn.setRequestProperty("Authorization", s"Bearer $t")
          case None =>
            for (u <- user; p <- password) {
              val tok = Base64.getEncoder.encodeToString(
                s"$u:$p".getBytes(StandardCharsets.UTF_8))
              conn.setRequestProperty("Authorization", s"Basic $tok")
            }
        }
        val out = conn.getOutputStream
        try out.write(payload.getBytes(StandardCharsets.UTF_8)) finally out.close()
        val status = conn.getResponseCode
        val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
        val body = if (stream == null) ""
          else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        // same capped delta-seconds parse as get(): a batch 429's
        // pacing contract is no weaker than a GET's
        val retryAfter = Option(conn.getHeaderField("Retry-After"))
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
          .filter(_ >= 0).map(s => math.min(s, 300L) * 1000L)
        Response(status, body, retryAfter)
      } finally conn.disconnect()
      if (r.status >= 200 && r.status < 300) {
        val node = mapper.readTree(r.body)
        val resps = Option(node.get("responses")).getOrElse(
          throw new IllegalStateException(
            s"odata \\$$batch: no 'responses' in: ${r.body.take(200)}"))
        val byId = resps.elements().asScala.map { rn =>
          val id = rn.get("id").asText()
          val st = rn.get("status").asInt()
          val b = Option(rn.get("body")).map(bn =>
            if (bn.isValueNode) bn.asText() else bn.toString).getOrElse("")
          id -> Response(st, b, bytes = b.getBytes(StandardCharsets.UTF_8).length.toLong)
        }.toMap
        requests.foreach { case (id, u) =>
          require(byId.contains(id),
            s"odata \\$$batch: the server answered no response for request " +
              s"id=$id url=$u — refusing to treat a dropped sub-request as data")
        }
        return byId
      } else if (r.status == 401 && oauth.isDefined && reauths < MaxReauths) {
        reauths += 1
        for (cfg <- oauth; t <- usedTok) evictToken(cfg, t)
      } else if ((r.status >= 500 || r.status == 429) && attempt < maxRetries) {
        Thread.sleep(r.retryAfterMs.getOrElse(backoffMs * (1L << attempt)))
        attempt += 1
      } else throw new ODataHttpException(r.status, batchUrl, r.body)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Envelope decode, both dialects (reference `src/etl.py:89-93`):
    * v2: `{"d": {"results": [...], "__next": url}}`
    * v4: `{"value": [...], "@odata.nextLink": url}` (or `odata.nextLink`)
    * v2 minimal: `{"d": [...]}`
    * in that order of precedence, whatever the order of the keys (a
    * `__next` before its `results` included); anything else throws.
    *
    * One streaming pass of Jackson's `JsonParser` over the page, no
    * tree: of every row it builds only the `fields` its caller reads
    * (None = all of them) and skips every other value unbuilt — the
    * ByD `__metadata` object a narrow scan drops is never parsed into
    * nodes nor re-serialized. Values are what the tree decode gave:
    * strings as their text, explicit null as SQL null, other scalars
    * as `JsonNode.asText()` renders them (`1e10` → `1.0E10`, `-0` →
    * `0`), nested objects/arrays as their compact JSON text
    * (engine-semantics stringify, SURVEY §7.4.1); a duplicate key's
    * last value wins.
    *
    * `base` — the URL this page was fetched from. v2 servers in the
    * wild emit RELATIVE `__next` continuations (and v4 ones lawfully
    * may: OData v4 protocol §11.2.5.7 allows any valid URL); RFC 3986
    * resolution against the fetched URL follows both. An empty base
    * keeps the previous posture: a relative link fails loudly at URI
    * parse when followed.
    */
  def parsePage(body: String, base: String = "",
                fields: Option[Set[String]] = None): Page = {
    val p = mapper.getFactory.createParser(body)
    try new PageDecoder(p, fields).page(body, base)
    finally p.close()
  }

  /** The state of one [[parsePage]] pass. Every envelope candidate the
    * root holds is decoded as it streams by (a server sends one), and
    * the precedence picks among them once the root object has closed.
    */
  private final class PageDecoder(p: JsonParser, fields: Option[Set[String]]) {
    private type Rows = Seq[Map[String, String]]
    private var dResults: Option[Rows] = None // d.results, if d has it
    private var dNext: Option[String] = None
    private var dArray: Option[Rows] = None // d itself, if an array
    private var value: Option[Rows] = None
    private var links = Map.empty[String, String] // root-level annotations

    def page(body: String, base: String): Page = {
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val t = p.nextToken()
          name match {
            case "d" =>
              dResults = None; dNext = None; dArray = None
              if (t == JsonToken.START_ARRAY) dArray = Some(rows(t))
              else if (t == JsonToken.START_OBJECT)
                while (p.nextToken() == JsonToken.FIELD_NAME) {
                  val k = p.currentName()
                  val tk = p.nextToken()
                  k match {
                    case "results" => dResults = Some(rows(tk))
                    case "__next" => dNext = Some(asText(tk))
                    case _ => p.skipChildren()
                  }
                }
            case "value" => value = Some(rows(t))
            case "@odata.nextLink" | "odata.nextLink" |
                 "@odata.deltaLink" | "odata.deltaLink" =>
              links = links.updated(name, asText(t))
            case _ => p.skipChildren()
          }
        }
      val (results, next) =
        if (dResults.isDefined) (dResults.get, dNext)
        else if (value.isDefined)
          (value.get, links.get("@odata.nextLink").orElse(links.get("odata.nextLink")))
        else if (dArray.isDefined) (dArray.get, None)
        else throw new IllegalArgumentException(
          s"Unrecognized OData envelope: ${body.take(200)}")
      // v4 change tracking: the FINAL page of a tracked read (and of a
      // delta feed) carries @odata.deltaLink — the resumption token the
      // incremental-sync operator persists (ODataDelta)
      val delta = links.get("@odata.deltaLink").orElse(links.get("odata.deltaLink"))
      def abs(link: String): String = resolveLink(base, link)
      Page(results, next.filter(_.nonEmpty).map(abs), delta.filter(_.nonEmpty).map(abs))
    }

    /** The rows of a results value: an array's elements, an object's
      * values (the tree decode iterated both), none for a scalar. An
      * element that is not an object is a row with no fields.
      */
    private def rows(t: JsonToken): Rows = t match {
      case JsonToken.START_ARRAY =>
        val out = Vector.newBuilder[Map[String, String]]
        while (p.nextToken() != JsonToken.END_ARRAY) out += row(p.currentToken())
        out.result()
      case JsonToken.START_OBJECT =>
        // a repeated key keeps its first position and its last value,
        // as a tree's object node does
        val byKey = new java.util.LinkedHashMap[String, Map[String, String]]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val k = p.currentName()
          byKey.put(k, row(p.nextToken()))
        }
        byKey.values().asScala.toVector
      case _ => Vector.empty
    }

    private def row(t: JsonToken): Map[String, String] =
      if (t != JsonToken.START_OBJECT) { p.skipChildren(); Map.empty }
      else {
        val out = Map.newBuilder[String, String]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val k = p.currentName()
          val tv = p.nextToken()
          if (fields.forall(_.contains(k))) out += k -> cell(tv)
          else p.skipChildren()
        }
        out.result()
      }

    /** One cell's text: the tree decode's `asText()` for a scalar, SQL
      * null for JSON null, compact JSON text for a nested value.
      */
    private def cell(t: JsonToken): String = t match {
      case JsonToken.VALUE_STRING => p.getText
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        mapper.readTree[JsonNode](p).toString
      case _ => scalar(t)
    }

    /** A link annotation's text, as `asText()` of its node gave it. */
    private def asText(t: JsonToken): String = t match {
      case JsonToken.VALUE_STRING => p.getText
      case JsonToken.VALUE_NULL => "null"
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY => p.skipChildren(); ""
      case _ => scalar(t)
    }

    // numbers and booleans the way the tree's nodes print them: an
    // integer as the smallest of int/long/BigInteger that holds it, a
    // float as a double
    private def scalar(t: JsonToken): String = t match {
      case JsonToken.VALUE_TRUE => "true"
      case JsonToken.VALUE_FALSE => "false"
      case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
        case JsonParser.NumberType.INT => Integer.toString(p.getIntValue)
        case JsonParser.NumberType.LONG => java.lang.Long.toString(p.getLongValue)
        case _ => p.getBigIntegerValue.toString
      }
      case JsonToken.VALUE_NUMBER_FLOAT => java.lang.Double.toString(p.getDoubleValue)
      case _ => p.getText
    }
  }

  /** RFC 3986 resolution of a (possibly relative) continuation link
    * against the URL it was served from. An empty base keeps the link
    * verbatim — a relative one then fails loudly at fetch time.
    */
  def resolveLink(base: String, link: String): String =
    if (base.isEmpty || link.matches("(?i)^https?://.*")) link
    else new URI(base).resolve(link).toString

  /** Parse one JSON text (an expanded nav cell parsePage preserved as
    * its JSON text) — the connector's one shared Jackson instance.
    */
  def parseJson(s: String): JsonNode = mapper.readTree(s)

  /** One entity JsonNode → the same stringified cell map
    * [[parsePage]] builds for top-level rows (scalars via asText,
    * nested objects/arrays as their JSON text, nulls as null) — the
    * shared shape the nested-expand decode recurses on.
    */
  def nodeToMap(row: JsonNode): Map[String, String] =
    row.properties().asScala.map { e =>
      val v = e.getValue
      val s =
        if (v.isNull) null
        else if (v.isValueNode) v.asText()
        else v.toString
      e.getKey -> s
    }.toMap

  /** The probe's 404 discriminator (reference `src/etl.py:95-97`):
    * a body mentioning `segment '<name>'` means "column absent". */
  private val SegmentRe = "segment '([^']+)'".r
  def missingSegment(body: String): Option[String] =
    SegmentRe.findFirstMatchIn(body).map(_.group(1))
}
