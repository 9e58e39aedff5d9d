package graft.sources.odata.testkit

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** One navigation property the stub can `$expand`: child rows joined
  * to a parent row by `parentKeyField` = `childKeyField`; `collection`
  * controls the JSON shape (array — v2-wrapped in `{"results": ...}`
  * — vs a single object, null when no child matches).
  */
case class StubNav(collection: Boolean, parentKeyField: String,
                   childKeyField: String, rows: Seq[Map[String, String]])

/** In-process OData stub (JDK HttpServer, no deps, no egress) shaped
  * like the SAP ByD service the reference talks to (FIXTURES.md A1):
  * v2/v4 envelopes, `$select`/`$filter`(eq)/`$top`, server-driven
  * pagination, probe-404 with `segment '<name>'` body, Basic auth,
  * per-value failure injection.
  */
class ODataStubServer(
    rows: Seq[Map[String, String]],
    structureField: String,
    badCandidates: Set[String] = Set("COCHAR_STRUCTURE"),
    serverPageSize: Int = 1000,
    dialect: String = "v2",              // "v2" | "v4"
    requireAuth: Option[(String, String)] = None,
    failValues: Set[String] = Set.empty,
    transientFailures: Int = 0,    // first N data requests 503, then succeed
    rateLimitFirst: Int = 0,       // first N data requests 429 + Retry-After, then succeed
    extraServedFields: Seq[String] = Nil, // served on EVERY row regardless of $select
                                          // (real ByD tenants spill __metadata this way)
    rawJsonFields: Set[String] = Set.empty, // row values emitted as raw JSON, not strings
    // v4 change tracking: batch i of (changed rows, removed keys) is
    // served at $deltatoken=i; the tracked initial read's final page
    // carries a deltaLink at token 0, batch i links to token i+1, and
    // a token past the last batch answers an empty delta (stable link)
    deltaBatches: Seq[(Seq[Map[String, String]], Seq[String])] = Nil,
    deltaKeyField: String = "",
    // fault injection: /$count answers size + bias — simulates rows
    // inserted/removed between the count and the range fetches (the
    // skip-range snapshot-drift window)
    countBias: Int = 0,
    // navigation properties servable via $expand (strict: expanding an
    // undeclared nav is a 400, as a lawful server rejects it). Nav
    // values are served ONLY when the request carries $expand — never
    // spilled — and projected by the nested $select (v4) or the
    // parent's Nav/Field path selects (v2 conventions).
    navProps: Map[String, StubNav] = Map.empty,
    // SERVER-PAGE expanded collections past this size: the inline cell
    // carries only the first page and a continuation — a v4 sibling
    // `Nav@odata.nextLink` annotation (OData v4 protocol §11.2.4.2) or
    // a v2 `__next` inside the nested results envelope. The
    // continuation URL answers a standard collection payload, itself
    // paged. This is the fixture for the one silent-truncation hole a
    // lenient stub would mask: a client ignoring the continuation
    // reads "successfully" with every large collection's tail gone.
    navPageSize: Int = Int.MaxValue,
    // serve this EDMX document at {path}/$metadata (the typed-schema
    // mode's discovery surface); None = 404, like a ByD tenant that
    // gates $metadata — the probe fallback's reason to exist
    metadataDoc: Option[String] = None,
    // additional top-level entity sets, keyed by the URL's last path
    // segment (a real service hosts many sets in one container — what
    // the expand-as-join strategy scans as plain child entities); any
    // unknown segment falls through to the primary `rows`
    extraEntities: Map[String, Seq[Map[String, String]]] = Map.empty,
    // fault injection: every data request addressing one of these
    // entity sets answers 500 permanently — the poisoned-child fixture
    // for expand-as-join's fail-fast contract (a tolerant child scan
    // would read "successfully" with every association silently empty)
    failEntities: Set[String] = Set.empty,
    // emit RELATIVE continuation URLs (path-absolute `/svc/Entity?…`
    // form) instead of absolute ones — the shape real v2 tenants emit
    // in `__next` and v4 lawfully may (protocol §11.2.5.7); a client
    // must RFC-3986-resolve these against the fetched URL
    relativeNextLinks: Boolean = false,
    // serve gzip-compressed bodies — but ONLY when the request offered
    // Accept-Encoding: gzip (the lawful content-negotiation contract;
    // a stub that gzips unconditionally would mask a client that
    // forgot to offer)
    gzipResponses: Boolean = false,
    // OAuth2 client-credentials: when set, /token exchanges these
    // (clientId, clientSecret) for a bearer token and every DATA
    // request must carry a LIVE one — each token answers at most
    // tokenValidRequests requests, then 401s (forcing the client's
    // transparent re-auth); wrong creds 401 at the token endpoint
    oauthCreds: Option[(String, String)] = None,
    tokenValidRequests: Int = Int.MaxValue,
    // fault injection: first N token grants answer 503 (transient)
    tokenTransientFailures: Int = 0) {

  private val tokenTransientLeft =
    new java.util.concurrent.atomic.AtomicInteger(tokenTransientFailures)

  /** How many responses actually went out gzip-compressed. */
  val gzipServed = new java.util.concurrent.atomic.AtomicInteger(0)

  /** How many token grants the /token endpoint issued. */
  val tokensIssued = new java.util.concurrent.atomic.AtomicInteger(0)

  // the defining query's projection, captured when a tracked read is
  // issued its deltaLink: per OData v4 §11.3 delta responses carry AT
  // MOST the properties of the initial request, so $deltatoken
  // responses project change entries to THIS select — a client that
  // tracked a narrow read gets narrow deltas (the lawful behavior a
  // lenient stub would mask)
  @volatile private var definingSelect: Option[Seq[String]] = None
  // live tokens → remaining request budget
  private val liveTokens =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicInteger]

  private val transientLeft = new java.util.concurrent.atomic.AtomicInteger(transientFailures)
  private val rateLimitLeft = new java.util.concurrent.atomic.AtomicInteger(rateLimitFirst)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // every inbound request URI, in arrival order. Handlers run on a
  // thread pool, so the append is a locked read-modify-write: a plain
  // `:+=` on a volatile field loses entries under concurrent chains.
  private var uris: Vector[String] = Vector.empty
  def requestLog: Vector[String] = synchronized(uris)
  def requestLog_=(v: Vector[String]): Unit = synchronized { uris = v }

  /** CLIENT round-trips: every inbound request except the stub's own
    * `$batch` loopback dispatches — what the batch-control-plane spec
    * pins (bundled probes must collapse the count).
    */
  val clientRequests = new java.util.concurrent.atomic.AtomicInteger(0)

  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  // properties the stub's OWN $metadata declares with a numeric Edm
  // type — the $apply min/max compare domain (see aggCell). A stub
  // without a metadata document serves an all-string entity and
  // compares everything lexicographically, like the v2 tenant the
  // reference talks to.
  private lazy val numericTypedFields: Set[String] =
    metadataDoc.toSeq.flatMap { doc =>
      graft.sources.odata.ODataMetadata.parseModel(doc).types.values
        .flatMap(_.props.values)
        .filter(p => Set("Edm.SByte", "Edm.Byte", "Edm.Int16", "Edm.Int32",
          "Edm.Int64", "Edm.Single", "Edm.Double", "Edm.Decimal")
          .contains(p.edmType))
        .map(_.name)
    }.toSet

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val plain = body.getBytes(StandardCharsets.UTF_8)
    val offered = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))
    val bytes =
      if (gzipResponses && offered) {
        gzipServed.incrementAndGet()
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(plain); gz.close()
        bos.toByteArray
      } else plain
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** One node of a parsed `$expand` request tree: the nav, its
    * projection (None = every child field), and NESTED expansions
    * (v4 `Nav($select=…;$expand=Child(…))` / v2 `Nav,Nav/Child`
    * path entries).
    */
  private case class NavReq(nav: String, sel: Option[Seq[String]],
                            children: Seq[NavReq] = Nil)

  private def splitDepth0(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if c == sep && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** v4 `$expand` grammar: comma-separated entries, each `Nav` or
    * `Nav(<options>)` with semicolon-separated nested `$select` /
    * `$expand` options — recursive, strict (an unknown option 500s).
    */
  private def parseV4ExpandEntries(s: String): Seq[NavReq] =
    splitDepth0(s, ',').map { ent =>
      if (ent.matches("[A-Za-z_][A-Za-z0-9_]*")) NavReq(ent, None)
      else {
        val open = ent.indexOf('(')
        require(open > 0 && ent.endsWith(")"), s"bad expand entry: $ent")
        val nav = ent.substring(0, open)
        require(nav.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad expand entry: $ent")
        var sel: Option[Seq[String]] = None
        var children: Seq[NavReq] = Nil
        splitDepth0(ent.substring(open + 1, ent.length - 1), ';').foreach { opt =>
          if (opt.startsWith("$select="))
            sel = Some(opt.stripPrefix("$select=").split(",").map(_.trim).toSeq)
          else if (opt.startsWith("$expand="))
            children = parseV4ExpandEntries(opt.stripPrefix("$expand="))
          else throw new IllegalArgumentException(s"bad expand option: $opt")
        }
        NavReq(nav, sel, children)
      }
    }

  /** v2 `$expand` path entries (`Items,Items/Product`) merged into a
    * tree; projections come from the parent `$select`'s slash paths
    * (`Items/F`, `Items/Product/G`), matched by full path prefix.
    */
  private def parseV2ExpandPaths(paths: Seq[Seq[String]],
                                 selPaths: Seq[Seq[String]],
                                 at: Seq[String]): Seq[NavReq] =
    paths.filter(_.nonEmpty).groupBy(_.head).toSeq.sortBy(_._1).map {
      case (nav, subs) =>
        val here = at :+ nav
        val sel = selPaths.filter(p => p.init == here).map(_.last)
        NavReq(nav, if (sel.nonEmpty) Some(sel) else None,
          parseV2ExpandPaths(subs.map(_.tail), selPaths, here))
    }

  /** Back to the v4 grammar — what a continuation URL carries so a
    * nested projection survives the page boundary.
    */
  private def renderReq(r: NavReq): String = {
    val opts = r.sel.map(s => "$select=" + s.mkString(",")).toSeq ++
      (if (r.children.nonEmpty)
         Seq("$expand=" + r.children.map(renderReq).mkString(","))
       else Nil)
    if (opts.isEmpty) r.nav else s"${r.nav}(${opts.mkString(";")})"
  }

  /** Continuation URL for a server-paged expanded collection — carries
    * everything the stateless stub needs to serve the next page:
    * which nav, which parent, the (possibly nested) projection, and
    * the offset.
    */
  private def navContUrl(req: NavReq, parentKey: String, skip: Int): String =
    (if (relativeNextLinks) "/navcont?" else s"$url/navcont?") + (Seq(
      "$navname" -> req.nav, "$navparent" -> parentKey,
      "$navskip" -> skip.toString,
      "$navsel" -> req.sel.map(_.mkString(",")).getOrElse("")) ++
      (if (req.children.nonEmpty)
         Seq("$navexp" -> req.children.map(renderReq).mkString(","))
       else Nil))
      .map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" +
          java.net.URLEncoder.encode(v, "UTF-8") }
      .mkString("&")

  // child rows indexed by their key field, once per nav — the nested
  // expand walk would otherwise linear-scan the child table per
  // parent row (quadratic in the fixture size, and a bench phantom:
  // the stub's cost is not the connector's)
  private lazy val navIndex: Map[String, Map[String, Seq[Map[String, String]]]] =
    navProps.map { case (n, nd) =>
      n -> nd.rows.groupBy(_.get(nd.childKeyField).orNull)
        .collect { case (k, rs) if k != null => k -> rs }
    }

  /** One expanded entity as JSON: the projected scalar fields plus —
    * RECURSIVELY — each nested expansion's cell (and, when that
    * nested collection pages, its sibling `@odata.nextLink`
    * annotation, exactly like a first-level nav's).
    */
  private def navEntityJson(r: Map[String, String], req: NavReq): String = {
    val nd = navProps(req.nav)
    val sel = req.sel.getOrElse(nd.rows.flatMap(_.keys).distinct)
    val scalars = sel.flatMap(f => r.get(f).map(v =>
      s"${jsonStr(f)}: ${if (v == null) "null" else jsonStr(v)}"))
    val children = req.children.flatMap { c =>
      val (cell, cont) = navJson(c, r)
      Seq(s"${jsonStr(c.nav)}: ${if (cell == null) "null" else cell}") ++
        cont.map(u => s"${jsonStr(c.nav + "@odata.nextLink")}: ${jsonStr(u)}")
    }
    (scalars ++ children).mkString("{", ", ", "}")
  }

  /** Expanded nav cell for one parent row — shape per declared
    * cardinality and dialect; a collection past navPageSize is
    * truncated to its first page plus a continuation (v2: nested
    * __next; v4: the SIBLING annotation returned as the second tuple
    * element for the row to carry). The continuation URL carries the
    * nested projection (renderReq), so deeper expansions survive the
    * page boundary.
    */
  private def navJson(req: NavReq, parent: Map[String, String])
      : (String, Option[String]) = {
    val nd = navProps(req.nav)
    val kids = parent.get(nd.parentKeyField).flatMap(Option(_))
      .flatMap(navIndex(req.nav).get).getOrElse(Nil)
    if (nd.collection) {
      val cont =
        if (kids.size > navPageSize)
          Some(navContUrl(req, parent(nd.parentKeyField), navPageSize))
        else None
      val arr = kids.take(navPageSize).map(navEntityJson(_, req))
        .mkString("[", ", ", "]")
      if (dialect == "v2") {
        val nxt = cont.map(u => s""", "__next": ${jsonStr(u)}""").getOrElse("")
        (s"""{"results": $arr$nxt}""", None)
      } else (arr, cont)
    } else (kids.headOption.map(navEntityJson(_, req)).orNull, None)
  }

  /** Resolve a filter key against a row: a plain property, or a
    * `Nav/Field` path through a declared SINGLE-VALUED nav (what the
    * connector's nav-path eq pushdown sends; a lawful server evaluates
    * the path without requiring the nav to be `$expand`ed).
    */
  private def resolveKey(r: Map[String, String], k: String): Option[String] =
    if (!k.contains("/")) r.get(k)
    else k.split("/", 2) match {
      case Array(nav, f) => navProps.get(nav) match {
        case Some(nd) if !nd.collection =>
          nd.rows.find(c => r.get(nd.parentKeyField).exists(pk =>
            c.get(nd.childKeyField).contains(pk))).flatMap(_.get(f))
        case _ => throw new IllegalArgumentException(s"bad filter path: $k")
      }
      case _ => throw new IllegalArgumentException(s"bad filter path: $k")
    }

  /** One filter condition — the full boolean grammar a lawful server
    * evaluates: comparisons (`eq ne gt ge lt le`), `X ne null`, string
    * functions (v4 `startswith/endswith/contains`; v2 `substringof`
    * with REVERSED args), and arbitrarily nested parenthesized
    * `and`/`or` combinations. Strict by design: an unknown operator,
    * a v4 `substringof`, a v2 `contains`, or trailing garbage throws
    * (→ the 400/500 a sloppy request deserves). Returns the row
    * predicate plus the eq values it mentions (for the per-value
    * failure injection).
    *
    * Null semantics follow OData v4.01 URL Conventions §5.1.1.1:
    * `eq` matches null only to null, `ne` is TRUE for a null cell
    * against any literal, ordering comparisons with a null operand
    * are false, and functions over a null cell are not-true. The
    * compare domain follows the stub's OWN `$metadata` Edm types
    * (numeric for declared numeric properties, lexicographic
    * otherwise — ISO date/datetimeoffset strings order correctly
    * lexicographically), the same typed-compare rule `aggCell` uses.
    */
  private def parseCondition(c0: String): (Map[String, String] => Boolean, Seq[String]) = {
    val s = c0.trim
    var i = 0
    val eqVals = scala.collection.mutable.ArrayBuffer.empty[String]
    def ws(): Unit = while (i < s.length && s.charAt(i) == ' ') i += 1
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"bad filter: $msg in '$s' at $i")
    def word(w: String): Boolean = {
      ws()
      if (s.regionMatches(i, w, 0, w.length) &&
        (i + w.length == s.length || !s.charAt(i + w.length).isLetterOrDigit)) {
        i += w.length; true
      } else false
    }
    def quoted(): String = {
      if (s.charAt(i) != '\'') fail("expected quoted literal")
      i += 1
      val sb = new StringBuilder
      while (i < s.length) {
        if (s.charAt(i) == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { sb += '\''; i += 2 }
          else { i += 1; return sb.toString }
        } else { sb += s.charAt(i); i += 1 }
      }
      fail("unterminated string literal")
    }
    def bare(): String = {
      val start = i
      while (i < s.length && s.charAt(i) != ' ' && s.charAt(i) != ')' &&
        s.charAt(i) != ',') i += 1
      if (i == start) fail("expected token")
      s.substring(start, i)
    }
    // a literal: quoted string, v2 datetimeoffset'…', v2 42L, or bare
    def literal(): (String, Boolean) = { // (value, isNullLiteral)
      ws()
      if (s.charAt(i) == '\'') (quoted(), false)
      else if (s.regionMatches(i, "datetimeoffset'", 0, 15)) {
        i += 14; (quoted(), false)
      } else {
        val t = bare()
        if (t == "null") (null, true)
        else if (t.matches("-?\\d+L")) (t.stripSuffix("L"), false)
        else (t, false)
      }
    }
    def typedCmp(key: String, cell: String, lit: String): Int =
      if (numericTypedFields.contains(key.split("/").last))
        BigDecimal(cell).compare(BigDecimal(lit))
      else cell.compareTo(lit)
    def leaf(): Map[String, String] => Boolean = {
      ws()
      val fns = Seq("startswith", "endswith", "contains", "substringof")
      fns.find(f => s.regionMatches(i, f + "(", 0, f.length + 1)) match {
        case Some(fn) =>
          if (fn == "contains" && dialect == "v2") fail("v2 has no contains")
          if (fn == "substringof" && dialect != "v2") fail("substringof is v2")
          i += fn.length + 1
          // substringof('x',K) reverses the (key, literal) order
          val (key, lit) =
            if (fn == "substringof") { val l = quoted(); ws()
              if (s.charAt(i) != ',') fail("expected ','"); i += 1; ws()
              (bare(), l) }
            else { val k = bare(); ws()
              if (s.charAt(i) != ',') fail("expected ','"); i += 1; ws()
              (k, quoted()) }
          ws(); if (i >= s.length || s.charAt(i) != ')') fail("expected ')'")
          i += 1
          (r: Map[String, String]) => resolveKey(r, key) match {
            case Some(c) if c != null => fn match {
              case "startswith" => c.startsWith(lit)
              case "endswith" => c.endsWith(lit)
              case _ => c.contains(lit) // contains | substringof
            }
            case _ => false
          }
        case None =>
          val key = bare(); ws()
          val op = bare(); ws()
          val (lit, isNull) = literal()
          op match {
            case "eq" =>
              if (isNull) (r: Map[String, String]) =>
                resolveKey(r, key).forall(_ == null)
              else {
                eqVals += lit
                (r: Map[String, String]) => resolveKey(r, key).contains(lit)
              }
            case "ne" =>
              if (isNull) (r: Map[String, String]) =>
                resolveKey(r, key).exists(_ != null)
              else (r: Map[String, String]) => resolveKey(r, key) match {
                case Some(c) if c != null => c != lit
                case _ => true // v4.01: null is not equal to any value
              }
            case "gt" | "ge" | "lt" | "le" =>
              if (isNull) fail("ordering comparison with null literal")
              else (r: Map[String, String]) => resolveKey(r, key) match {
                case Some(c) if c != null =>
                  val d = typedCmp(key, c, lit)
                  op match {
                    case "gt" => d > 0; case "ge" => d >= 0
                    case "lt" => d < 0; case _ => d <= 0
                  }
                case _ => false
              }
            case other => fail(s"unknown operator '$other'")
          }
      }
    }
    def atom(): Map[String, String] => Boolean = {
      ws()
      if (i < s.length && s.charAt(i) == '(') {
        i += 1
        val e = orExpr()
        ws(); if (i >= s.length || s.charAt(i) != ')') fail("expected ')'")
        i += 1; e
      } else leaf()
    }
    def andExpr(): Map[String, String] => Boolean = {
      var e = atom()
      while (word("and")) { val l = e; val r0 = atom()
        e = (r: Map[String, String]) => l(r) && r0(r) }
      e
    }
    def orExpr(): Map[String, String] => Boolean = {
      var e = andExpr()
      while (word("or")) { val l = e; val r0 = andExpr()
        e = (r: Map[String, String]) => l(r) || r0(r) }
      e
    }
    val root = orExpr()
    ws(); if (i != s.length) fail("trailing input")
    (root, eqVals.toSeq)
  }

  private def parseQuery(q: String): Map[String, String] =
    if (q == null || q.isEmpty) Map.empty
    else q.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  server.createContext("/", (ex: HttpExchange) => {
    try handle(ex)
    catch { case e: Exception => respond(ex, 500, s"""{"error": "${e.getMessage}"}""") }
  })

  private def handle(ex: HttpExchange): Unit = {
    val q = parseQuery(ex.getRequestURI.getRawQuery)
    synchronized { uris :+= ex.getRequestURI.toString }
    if (ex.getRequestHeaders.getFirst("X-Graft-Loopback") == null)
      clientRequests.incrementAndGet()

    // OData v4.01 JSON $batch: dispatch each sub-request back through
    // this same server via loopback GETs (header-marked so they do not
    // count as client round-trips) and bundle the answers — the
    // control-plane transport the connector's batchControlPlane rides
    if (ex.getRequestURI.getPath.endsWith("/$batch") &&
        ex.getRequestMethod == "POST") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(new String(
        ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val reqs = Option(node.get("requests")).getOrElse(
        throw new IllegalArgumentException("$batch body lacks 'requests'"))
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val parts = reqs.elements().asScala.map { rn =>
        require(rn.get("method").asText() == "GET",
          s"stub \\$$batch supports GET only: ${rn.toString.take(100)}")
        val id = rn.get("id").asText()
        val u = rn.get("url").asText()
        val conn = new java.net.URI(u).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val (st, body) = try {
          conn.setRequestMethod("GET")
          conn.setRequestProperty("Accept", "application/json")
          conn.setRequestProperty("X-Graft-Loopback", "1")
          auth.foreach(conn.setRequestProperty("Authorization", _))
          val s = conn.getResponseCode
          val is = if (s >= 400) conn.getErrorStream else conn.getInputStream
          (s, if (is == null) "null"
              else new String(is.readAllBytes(), StandardCharsets.UTF_8))
        } finally conn.disconnect()
        // body rides inline as JSON (it IS json from this stub)
        s"""{"id": ${jsonStr(id)}, "status": $st, "body": ${if (body.isEmpty) "null" else body}}"""
      }.mkString(", ")
      respond(ex, 200, s"""{"responses": [$parts]}""")
      return
    }

    // OAuth token endpoint: POST form client-credentials grant
    if (oauthCreds.isDefined && ex.getRequestURI.getPath.endsWith("/token")) {
      if (tokenTransientLeft.getAndDecrement() > 0) {
        respond(ex, 503, """{"error": "token endpoint transient"}"""); return
      }
      val form = parseQuery(new String(
        ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val ok = ex.getRequestMethod == "POST" &&
        form.get("grant_type").contains("client_credentials") &&
        oauthCreds.contains((form.getOrElse("client_id", ""),
          form.getOrElse("client_secret", "")))
      if (!ok) { respond(ex, 401, """{"error": "invalid_client"}"""); return }
      val tok = s"tok-${tokensIssued.incrementAndGet()}"
      liveTokens.put(tok,
        new java.util.concurrent.atomic.AtomicInteger(tokenValidRequests))
      respond(ex, 200, s"""{"access_token": "$tok", "expires_in": 3600}""")
      return
    }
    // OAuth-protected data: a live bearer token with budget, or 401
    for (_ <- oauthCreds) {
      val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
      val live = bearer.flatMap(liveTokens.get)
        .exists(_.getAndDecrement() > 0)
      if (!live) {
        respond(ex, 401, """{"error": "invalid_token"}"""); return
      }
    }

    for ((u, p) <- requireAuth) {
      val expect = "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8))
      if (ex.getRequestHeaders.getFirst("Authorization") != expect) {
        respond(ex, 401, """{"error": "unauthorized"}"""); return
      }
    }

    // EDMX service document (typed-schema discovery)
    if (ex.getRequestURI.getPath.endsWith("/$metadata")) {
      metadataDoc match {
        case Some(doc) =>
          val bytes = doc.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/xml")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        case None =>
          respond(ex, 404, """{"error": {"message": "$metadata is not exposed"}}""")
      }
      return
    }

    // continuation page of a server-paged expanded collection: a
    // standard (dialect-shaped) collection payload of the remaining
    // child rows, itself paged by navPageSize
    q.get("$navname") match {
      case Some(n) =>
        val nd = navProps(n)
        val parentKey = q("$navparent")
        val sel = q.get("$navsel")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
        val children = q.get("$navexp").map(parseV4ExpandEntries).getOrElse(Nil)
        val req = NavReq(n, sel, children)
        val skip = q.get("$navskip").map(_.toInt).getOrElse(0)
        val kids = navIndex(n).getOrElse(parentKey, Nil)
        val pageRows = kids.slice(skip, skip + navPageSize)
        val cont =
          if (skip + navPageSize < kids.size)
            Some(navContUrl(req, parentKey, skip + navPageSize))
          else None
        val arr = pageRows.map(navEntityJson(_, req)).mkString("[", ", ", "]")
        val body = dialect match {
          case "v2" =>
            val nxt = cont.map(u => s""", "__next": ${jsonStr(u)}""").getOrElse("")
            s"""{"d": {"results": $arr$nxt}}"""
          case _ =>
            val nxt = cont.map(u => s""", "@odata.nextLink": ${jsonStr(u)}""").getOrElse("")
            s"""{"value": $arr$nxt}"""
        }
        respond(ex, 200, body)
        return
      case None =>
    }

    // dispatch to the addressed entity set (extraEntities) or fall
    // through to the primary rows
    val entitySeg = ex.getRequestURI.getPath.stripSuffix("/$count")
      .split('/').lastOption.getOrElse("")
    if (failEntities.contains(entitySeg)) {
      respond(ex, 500, """{"error": "injected entity failure"}"""); return
    }
    val entityRows = extraEntities.getOrElse(entitySeg, rows)

    val select0 = q.get("$select").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(entityRows.headOption.map(_.keys.toSeq).getOrElse(Nil))
    // v2 conventions project expanded navs via PARENT $select paths
    // (Nav/Field, Nav/Child/Field); split them off the scalar
    // projection and keep the FULL segment paths for tree matching
    val (pathSel, select) = select0.partition(_.contains("/"))
    val selPaths: Seq[Seq[String]] = pathSel.map(_.split("/").toSeq)

    // $expand: v4 nested-options entries or v2 slash paths — both
    // parse into the same recursive NavReq tree
    val expandEntries: Seq[NavReq] =
      q.get("$expand").map { raw =>
        if (raw.contains("("))
          parseV4ExpandEntries(raw).map { r =>
            // v4 may still project a nav via parent paths (mixed
            // styles are lawful); fall back to them when the entry
            // carries no nested $select
            if (r.sel.isEmpty) {
              val sel = selPaths.filter(p => p.length == 2 && p.head == r.nav)
                .map(_.last)
              if (sel.nonEmpty) r.copy(sel = Some(sel)) else r
            } else r
          }
        else {
          val paths = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          paths.foreach(p => require(
            p.matches("[A-Za-z_][A-Za-z0-9_]*(/[A-Za-z_][A-Za-z0-9_]*)*"),
            s"bad expand entry: $p"))
          parseV2ExpandPaths(paths.map(_.split("/").toSeq), selPaths, Nil)
        }
      }.getOrElse(Nil)
    // strict: a lawful server 400s an unknown navigation property —
    // at ANY nesting depth; silently ignoring it would mask a
    // connector rendering bug
    def allNavs(rs: Seq[NavReq]): Seq[String] =
      rs.flatMap(r => r.nav +: allNavs(r.children))
    allNavs(expandEntries).find(!navProps.contains(_)) match {
      case Some(bad) =>
        respond(ex, 400, s"""{"error": {"message": "Could not find a property named '$bad'"}}""")
        return
      case None =>
    }

    // probe-404 for configured bad candidates (etl.py:95-97 shape)
    select.find(badCandidates.contains) match {
      case Some(bad) =>
        respond(ex, 404,
          s"""{"error": {"message": "Resource not found for the segment '$bad'"}}""")
        return
      case None =>
    }

    // $filter: one full boolean expression (parseCondition — the
    // whole grammar: comparisons, functions, nested and/or)
    val filtered = q.get("$filter") match {
      case None => entityRows
      case Some(f) =>
        val (pred, eqVals) = parseCondition(f)
        if (eqVals.exists(failValues.contains)) {
          respond(ex, 500, """{"error": "injected failure"}"""); return
        }
        if (transientLeft.getAndDecrement() > 0) {
          respond(ex, 503, """{"error": "transient"}"""); return
        }
        if (rateLimitLeft.getAndDecrement() > 0) {
          ex.getResponseHeaders.set("Retry-After", "0")
          respond(ex, 429, """{"error": "rate limited"}"""); return
        }
        entityRows.filter(pred)
    }

    // v4 change tracking: a $deltatoken request serves that batch's
    // upserts + @removed entries and links to the NEXT token; past
    // the last batch, an empty delta with a stable link
    q.get("$deltatoken") match {
      case Some(tok) if deltaBatches.nonEmpty =>
        val i = tok.toInt
        val (chg, rem) =
          if (i < deltaBatches.length) deltaBatches(i) else (Nil, Nil)
        val remRows = rem.map(k => Map(
          "@removed" -> """{"reason": "deleted"}""", deltaKeyField -> k))
        // delta entries carry AT MOST the defining query's projection
        // (plus the key and the @removed marker) — v4 §11.3
        val data = (chg ++ remRows).map { e =>
          definingSelect.fold(e)(sel => e.filter { case (k, _) =>
            sel.contains(k) || k == deltaKeyField || k == "@removed" })
        }
        val dFields = data.flatMap(_.keys).distinct
        val nextTok = math.min(i + 1, deltaBatches.length)
        emitPage(ex, q, ex.getRequestURI.getPath, data, dFields,
          rawJsonFields + "@removed",
          deltaLink = Some(s"$url${ex.getRequestURI.getPath}?" +
            java.net.URLEncoder.encode("$deltatoken", "UTF-8") + s"=$nextTok"))
        return
      case _ =>
    }

    // /$count endpoint: the FILTERED cardinality as plain text (what
    // skip-range planning asks for)
    if (ex.getRequestURI.getPath.endsWith("/$count")) {
      val bytes = (filtered.size + countBias).toString.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
      return
    }

    // OData V4 `$apply` (the aggregate-pushdown surface):
    //   [filter(<conds>)/] aggregate(<specs>) |
    //   [filter(<conds>)/] groupby((C1,..)[,aggregate(<specs>)])
    // where <conds> is an `and`-conjunction of `C eq 'v'` (with ''
    // unescape) and `C ne null` — the pre-aggregation filter prefix
    // the fullyPushFilters + count(col) pushes compose.
    // spec: `$count as a` | `C with min|max|countdistinct as a`.
    // Counts emit as raw JSON numbers (per the OData spec), everything
    // else as strings.
    q.get("$apply") match {
      case Some(apply0) =>
        val (applyRows, applyExpr) =
          // greedy (.*) binds to the LAST `)/` before the aggregation
          // step, so eq values containing `)` stay inside the conds
          "^filter\\((.*)\\)/((?:groupby|aggregate).*)$".r.findFirstMatchIn(apply0) match {
            case Some(m) =>
              val (pred, _) = parseCondition(m.group(1))
              (filtered.filter(pred), m.group(2))
            case None => (filtered, apply0)
          }
        val (groupCols, aggExpr) =
          "^groupby\\(\\(([^)]*)\\),(aggregate\\(.*\\))\\)$".r.findFirstMatchIn(applyExpr) match {
            case Some(m) => (m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq, m.group(2))
            case None =>
              // bare groupby((C1,..)) — distinct group keys, no aggregates
              "^groupby\\(\\(([^)]*)\\)\\)$".r.findFirstMatchIn(applyExpr) match {
                case Some(m) =>
                  (m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq, "aggregate()")
                case None => (Nil, applyExpr)
              }
          }
        val specs = "^aggregate\\((.*)\\)$".r.findFirstMatchIn(aggExpr)
          .getOrElse(throw new IllegalArgumentException(s"bad \\$$apply: $apply0"))
          .group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        def aggCell(group: Seq[Map[String, String]], spec: String): (String, String, Boolean) =
          spec match {
            case s if s.startsWith("$count as ") =>
              (s.stripPrefix("$count as "), group.size.toString, true)
            case _ =>
              val m = "^(\\S+) with (min|max|countdistinct) as (\\w+)$".r
                .findFirstMatchIn(spec)
                .getOrElse(throw new IllegalArgumentException(s"bad aggregate spec: $spec"))
              val vals = group.flatMap(_.get(m.group(1))).filter(_ != null)
              // a real server compares per the property's EDM TYPE: a
              // property its own $metadata declares numeric compares
              // numerically (lexicographic "9" > "10" would be a wrong
              // server), everything else — Edm.String, and dates whose
              // ISO text orders chronologically anyway — compares
              // lexicographically (binary collation, matching Spark)
              val ord: Ordering[String] =
                if (numericTypedFields.contains(m.group(1)))
                  Ordering.by((v: String) => BigDecimal(v))
                else Ordering.String
              m.group(2) match {
                case "countdistinct" => (m.group(3), vals.distinct.size.toString, true)
                case "min" => (m.group(3), if (vals.isEmpty) null else vals.min(ord), false)
                case "max" => (m.group(3), if (vals.isEmpty) null else vals.max(ord), false)
              }
          }
        val groups: Seq[(Seq[Option[String]], Seq[Map[String, String]])] =
          if (groupCols.isEmpty) Seq(Nil -> applyRows)
          else applyRows.groupBy(r => groupCols.map(r.get)).toSeq.sortBy(_._1.toString)
        val countAliases = scala.collection.mutable.Set.empty[String]
        val aggRows = groups.map { case (keys, grp) =>
          val cells = specs.map(aggCell(grp, _))
          cells.foreach { case (a, _, isCount) => if (isCount) countAliases += a }
          (groupCols.zip(keys).collect { case (c, Some(v)) => c -> v } ++
            cells.collect { case (a, v, _) if v != null => a -> v }).toMap
        }
        emitPage(ex, q, ex.getRequestURI.getPath, aggRows,
          groupCols ++ specs.map(s => aggCell(Nil, s)._1), countAliases.toSet)
        return
      case None =>
    }

    // $orderby: comma-separated `field asc|desc`, applied before $top —
    // Java String ordering (binary for ASCII), matching Spark's. A key
    // may be a nav PATH `Nav/Field` on a declared SINGLE-VALUED nav
    // (OData path syntax); anything else — `.`-joined pseudo-paths, an
    // undeclared nav, a collection nav — 400s, as a lawful server
    // rejects an unknown property path rather than silently ignoring
    // it (silently ignoring + $top = truncation under the wrong order,
    // the exact client bug this strictness exists to catch).
    val ordered = q.get("$orderby") match {
      case None => filtered
      case Some(ob) =>
        val keys = ob.split(",").toSeq.map { part =>
          part.trim.split("\\s+") match {
            case Array(f) => (f, true)
            case Array(f, dir) => (f, dir.equalsIgnoreCase("asc"))
            case _ => throw new IllegalArgumentException(s"bad orderby: $part")
          }
        }
        keys.map(_._1).find { f =>
          f.contains(".") || (f.contains("/") &&
            !f.split("/", 2).headOption.exists(n =>
              navProps.get(n).exists(!_.collection)))
        } match {
          case Some(bad) =>
            respond(ex, 400,
              s"""{"error": {"message": "Could not find a property named '$bad'"}}""")
            return
          case None =>
        }
        def cellOf(row: Map[String, String], f: String): Option[String] =
          if (f.contains("/")) {
            val Array(nav, sub) = f.split("/", 2)
            val nd = navProps(nav)
            nd.rows.find(r => row.get(nd.parentKeyField).exists(pk =>
              r.get(nd.childKeyField).contains(pk))).flatMap(_.get(sub))
          } else row.get(f)
        filtered.sortWith { (a, b) =>
          keys.iterator.map { case (f, asc) =>
            val cmp = Ordering.Option[String].compare(cellOf(a, f), cellOf(b, f))
            if (asc) cmp else -cmp
          }.find(_ != 0).getOrElse(0) < 0
        }
    }

    val expandNames = expandEntries.map(_.nav)
    val withNav =
      if (expandEntries.isEmpty) ordered
      else ordered.map { r =>
        r ++ expandEntries.flatMap { req =>
          val (cell, cont) = navJson(req, r)
          Seq(req.nav -> cell) ++
            cont.map(u => s"${req.nav}@odata.nextLink" -> u)
        }
      }

    // a TRACKED read closes with the first delta link — but only when
    // the client actually stated the preference (the v4 contract: no
    // `Prefer: odata.track-changes`, no deltaLink)
    val trackRequested = Option(ex.getRequestHeaders.getFirst("Prefer"))
      .exists(_.contains("odata.track-changes"))
    if (trackRequested && deltaBatches.nonEmpty)
      // capture the DEFINING QUERY's projection: every later delta
      // round is served at most these properties (v4 §11.3)
      definingSelect = q.get("$select")
        .map(_.split(",").map(_.trim).filterNot(_.contains("/")).toSeq)
    emitPage(ex, q, ex.getRequestURI.getPath, withNav,
      (select ++ extraServedFields).distinct ++ expandNames ++
        expandNames.map(_ + "@odata.nextLink"),
      rawJsonFields ++ expandNames,
      deltaLink = if (deltaBatches.nonEmpty && trackRequested)
        Some(s"$url${ex.getRequestURI.getPath}?" +
          java.net.URLEncoder.encode("$deltatoken", "UTF-8") + "=0")
      else None)
  }

  /** Shared page emission: `$top`/`$skiptoken` pagination, field
    * projection (`raw` fields as unquoted JSON), dialect envelope;
    * `deltaLink` rides the FINAL page only (the v4 tracking contract).
    */
  private def emitPage(ex: HttpExchange, q: Map[String, String], path: String,
                       data: Seq[Map[String, String]], fields: Seq[String],
                       raw: Set[String],
                       deltaLink: Option[String] = None): Unit = {
    val top = q.get("$top").map(_.toLong).getOrElse(Long.MaxValue)
    val skip = q.get("$skiptoken").map(_.toInt).getOrElse(0)
    // $skip (client offset) applies after $orderby, before $top —
    // the OData evaluation order skip-range partitioning rides
    val offset = q.get("$skip").map(_.toInt).getOrElse(0)
    val capped = data.drop(offset)
      .take(if (top > Int.MaxValue) Int.MaxValue else top.toInt)
    val page = capped.slice(skip, skip + serverPageSize)
    val hasMore = skip + serverPageSize < capped.size
    val nextUrl =
      if (!hasMore) None
      else {
        val keep = q - "$skiptoken" + ("$skiptoken" -> (skip + serverPageSize).toString)
        val qs = keep.map { case (k, v) =>
          java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
        }.mkString("&")
        if (relativeNextLinks) Some(s"$path?$qs")
        else Some(s"$url$path?$qs")
      }

    val rowsJson = page.map { r =>
      fields.flatMap(f => r.get(f).map { v =>
        // a null cell emits as explicit JSON null (the other lawful
        // server behavior, omission, is exercised by absent keys)
        val cell = if (v == null) "null" else if (raw.contains(f)) v else jsonStr(v)
        s"${jsonStr(f)}: $cell"
      }).mkString("{", ", ", "}")
    }.mkString("[", ", ", "]")
    val body = dialect match {
      case "v2" =>
        val nxt = nextUrl.map(u => s""", "__next": ${jsonStr(u)}""").getOrElse("")
        s"""{"d": {"results": $rowsJson$nxt}}"""
      case "v4" =>
        val nxt = nextUrl.map(u => s""", "@odata.nextLink": ${jsonStr(u)}""").getOrElse("")
        val dlt = (if (hasMore) None else deltaLink)
          .map(u => s""", "@odata.deltaLink": ${jsonStr(u)}""").getOrElse("")
        s"""{"value": $rowsJson$nxt$dlt}"""
    }
    respond(ex, 200, body)
  }

  def start(): this.type = {
    // daemon handler threads; and start() from a daemon thread so the
    // JDK dispatcher (which inherits daemon status from its creator)
    // can never keep a JVM alive after main returns — long-lived stubs
    // (ODataSelfServe) are deliberately not stopped
    // CACHED pool, not fixed: a $batch handler HOLDS its thread while
    // its loopback sub-requests are served by this same pool — a fixed
    // pool saturated by concurrent batch POSTs would deadlock waiting
    // on itself
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "odata-stub-handler"); t.setDaemon(true); t
    }))
    val starter = new Thread(() => server.start(), "odata-stub-starter")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    this
  }
  def stop(): Unit = server.stop(1)
}
