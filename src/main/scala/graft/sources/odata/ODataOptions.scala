package graft.sources.odata

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Connector options — the Spark `.option(...)` surface replacing the
  * reference's env-var config (reference `src/etl.py:24-38`,
  * `.github/workflows/etl.yml:33-41`).
  *
  * @param baseUrl      service host, e.g. `http://host:port`
  *                     (etl.py `SAP_BASE_URL`, defensive `/`-strip)
  * @param servicePath  OData service path (etl.py `SAP_SERVICE_PATH`)
  * @param entity       main entity set (etl.py `SAP_MAIN_QUERY`)
  * @param codesEntity  entity enumerated for partition keys — defaults
  *                     to `entity`, mirroring etl.py:31's default
  * @param selectFields base `$select` list (etl.py:44-51)
  * @param structureCandidates candidate partition-key columns probed
  *                     in order (etl.py:64: COCHAR vs C0CHAR)
  * @param failFast     false = a failing partition logs + yields 0
  *                     rows (etl.py:191-194 semantics); true = task
  *                     failure (Spark default posture)
  * @param maxRetries   bounded retry of transient (5xx / 429 /
  *                     network) failures with exponential backoff
  *                     (retryBackoffMs · 2^attempt, or the server's
  *                     Retry-After delay when present); other 4xx
  *                     never retry. Default 0 = OFF — the reference
  *                     raises on first failure (etl.py:81-87), so
  *                     parity is the default and backoff is opt-in
  * @param pushDownTopN translate Spark sort+limit into `$orderby` +
  *                     `$top` (partial push: the server caps transfer
  *                     per chain, Spark still re-sorts and applies the
  *                     final limit). Caveat, as with JDBC TopN
  *                     pushdown: if the SERVER's string collation or
  *                     null placement orders rows differently than
  *                     Spark's binary ordering, the server-truncated
  *                     top-N may omit rows Spark would have ranked
  *                     higher — disable on such tenants
  * @param maxPartitions upper bound on planned input partitions: keys
  *                     bin into ≤ this many tasks, bounding both task
  *                     count at high key cardinality and the global
  *                     concurrent-request pressure on the service
  *                     (SURVEY §7.4 risk 4)
  * @param extraColumns permissive-schema mode for servers that return
  *                     MORE fields than `$select` asked for (real ByD
  *                     tenants do — the reference's pandas
  *                     `from_records` unions keys across records, so
  *                     spilled fields like `__metadata` land in its
  *                     CSV, etl.py:201,204-207 and
  *                     data/employee_data.csv:1). `none` (default)
  *                     keeps the declared schema and drops extras;
  *                     `map` appends a `map<string,string>` column
  *                     ([[extraColumnName]]) holding every undeclared
  *                     field (nested objects as their JSON text, the
  *                     same stringify the declared columns use)
  * @param extraColumnName name of the extras map column (default
  *                     `_extra`); only read when `extraColumns=map`
  * @param pushDownAggregates translate Spark aggregates (count(*),
  *                     count(distinct col), min, max, with optional
  *                     GROUP BY) into one OData V4
  *                     `$apply=groupby(...)/aggregate(...)` request —
  *                     the server returns |groups| rows instead of the
  *                     corpus, the single biggest transfer lever for a
  *                     dashboard-style count/min/max over a large
  *                     entity. Default FALSE — the documented v2
  *                     fallback: OData v2 has no `$apply`, so the
  *                     builder declines the push and Spark computes
  *                     the aggregate from the streamed rows (same
  *                     result, full transfer). Enable only on v4
  *                     tenants whose `$apply` support is trusted: a
  *                     complete pushdown replaces Spark's own
  *                     aggregation, so unlike the residual-filter
  *                     belt-and-suspenders there is no re-check.
  * @param fullyPushFilters trust the server to evaluate pushed
  *                     `$filter` equality EXACTLY: translated eq
  *                     predicates are consumed by the scan instead of
  *                     being returned as residuals, so Spark plans no
  *                     re-checking Filter node. Two effects at scale:
  *                     (1) a filtered aggregate can now compose into
  *                     ONE `$apply=filter(...)/groupby(...)` request
  *                     (with the residual posture, the Filter node
  *                     between Aggregate and scan blocks aggregate
  *                     pushdown entirely — Catalyst only pushes
  *                     aggregates sitting directly on the scan); (2) a
  *                     filtered sort+limit can take the `$orderby` +
  *                     `$top` TopN push. Default FALSE — the
  *                     belt-and-suspenders residual re-check stays the
  *                     posture for untrusted tenants; enable it on
  *                     servers whose eq semantics are trusted (the
  *                     same trust `pushDownAggregates` already
  *                     declares for `$apply`).
  * @param skipRangePartitions parallelize a STRUCTURE-LESS entity scan
  *                     into N `$skip`/`$top` range tasks (the JDBC
  *                     offset-partitioning analogue): planning issues
  *                     one `/$count` request (carrying any pushed
  *                     `$filter`) and tiles the row space into ≤ N
  *                     ranges, each fetched `$orderby <key> asc` so
  *                     the tiling is stable. Default 1 = off (the
  *                     reference's sequential chain). Requires
  *                     [[skipRangeOrderKey]]; engaged only when no
  *                     structure field partitions the scan and no
  *                     limit/TopN was pushed (a pushed `$top` is a
  *                     GLOBAL cap that range fetches would break).
  *                     Caveats: the key must be UNIQUE server-side or
  *                     ties can straddle a range boundary and
  *                     duplicate/drop rows; ranges tile a
  *                     point-in-time `$count`, so rows appended after
  *                     planning land past the last range (the same
  *                     snapshot caveat as any live-server scan).
  * @param skipRangeOrderKey the unique server column `$orderby`-ing
  *                     every range fetch; required when
  *                     skipRangePartitions > 1
  * @param expands      navigation properties to `$expand` inline as
  *                     NESTED columns — the ByD payloads the reference
  *                     extracts carry exactly such nested objects
  *                     (`__metadata`, employee_data.csv:2), and a
  *                     header+items entity is the canonical OData
  *                     shape. Spec syntax, comma-separated:
  *                     `Nav(F1,F2)` declares a SINGLE-VALUED nav →
  *                     one `struct<F1:string,F2:string>` column;
  *                     `Nav*(F1,F2)` declares a COLLECTION nav →
  *                     `array<struct<...>>`. Cardinality is declared,
  *                     not probed: OData exposes it only via
  *                     `$metadata`, which ByD tenants gate separately.
  *                     Nested fields keep the connector's string
  *                     typing. Catalyst's nested-schema pruning flows
  *                     through: a query touching only `Nav.F1` sends
  *                     `$expand=Nav($select=F1)`, and a query not
  *                     touching the nav at all sends no `$expand` —
  *                     at tenant scale the difference is shipping the
  *                     items table exactly once vs. with every scan.
  *                     One header+items request REPLACES the two-scan
  *                     join for denormalized extraction; the join
  *                     runs server-side where the association index
  *                     already exists.
  * @param oauth        OAuth2 client-credentials auth (the SAP API
  *                     pattern): `authType=oauth` plus `tokenUrl`,
  *                     `clientId`, `clientSecret` — the client
  *                     exchanges the credentials for a bearer token at
  *                     the token endpoint, caches it JVM-wide per
  *                     (tokenUrl, clientId), refreshes at 80% of
  *                     `expires_in`, and transparently re-auths on a
  *                     401 (the server's validity clock wins), at most
  *                     twice per request, since concurrent tasks can
  *                     use up a fresh shared token; a third 401
  *                     surfaces as a credential error.
  *                     Default `authType=basic` keeps the reference's
  *                     Basic-auth parity (etl.py:40-41). When oauth is
  *                     configured it wins over user/password.
  * @param reportStatistics report row-count/size statistics to Spark's
  *                     planner from one `/$count` request (carrying any
  *                     pushed `$filter`) — what lets Catalyst
  *                     AUTO-broadcast a small OData dimension in a
  *                     join instead of shuffling the big side, the
  *                     same planning leverage JDBC gets from table
  *                     stats. Default FALSE: every fresh plan issues
  *                     one extra HTTP request, so the tenant operator
  *                     opts in. Size estimate = rows × a conservative
  *                     per-row width derived from the read schema
  *                     (pessimistic beats an OOM'd broadcast). A
  *                     pushed-complete aggregate reports unknown (the
  *                     server-side |groups| is not knowable without
  *                     running the aggregate).
  * @param expandStyle  `v4` (default): nested `$select` inside the
  *                     expand — `$expand=Nav($select=F1,F2)` (OData
  *                     v4.0 §5.1.2). `v2`: the v2 dialect has no
  *                     nested options, so the projection rides the
  *                     PARENT `$select` as paths —
  *                     `$expand=Nav&$select=...,Nav/F1,Nav/F2` (OData
  *                     v2 conventions; what a ByD tenant accepts).
  *                     Both return the same nested JSON (v2 wraps
  *                     collections in `{"results": [...]}` — the
  *                     reader unwraps either shape).
  */
case class ODataOptions(
    baseUrl: String,
    servicePath: String,
    entity: String,
    codesEntity: String,
    selectFields: Seq[String],
    structureCandidates: Seq[String],
    user: Option[String],
    password: Option[String],
    pageSize: Int,
    requestPauseMs: Long,
    timeoutMs: Int,
    failFast: Boolean,
    maxPartitions: Int,
    maxRetries: Int,
    retryBackoffMs: Long,
    pushDownTopN: Boolean,
    extraColumns: String,
    extraColumnName: String,
    pushDownAggregates: Boolean,
    fullyPushFilters: Boolean,
    skipRangePartitions: Int,
    skipRangeOrderKey: Option[String],
    expands: Seq[ExpandSpec] = Nil,
    expandStyle: String = "v4",
    reportStatistics: Boolean = false,
    oauth: Option[ODataClient.OAuthConfig] = None,
    // odata-delta STREAM options (ignored by the batch scan):
    // startLink: begin streaming AT this delta link instead of a
    // tracked initial enumeration — the handoff for a table
    // bootstrapped by ODataDelta.seedWithParallelScan (whose persisted
    // link predates the seed scan, so batch 0 becomes the first DELTA
    // round over the seeded table and the at-least-once initial-read
    // window disappears entirely)
    streamStartLink: Option[String] = None,
    // carryThreshold: a delta round whose entry count stays under this
    // is carried from the driver's offset-walk into the batch (exact
    // replay); a backfill-sized round past it DROPS the carried walk —
    // bounding driver memory and task-serialization size — and the
    // executor re-walks the link live (at-least-once for rows landing
    // mid-round, same caveat as a crash-replayed batch)
    streamCarryThreshold: Int = 100000,
    // metadataSchema=true: read the service's EDMX $metadata document
    // and surface the declared selectFields with NATIVE Spark types
    // (Edm.Int64→bigint, Edm.DateTimeOffset→timestamp, …, see
    // ODataMetadata) — deleting the cast layer every typed consumer
    // builds by hand. Default FALSE: string typing is the
    // reference-parity posture, and ByD tenants gate $metadata
    // separately (why the reference probes instead, etl.py:100-121).
    // The structure field must be Edm.String (its values ride $filter
    // quotes and chain planning); nav columns and the extras map keep
    // string typing.
    metadataSchema: Boolean = false,
    // filterDialect: the $filter literal grammar for TYPED pushed
    // predicates (metadataSchema mode). "v4" (default): bare
    // int/boolean literals, bare ISO `Edm.Date` / `Edm.DateTimeOffset`
    // forms (OData v4 ABNF). "v2": the v2 grammar — Int64 takes the
    // `L` suffix, DateTimeOffset the `datetimeoffset'…'` prefix form,
    // and Edm.Date declines (no such type in v2). String literals
    // render identically in both. Irrelevant in string mode.
    filterDialect: String = "v4",
    // batchControlPlane=true: bundle control-plane GETs into one OData
    // v4.01 JSON $batch POST (protocol §11.7) — today the schema
    // probe's candidate requests, which a multi-candidate tenant pays
    // per fresh plan. The politeness lever for planning latency; data
    // chains stay plain GETs (streaming pagination cannot batch).
    // Default FALSE: v2 services and many v4 gateways lack $batch.
    batchControlPlane: Boolean = false,
    // batchFirstPages=true: within one task, the FIRST pages of all
    // its value chains ride ONE OData v4.01 JSON $batch POST instead
    // of one GET each — on a high-latency tenant a bin of K values
    // drops K-1 round-trips at chain start. Continuation pages still
    // chain individually (they are inherently sequential). The task
    // buffers at most its bin's first pages (pageSize × bin size must
    // fit task memory — the reason this is opt-in). Failure semantics
    // are unchanged: a failed $batch POST is loud regardless of
    // failFast (a transport/misconfiguration error, same posture as
    // batchControlPlane), while a non-2xx SUB-response fails exactly
    // one value chain — the same per-VALUE tolerance unit as the
    // sequential path.
    batchFirstPages: Boolean = false) {

  /** Entity-set URL, defensively stripping `/` like etl.py:72-76. */
  def entityUrl(e: String): String = {
    val b = baseUrl.replaceAll("/+$", "")
    val p = servicePath.replaceAll("^/+|/+$", "")
    s"$b/$p/${e.replaceAll("^/+", "")}"
  }

  def extrasEnabled: Boolean = extraColumns == "map"
}

/** One declared navigation-property expansion (see
  * [[ODataOptions.expands]]): `nav` is the navigation property name
  * (and the nested column's name), `collection` its declared
  * cardinality, `fields` the child SCALAR properties to project,
  * `children` further expansions hanging off this nav's target
  * entity (OData's nested `$expand` — `Orders→Items→Product`). A
  * child surfaces inside the nav's struct as its own nested
  * struct / array<struct> column after the scalar fields.
  */
case class ExpandSpec(nav: String, collection: Boolean,
                      fields: Seq[String],
                      children: Seq[ExpandSpec] = Nil) {
  /** Back to the option grammar (what a child scan re-parses). */
  def render: String =
    s"$nav${if (collection) "*" else ""}(${
      (fields ++ children.map(_.render)).mkString(",")})"
}

object ODataOptions {

  /** Parse the `expand` option — the recursive grammar
    * `Nav(F1,F2,Child(G1),…)` / `Nav*(…)` where a parenthesized
    * entry inside a field list declares a NESTED expansion. Split on
    * commas at paren depth 0 only (nested field lists carry their
    * own commas and parens).
    */
  def parseExpands(s: String): Seq[ExpandSpec] =
    splitTop(s).map(parseExpandEntry)

  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth < 0) throw new IllegalArgumentException(
            s"odata source: unbalanced ')' in expand option '$s'")
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    if (depth != 0) throw new IllegalArgumentException(
      s"odata source: unbalanced '(' in expand option '$s'")
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def parseExpandEntry(e: String): ExpandSpec = {
    val open = e.indexOf('(')
    if (open < 0 || !e.endsWith(")")) throw new IllegalArgumentException(
      s"odata source: bad expand entry '$e' — " +
        "expected Nav(F1,F2,...) or Nav*(F1,F2,...)")
    // the paren at `open` must close at the entry's LAST char — a
    // depth-0 close earlier means garbage like `A(F1)(F2)` that the
    // substring below would silently fold into a field name
    var depth = 0
    var i = open
    while (i < e.length) {
      e.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0 && i != e.length - 1)
            throw new IllegalArgumentException(
              s"odata source: bad expand entry '$e' — " +
                "expected Nav(F1,F2,...) or Nav*(F1,F2,...)")
        case _ =>
      }
      i += 1
    }
    val head = e.substring(0, open)
    val (nav, coll) =
      if (head.endsWith("*")) (head.dropRight(1), true) else (head, false)
    if (!nav.matches("[A-Za-z_][A-Za-z0-9_]*"))
      throw new IllegalArgumentException(
        s"odata source: bad expand nav name '$nav' in '$e'")
    val parts = splitTop(e.substring(open + 1, e.length - 1))
    val (navParts, fieldParts) = parts.partition(_.contains("("))
    val children = navParts.map(parseExpandEntry)
    val dup = (fieldParts ++ children.map(_.nav))
      .groupBy(identity).collectFirst { case (n, vs) if vs.size > 1 => n }
    if (dup.isDefined) throw new IllegalArgumentException(
      s"odata source: expand entry '$nav' declares '${dup.get}' twice")
    if (fieldParts.isEmpty && children.isEmpty)
      throw new IllegalArgumentException(
        s"odata source: expand entry '$nav' declares no fields — " +
          "the nested schema must be declared (Nav(F1,F2) or Nav*(F1,F2))")
    if (fieldParts.isEmpty) throw new IllegalArgumentException(
      s"odata source: expand entry '$nav' declares only nested " +
        "expansions — project at least one scalar field (the child " +
        "rows need identity beyond their own children)")
    ExpandSpec(nav, coll, fieldParts, children)
  }
  def apply(map: CaseInsensitiveStringMap): ODataOptions = {
    // look up through the CaseInsensitiveStringMap itself — DSv2
    // options are conventionally case-insensitive ('baseurl' ==
    // 'baseUrl'); asCaseSensitiveMap would silently re-impose exact-key
    // matching
    object m {
      def get(k: String): Option[String] = Option(map.get(k))
      def getOrElse(k: String, default: => String): String = get(k).getOrElse(default)
    }
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"odata source: missing required option '$k'"))
    val entity = req("entity")
    val selectFields0 = req("selectFields").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val candidates0 =
      m.getOrElse("structureCandidates", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val extraColumns0 = m.getOrElse("extraColumns", "none") match {
      case v @ ("none" | "map") => v
      case other => throw new IllegalArgumentException(
        s"odata source: extraColumns must be 'none' or 'map', got '$other'")
    }
    val extraColumnName0 = m.getOrElse("extraColumnName", "_extra")
    val skipRangePartitions0 = m.getOrElse("skipRangePartitions", "1").toInt
    val skipRangeOrderKey0 = m.get("skipRangeOrderKey").filter(_.nonEmpty)
    if (skipRangePartitions0 > 1 && skipRangeOrderKey0.isEmpty)
      throw new IllegalArgumentException(
        "odata source: skipRangePartitions > 1 requires skipRangeOrderKey (a UNIQUE server column)")
    // a collision would emit a duplicate-name schema and write MapData
    // into the declared StringType slot — fail loudly at options time
    if (extraColumns0 == "map" &&
        (selectFields0.contains(extraColumnName0) || candidates0.contains(extraColumnName0)))
      throw new IllegalArgumentException(
        s"odata source: extraColumnName '$extraColumnName0' collides with a declared field")
    val expands0 = m.get("expand").map(parseExpands).getOrElse(Nil)
    val oauth0 = m.getOrElse("authType", "basic") match {
      case "basic" => None
      case "oauth" =>
        def reqO(k: String): String = m.getOrElse(k,
          throw new IllegalArgumentException(
            s"odata source: authType=oauth requires option '$k'"))
        Some(ODataClient.OAuthConfig(
          reqO("tokenUrl"), reqO("clientId"), reqO("clientSecret")))
      case other => throw new IllegalArgumentException(
        s"odata source: authType must be 'basic' or 'oauth', got '$other'")
    }
    val expandStyle0 = m.getOrElse("expandStyle", "v4") match {
      case v @ ("v4" | "v2") => v
      case other => throw new IllegalArgumentException(
        s"odata source: expandStyle must be 'v4' or 'v2', got '$other'")
    }
    // a nav column shares the read schema's namespace with every other
    // declared column — collisions would emit a duplicate-name schema
    locally {
      val navNames = expands0.map(_.nav)
      val dups = navNames.diff(navNames.distinct) ++
        navNames.filter(n => selectFields0.contains(n) ||
          candidates0.contains(n) ||
          (extraColumns0 == "map" && n == extraColumnName0))
      if (dups.nonEmpty) throw new IllegalArgumentException(
        s"odata source: expand nav name(s) ${dups.distinct.mkString(",")} " +
          "collide with a declared field or each other")
    }
    ODataOptions(
      baseUrl = req("baseUrl"),
      servicePath = m.getOrElse("servicePath", ""),
      entity = entity,
      codesEntity = m.getOrElse("codesEntity", entity),
      selectFields = selectFields0,
      structureCandidates = candidates0,
      user = m.get("user").filter(_.nonEmpty),
      password = m.get("password").filter(_.nonEmpty),
      pageSize = m.getOrElse("pageSize", "1000000").toInt,
      requestPauseMs = m.getOrElse("requestPauseMs", "0").toLong,
      timeoutMs = m.getOrElse("timeoutMs", "90000").toInt,
      failFast = m.getOrElse("failFast", "false").toBoolean,
      maxPartitions = m.getOrElse("maxPartitions", "1000").toInt,
      maxRetries = m.getOrElse("maxRetries", "0").toInt,
      retryBackoffMs = m.getOrElse("retryBackoffMs", "100").toLong,
      pushDownTopN = m.getOrElse("pushDownTopN", "true").toBoolean,
      extraColumns = extraColumns0,
      extraColumnName = extraColumnName0,
      pushDownAggregates = m.getOrElse("pushDownAggregates", "false").toBoolean,
      fullyPushFilters = m.getOrElse("fullyPushFilters", "false").toBoolean,
      skipRangePartitions = skipRangePartitions0,
      skipRangeOrderKey = skipRangeOrderKey0,
      expands = expands0,
      expandStyle = expandStyle0,
      reportStatistics = m.getOrElse("reportStatistics", "false").toBoolean,
      oauth = oauth0,
      streamStartLink = m.get("startLink").filter(_.nonEmpty),
      streamCarryThreshold = m.getOrElse("carryThreshold", "100000").toInt,
      metadataSchema = m.getOrElse("metadataSchema", "false").toBoolean,
      filterDialect = m.getOrElse("filterDialect", "v4") match {
        case v @ ("v4" | "v2") => v
        case other => throw new IllegalArgumentException(
          s"odata source: filterDialect must be 'v4' or 'v2', got '$other'")
      },
      batchControlPlane = m.getOrElse("batchControlPlane", "false").toBoolean,
      batchFirstPages = m.getOrElse("batchFirstPages", "false").toBoolean)
  }
}
