package graft.sources.odata

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 OData connector — the Spark-native rebuild of the
  * reference's entire extract layer (reference `src/etl.py`, SURVEY
  * §2.1/§2.2/§3):
  *
  *  - schema probe: `$select=<candidate>&$top=1`, 404 + `segment 'X'`
  *    body → try next candidate (etl.py:100-121);
  *  - value-partitioned parallel scan: one [[ODataInputPartition]] per
  *    distinct partition-key value of the codes entity (etl.py:124-195
  *    — sequential there, genuinely parallel here);
  *  - pushdowns: `$select` (column pruning), `$filter` equality
  *    (quote-doubled), `$top` (limit) — SURVEY §2.2 P1-P4;
  *  - server-driven pagination inside one task (next-links are
  *    sequential, etl.py:171-175);
  *  - `failFast=false` reproduces per-partition error tolerance
  *    (etl.py:191-194): log + 0 rows instead of task failure.
  *
  * Scale posture: the only driver-side work is the planning-time key
  * enumeration (same shape as JDBC's partition-bound query); rows
  * stream through `PartitionReader` without accumulation.
  *
  * Usage:
  * {{{
  * spark.read.format("odata")
  *   .option("baseUrl", "http://host:8080")
  *   .option("servicePath", "sap/byd/odata/analytics.svc")
  *   .option("entity", "RPZ...QueryResults")
  *   .option("selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,...")
  *   .option("structureCandidates", "COCHAR_STRUCTURE,C0CHAR_STRUCTURE")
  *   .load()
  * }}}
  */
class ODataDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "odata"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ODataOptions(options)
    val structureField = ODataSchema.detectStructureField(opts)
    // metadataSchema=true: the EDMX document types the declared
    // columns (ODataMetadata); string mode stays the parity default.
    // A select field ABSENT from the entity type fails by name — the
    // typed mode must not silently string-type a typo. The structure
    // field must be Edm.String: its values ride quoted $filter eq's
    // and the chain planning.
    val model: Option[ODataMetadata.EdmModel] =
      if (opts.metadataSchema) Some(ODataMetadata.fetchModel(opts)) else None
    val typeOf: String => DataType = model match {
      case None => _ => StringType
      case Some(m) =>
        val props = m.entityType(opts.entity).props
        f => props.getOrElse(f, throw new IllegalStateException(
          s"odata metadataSchema: select field '$f' is not a declared " +
            s"property of entity '${opts.entity}' in \\$$metadata " +
            s"(declared: ${props.keys.toSeq.sorted.mkString(",")})")).sparkType
    }
    structureField.filter(_ => opts.metadataSchema).foreach { f =>
      require(typeOf(f) == StringType,
        s"odata metadataSchema: structure field '$f' must be Edm.String " +
          "— its values are quoted into per-chain $filter conditions")
    }
    val declared =
      (opts.selectFields ++ structureField).map(f =>
        StructField(f, typeOf(f), nullable = true))
    // declared $expand navs surface as NESTED columns: struct for a
    // single-valued nav, array<struct> for a collection. In string
    // mode the declared cardinality and string typing govern; with
    // metadataSchema the nav resolves through the entity type's
    // NavigationProperty — declared cardinality is VALIDATED against
    // the document (a mismatch would otherwise fail row-by-row at
    // read time) and the nested fields take the TARGET type's Edm
    // types, failing by name when absent.
    val navTypeOf: ExpandSpec => DataType = model match {
      case None => ODataSchema.navType
      case Some(m) =>
        // RECURSIVE through nested expansions: each level's nav
        // resolves against ITS OWN entity type's NavigationProperty
        // declarations, and the nested scalar fields take that
        // target type's Edm types — same validation (cardinality
        // against the doc, absent fields fail BY NAME) at every depth
        def resolve(owner: String,
                    navs: Map[String, ODataMetadata.EdmNav],
                    e: ExpandSpec): DataType = {
          val nav = navs.getOrElse(e.nav, throw new IllegalStateException(
            s"odata metadataSchema: '${e.nav}' is not a navigation " +
              s"property of entity '$owner' in \\$$metadata " +
              s"(declared: ${navs.keys.toSeq.sorted.mkString(",")})"))
          require(nav.collection == e.collection,
            s"odata metadataSchema: nav '${e.nav}' is declared " +
              s"${if (e.collection) "collection" else "single-valued"} but " +
              s"\\$$metadata says ${if (nav.collection) "Collection(" + nav.targetType + ")" else nav.targetType}")
          val child = m.findType(nav.targetType).getOrElse(
            throw new IllegalStateException(
              s"odata metadataSchema: nav '${e.nav}' targets entity type " +
                s"'${nav.targetType}' which \\$$metadata does not declare"))
          val st = StructType(
            e.fields.map(f => StructField(f,
              child.props.getOrElse(f, throw new IllegalStateException(
                s"odata metadataSchema: field '$f' of nav '${e.nav}' is not " +
                  s"a property of '${nav.targetType}' " +
                  s"(declared: ${child.props.keys.toSeq.sorted.mkString(",")})")).sparkType,
              nullable = true)) ++
              e.children.map(c => StructField(c.nav,
                resolve(nav.targetType, child.navs, c), nullable = true)))
          if (e.collection) ArrayType(st, containsNull = false) else st
        }
        e => resolve(opts.entity, m.entityType(opts.entity).navs, e)
    }
    val navCols = opts.expands.map(e =>
      StructField(e.nav, navTypeOf(e), nullable = true))
    // permissive mode (reference etl.py:201,204-207 — from_records
    // unions keys across records, so server-spilled fields like
    // __metadata survive): undeclared fields land in one map column
    val extras =
      if (opts.extrasEnabled)
        Seq(StructField(opts.extraColumnName,
          MapType(StringType, StringType, valueContainsNull = true), nullable = true))
      else Nil
    StructType(declared ++ navCols ++ extras)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ODataTable(schema, ODataOptions(new CaseInsensitiveStringMap(properties)))
}

object ODataSchema extends Logging {
  /** The struct payload of a nav-shaped column type —
    * `Some((fields, isCollection))` for the two nav representations
    * (struct = single-valued, array<struct> = collection), None for
    * scalars. The ONE place the representation dispatch lives.
    */
  private[odata] def navStructOf(dt: DataType): Option[(StructType, Boolean)] =
    dt match {
      case st: StructType => Some((st, false))
      case ArrayType(st: StructType, _) => Some((st, true))
      case _ => None
    }

  /** Spark type of one declared nav expansion — RECURSIVE: a nested
    * `children` expansion surfaces inside the struct as its own
    * struct / array<struct> column after the scalar fields.
    * Collections are `containsNull=false`: a lawful expanded
    * collection holds entities, never a null element.
    */
  def navType(e: ExpandSpec): DataType = {
    val st = StructType(
      e.fields.map(f => StructField(f, StringType, nullable = true)) ++
        e.children.map(c => StructField(c.nav, navType(c), nullable = true)))
    if (e.collection) ArrayType(st, containsNull = false) else st
  }

  /** ≤ |candidates| probe GETs at `$top=1` (etl.py:100-121): a 404
    * whose body names the missing segment means "column absent, try
    * next"; any other failure is fatal; all candidates failing is
    * fatal. No candidates configured → no structure column.
    */
  def detectStructureField(opts: ODataOptions): Option[String] = {
    if (opts.structureCandidates.isEmpty) return None
    val base = opts.entityUrl(opts.codesEntity)
    // batch mode: ALL candidate probes ride ONE $batch POST (v4.01
    // JSON format) and the responses discriminate exactly like the
    // sequential path — first 2xx in candidate order wins, a
    // 404-naming-the-segment means "absent, try next", anything else
    // is fatal. One round-trip instead of ≤|candidates|.
    if (opts.batchControlPlane) {
      val reqs = opts.structureCandidates.zipWithIndex.map { case (cand, i) =>
        i.toString -> ODataClient.buildUrl(base, Seq(
          "$select" -> cand, "$top" -> "1", "$format" -> "json"))
      }
      val resps = ODataClient.postJsonBatch(
        opts.entityUrl("$batch"), reqs, opts.user, opts.password,
        opts.timeoutMs, opts.maxRetries, opts.retryBackoffMs,
        oauth = opts.oauth)
      opts.structureCandidates.zipWithIndex.foreach { case (cand, i) =>
        val r = resps(i.toString)
        if (r.status >= 200 && r.status < 300) return Some(cand)
        else if (r.status == 404 && ODataClient.missingSegment(r.body).isDefined)
          logInfo(s"odata probe (batched): candidate '$cand' absent, trying next")
        else
          throw new ODataClient.ODataHttpException(r.status, reqs(i)._2, r.body)
      }
      throw new RuntimeException(
        s"odata source: none of the structure candidates ${opts.structureCandidates.mkString(",")} exist")
    }
    opts.structureCandidates.foreach { cand =>
      val url = ODataClient.buildUrl(base, Seq(
        "$select" -> cand, "$top" -> "1", "$format" -> "json"))
      // the retrying RESPONSE form: the probe discriminates on status
      // (404-segment = try next candidate), and with maxRetries > 0 a
      // transient 5xx — data url or oauth token endpoint — is
      // absorbed instead of failing schema inference
      val r = ODataClient.getWithRetryResponse(url, opts.user, opts.password,
        opts.timeoutMs, opts.maxRetries, opts.retryBackoffMs,
        oauth = opts.oauth)
      if (r.status >= 200 && r.status < 300) return Some(cand)
      else if (r.status == 404 && ODataClient.missingSegment(r.body).isDefined)
        logInfo(s"odata probe: candidate '$cand' absent, trying next")
      else
        throw new ODataClient.ODataHttpException(r.status, url, r.body)
    }
    throw new RuntimeException(
      s"odata source: none of the structure candidates ${opts.structureCandidates.mkString(",")} exist")
  }
}

class ODataTable(tableSchema: StructType, opts: ODataOptions) extends Table with SupportsRead {
  override def name(): String = s"odata:${opts.entity}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ODataScanBuilder(tableSchema, opts)
}

/** Shared rendering of pushed predicates to OData `$filter`/`$apply`
  * condition strings — ONE home for the `''` quote-doubling and the
  * or-group layout, used by the per-chain `$filter`, the `$apply`
  * filter prefix, the skip-range `/$count`, and the scan description
  * (four call sites that must never drift apart).
  */
/** A pushed `$filter` literal. `raw` is the value's plain string form
  * — what structure-chain planning and the chain-drop logic compare
  * against (the structure field is Edm.String by contract, so those
  * compares only ever see string literals, but every consumer goes
  * through `raw` uniformly). `wire` is the literal as lawfully
  * rendered into `$filter` per the OData grammar: quote-doubled and
  * quoted for strings, bare for v4 numbers/booleans/dates, the v2
  * suffix/prefix forms (`42L`, `datetimeoffset'…'`) under
  * `filterDialect=v2`.
  */
private[odata] final case class OLit(raw: String, wire: String)
private[odata] object OLit {
  def str(s: String): OLit = OLit(s, s"'${ODataFilters.esc(s)}'")
}

private[odata] object ODataFilters {
  def esc(s: String): String = s.replace("'", "''")
  def eqCond(k: String, v: String): String = s"$k eq '${esc(v)}'"
  def eqLit(k: String, v: OLit): String = s"$k eq ${v.wire}"
  def inCond(k: String, vs: Seq[OLit]): String =
    vs.map(eqLit(k, _)).mkString("(", " or ", ")")

  /** A comparison (`gt|ge|lt|le|ne`) rendered with an EXPLICIT
    * `K ne null` conjunct. SQL comparison semantics drop null rows
    * (`NULL > 5` is unknown), and while OData's null-comparison
    * convention agrees for `gt/ge/lt/le` (and CHANGED for `ne`
    * between protocol 4.0 and 4.01 — `null ne 'v'` is TRUE in 4.01,
    * which would wrongly KEEP null rows under `fullyPushFilters`),
    * the guard makes the pushed form correct under EITHER reading —
    * the connector never bets row semantics on which spec revision
    * the server implements.
    */
  def cmpCond(k: String, op: String, v: OLit): String =
    s"($k $op ${v.wire} and $k ne null)"

  /** A string-function predicate (`startswith|endswith|contains`),
    * null-guarded like [[cmpCond]] (the functions propagate null,
    * which is not-true — but the guard keeps the form
    * convention-independent for free). v2 has no `contains`; its
    * equivalent is `substringof` with REVERSED argument order.
    */
  def strFnCond(fn: String, k: String, raw: String, v2: Boolean): String = {
    val call =
      if (fn == "contains" && v2) s"substringof('${esc(raw)}',$k)"
      else s"$fn($k,'${esc(raw)}')"
    s"($call and $k ne null)"
  }

  def render(eqs: Seq[(String, OLit)],
             ins: Seq[(String, Seq[OLit])],
             conds: Seq[String] = Seq.empty): Seq[String] =
    eqs.map { case (k, v) => eqLit(k, v) } ++
      ins.map { case (k, vs) => inCond(k, vs) } ++
      conds
}

/** One output column of a pushed-aggregate scan: `name` is BOTH the
  * schema field name and the JSON key the server answers under (group
  * columns come back under their own property name; aggregates under
  * their `as` alias). Counts surface as longs; everything else keeps
  * the SCAN's typing for that column — string in string mode, the
  * EDMX-mapped native type under metadataSchema (the wire cell
  * decodes through the same [[ODataMetadata.convert]] the row scan
  * uses, so a typed group key or min/max answer round-trips the same
  * way a plain row cell does).
  */
case class ODataAggField(name: String, isCount: Boolean,
                         dataType: DataType = StringType)

/** A Spark [[Aggregation]] fully translated to one OData V4
  * `$apply` transformation sequence. Field order is the DSv2
  * contract: group-by columns first, then aggregate columns.
  */
case class ODataPushedAgg(applyParam: String, fields: Seq[ODataAggField]) {
  def schema: StructType = StructType(fields.map(f =>
    if (f.isCount) StructField(f.name, LongType, nullable = false)
    else StructField(f.name, f.dataType, nullable = true)))
}

class ODataScanBuilder(fullSchema: StructType, opts: ODataOptions)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownV2Filters
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var prunedSchema: StructType = fullSchema
  private var pushedPreds: Array[Predicate] = Array.empty
  private var pushedEq: Seq[(String, OLit)] = Seq.empty
  private var pushedIn: Seq[(String, Seq[OLit])] = Seq.empty
  private var pushedConds: Seq[String] = Seq.empty
  private var limit: Option[Int] = None
  private var orderBy: Seq[(String, Boolean)] = Seq.empty
  private var pushedAgg: Option[ODataPushedAgg] = None

  /** P1 — `$select` from Catalyst column pruning, including NESTED
    * pruning through declared `$expand` navs: Catalyst's
    * nestedSchemaPruning hands a required schema whose struct columns
    * carry only the touched subfields, and the scan narrows the
    * nav's nested `$select` to exactly those (a query touching only
    * `Nav.F1` ships one child property; one not touching the nav at
    * all drops the `$expand` entirely — the pruned schema simply has
    * no nav column and the reader builds no expand param).
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep declared field order; an empty projection (count(*)) still
    // fetches the first field so rows can be counted
    prunedSchema =
      if (requiredSchema.isEmpty) StructType(fullSchema.fields.take(1))
      else StructType(fullSchema.fields.flatMap { f =>
        requiredSchema.fields.find(_.name == f.name).map { rf =>
          (f.dataType, rf.dataType) match {
            case (full: StructType, req: StructType) =>
              f.copy(dataType = pruneStruct(full, req))
            case (ArrayType(full: StructType, n), ArrayType(req: StructType, _)) =>
              f.copy(dataType = ArrayType(pruneStruct(full, req), n))
            case _ => f
          }
        }
      })

  /** Declared nested fields, narrowed to the required ones — declared
    * ORDER and typing win (the wire projection is ours to choose),
    * RECURSIVELY: a nested-expansion member narrows to its own
    * touched subfields, so a query reading only `Items.Part.P_NAME`
    * ships one grandchild property. Every level keeps at least one
    * SCALAR field (mirroring the top-level empty-projection rule, and
    * because the rendered nested `$select=` must not be empty) — so a
    * projection touching only a nav's grandchild still fetches the
    * nav's first declared scalar alongside.
    */
  private def pruneStruct(full: StructType, req: StructType): StructType = {
    def isNavField(f: StructField): Boolean =
      ODataSchema.navStructOf(f.dataType).isDefined
    val kept = full.fields.flatMap { sf =>
      req.fields.find(_.name == sf.name).map { rf =>
        (sf.dataType, rf.dataType) match {
          case (f: StructType, r: StructType) =>
            sf.copy(dataType = pruneStruct(f, r))
          case (ArrayType(f: StructType, n), ArrayType(r: StructType, _)) =>
            sf.copy(dataType = ArrayType(pruneStruct(f, r), n))
          case _ => sf
        }
      }
    }
    val withScalar =
      if (kept.exists(!isNavField(_))) kept
      else full.fields.filter(!isNavField(_)).take(1) ++ kept
    StructType(if (withScalar.isEmpty) full.fields.take(1) else withScalar)
  }

  /** P3 — translate `col = 'lit'` on string columns to `$filter`.
    * Default posture: everything (translated included) is returned as
    * residual so Spark re-evaluates — the server filter prunes
    * transfer volume, Spark guarantees semantics even against a
    * sloppy server. With `fullyPushFilters=true` the translated eq
    * predicates are CONSUMED (no residual Filter node), which is what
    * lets a filtered aggregate compose into one
    * `$apply=filter(...)/...` request and a filtered sort+limit take
    * the TopN push — the documented trusted-server trade.
    */
  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    pushedEq = predicates.flatMap(translateEq).toSeq
    pushedIn = predicates.flatMap(translateIn).toSeq
    // comparisons, <>, string functions, and or-groups translate as
    // pre-rendered wire conditions; a predicate already translated as
    // eq/IN never re-translates here
    val condPushes = predicates.toSeq
      .filter(p => translateEq(p).isEmpty && translateIn(p).isEmpty)
      .flatMap(p => translateCond(p).map(p -> _))
    pushedConds = condPushes.map(_._2.wire)
    // Catalyst infers an IsNotNull alongside every eq/IN/comparison;
    // `c = 'v'`, membership in a literal list, and `c > 5` all imply
    // it — the translated OData forms never match null rows (eq by
    // spec, comparisons by the explicit ne-null guard) — so in
    // fully-pushed mode the pair is consumed together: the IsNotNull
    // residual would otherwise keep the very Filter node the option
    // removes. A NAV-PATH eq (`Nav/F eq 'v'`) implies BOTH `Nav/F`
    // and the nav root non-null, so the inferred IsNotNull on either
    // form is covered.
    val filterCols = (pushedEq.map(_._1) ++ pushedIn.map(_._1) ++
      condPushes.flatMap(_._2.notNull))
      .flatMap(k => Seq(k) ++ k.split("/").headOption).toSet
    def impliedNotNull(p: Predicate): Boolean =
      p.name() == "IS_NOT_NULL" && (p.children() match {
        case Array(ref: NamedReference) =>
          serverPath(ref).exists(filterCols.contains) ||
            (ref.fieldNames().length == 1 &&
              filterCols.contains(ref.fieldNames()(0)) &&
              opts.expands.exists(_.nav == ref.fieldNames()(0)))
        case _ => false
      })
    // a STANDALONE null test (not the IsNotNull a pushed predicate
    // already implies and guards) renders its exact OData form:
    // `c IS NULL` ↔ `c eq null`, `c IS NOT NULL` ↔ `c ne null` —
    // collation-free and exact under both protocol revisions. Ordered
    // AFTER the implied-not-null check so an eq's companion IsNotNull
    // keeps its silent consumption (wire forms stay minimal).
    // …but NEVER on a nav column itself: Catalyst infers
    // `IsNotNull(Nav)` over the materialized struct/array column
    // (e.g. alongside any element predicate), which is a CLIENT-side
    // fact about the expanded value — `Nav ne null` on the wire is
    // not even lawful for a collection, and a server filtering on it
    // drops rows nothing can recover. A nav-PATH null test
    // (`Nav/F ne null`) stays lawful and translates.
    def scalarPath(ref: NamedReference): Option[String] =
      serverPath(ref).filter { c =>
        c.contains("/") || fullSchema.fields.find(_.name == c).exists(f =>
          ODataSchema.navStructOf(f.dataType).isEmpty)
      }
    val nullTests: Seq[(Predicate, String)] = predicates.toSeq
      .filter(p => !impliedNotNull(p))
      .flatMap { p =>
        (p.name(), p.children()) match {
          case ("IS_NULL", Array(ref: NamedReference)) =>
            scalarPath(ref).map(c => p -> s"$c eq null")
          case ("IS_NOT_NULL", Array(ref: NamedReference)) =>
            scalarPath(ref).map(c => p -> s"$c ne null")
          case _ => None
        }
      }
    pushedConds ++= nullTests.map(_._2)
    val condSet = condPushes.map(_._1).toSet ++ nullTests.map(_._1)
    def translated(p: Predicate): Boolean =
      translateEq(p).isDefined || translateIn(p).isDefined ||
        condSet.contains(p)
    pushedPreds = predicates.filter(p => translated(p) ||
      (opts.fullyPushFilters && impliedNotNull(p)))
    if (opts.fullyPushFilters)
      predicates.filter(p => !translated(p) && !impliedNotNull(p))
    else predicates // all residual (belt + suspenders)
  }
  override def pushedPredicates(): Array[Predicate] = pushedPreds

  /** Only single-segment references to real server fields translate —
    * the extras map is client-side synthesized and must never reach
    * `$filter` (it cannot appear here as a bare eq-on-string anyway,
    * but the guard keeps the fully-pushed mode honest by
    * construction).
    */
  /** A NULL literal never translates: `c = NULL` / `NULL ∈ list` is
    * never-true in SQL, but `String.valueOf(null)` would push the
    * 4-char string `'null'` and (fully-pushed) wrongly MATCH rows
    * holding that literal text — decline and let Spark evaluate.
    *
    * Typed literals (metadataSchema mode types the scan's columns, so
    * Catalyst hands eq/IN predicates with native-typed literals)
    * render their lawful OData `$filter` forms: Int16/32/64 and
    * Boolean bare, Edm.Date as the bare ISO date, Edm.DateTimeOffset
    * as the bare ISO instant (`filterDialect=v2` instead emits the v2
    * grammar: `42L`, `datetimeoffset'…'`, and declines Edm.Date —
    * which cannot arise from a v2 EDMX). Float/Double/Decimal stay
    * residual by design: their text rendering is not guaranteed
    * round-trip-exact against the server's parse, and a wrong pushed
    * filter under fullyPushFilters would silently drop rows.
    */
  private def renderLit(lit: V2Literal[_]): Option[OLit] = {
    val v = lit.value()
    if (v == null) return None
    val v2 = opts.filterDialect == "v2"
    lit.dataType() match {
      case StringType => Some(OLit.str(String.valueOf(v)))
      case BooleanType | ByteType | ShortType | IntegerType =>
        Some(OLit(v.toString, v.toString))
      case LongType =>
        Some(OLit(v.toString, if (v2) s"${v}L" else v.toString))
      case DateType if !v2 =>
        val iso = java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[Int].toLong).toString
        Some(OLit(iso, iso))
      case TimestampType =>
        // Catalyst timestamps are epoch MICROS; Instant.toString is
        // the ISO-8601 UTC instant both grammars accept
        val iso = java.time.Instant.EPOCH.plus(
          v.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS).toString
        Some(OLit(iso, if (v2) s"datetimeoffset'$iso'" else iso))
      case _ => None
    }
  }

  private def translateEq(p: Predicate): Option[(String, OLit)] =
    if (p.name() != "=") None
    else p.children() match {
      case Array(ref: NamedReference, lit: V2Literal[_]) =>
        for (c <- serverPath(ref); v <- renderLit(lit)) yield c -> v
      case Array(lit: V2Literal[_], ref: NamedReference) =>
        for (c <- serverPath(ref); v <- renderLit(lit)) yield c -> v
      case _ => None
    }

  /** `col IN ('a','b',…)` on string columns → an OData or-group
    * `(col eq 'a' or col eq 'b')`. The membership list is what a
    * dashboard's picker actually sends; at tenant scale pushing it
    * matters twice — the transfer prunes server-side, and an IN on
    * the STRUCTURE field prunes the planned value chains to exactly
    * the listed values with no codes-entity enumeration at all.
    */
  private def translateIn(p: Predicate): Option[(String, Seq[OLit])] =
    if (p.name() != "IN") None
    else p.children() match {
      case Array(ref: NamedReference, vals @ _*)
          if vals.nonEmpty && vals.forall {
            case l: V2Literal[_] => renderLit(l).isDefined // see renderLit
            case _ => false
          } =>
        serverPath(ref).map(_ -> vals.map {
          case l: V2Literal[_] => renderLit(l).get }.toSeq)
      case _ => None
    }

  /** A translated non-eq condition: the pre-rendered `$filter` wire
    * form plus the columns whose non-nullness the condition implies
    * (what lets [[pushPredicates]] consume Catalyst's inferred
    * IsNotNull in fully-pushed mode).
    */
  private case class CondPush(wire: String, notNull: Set[String])

  /** Comparisons (`> >= < <= <>`), string functions
    * (`STARTS_WITH`/`ENDS_WITH`/`CONTAINS`), and boolean combinations
    * (`OR`, nested `AND`) translate to `$filter` — completing the
    * pushdown surface beyond eq/IN. Every leaf renders null-guarded
    * (see [[ODataFilters.cmpCond]]) so the pushed form has SQL's
    * null-dropping semantics under either OData null convention, and
    * declines anywhere a lawful rendering is not guaranteed:
    * Float/Double/Decimal literals (renderLit — text rendering not
    * round-trip-exact), undeclared columns and collection navs
    * (serverPath), and `NOT` (OData `not (c eq 'v')` KEEPS null rows
    * where SQL drops them, and no guard fixes a negation's
    * semantics without re-deriving the operand's null domain).
    * STRING comparisons need care: the residual re-check only repairs
    * over-INCLUSION — a server whose collation wrongly EXCLUDES a row
    * (case-insensitive `ne`, locale ordering) loses data nothing
    * downstream can recover. So, per form:
    *   - string `gt/ge/lt/le` NEVER translate (Spark's binary
    *     ordering is not expressible in `$filter`; a collation
    *     disagreement excludes rows even in residual mode);
    *   - string `ne` translates only under `fullyPushFilters` — that
    *     option already bets consumed-eq semantics on the server
    *     comparing strings exactly, and `ne` is the same bet;
    *   - startswith/endswith/contains translate in both modes: any
    *     case-insensitive match is a SUPERSET of the binary match, so
    *     a collation disagreement only over-includes, which the
    *     residual posture re-checks (and fullyPushFilters trusts,
    *     as documented).
    * Numeric/date/boolean comparisons are collation-free canonical
    * wire forms and translate in both modes.
    */
  private def translateCond(p: Predicate): Option[CondPush] = {
    val v2 = opts.filterDialect == "v2"
    def hasStringLit(p: Predicate): Boolean = p.children().exists {
      case l: V2Literal[_] => l.dataType() == StringType
      case _ => false
    }
    def refLit(p: Predicate): Option[(String, OLit, Boolean)] =
      p.children() match {
        case Array(ref: NamedReference, lit: V2Literal[_]) =>
          for (c <- serverPath(ref); v <- renderLit(lit)) yield (c, v, false)
        case Array(lit: V2Literal[_], ref: NamedReference) =>
          for (c <- serverPath(ref); v <- renderLit(lit)) yield (c, v, true)
        case _ => None
      }
    def strArg(p: Predicate): Option[(String, String)] =
      p.children() match {
        case Array(ref: NamedReference, lit: V2Literal[_])
            if lit.dataType() == StringType && lit.value() != null =>
          serverPath(ref).map(_ -> String.valueOf(lit.value()))
        case _ => None
      }
    p.name() match {
      case ">" | ">=" | "<" | "<=" =>
        if (hasStringLit(p)) None // see Scaladoc: ordering ≠ binary collation
        else refLit(p).map { case (c, v, flipped) =>
          val op = (p.name(), flipped) match {
            case (">", false) | ("<", true)  => "gt"
            case (">=", false) | ("<=", true) => "ge"
            case ("<", false) | (">", true)  => "lt"
            case _                            => "le"
          }
          CondPush(ODataFilters.cmpCond(c, op, v), Set(c))
        }
      case "<>" =>
        if (hasStringLit(p) && !opts.fullyPushFilters) None // see Scaladoc
        else refLit(p).map { case (c, v, _) =>
          CondPush(ODataFilters.cmpCond(c, "ne", v), Set(c)) }
      case "NOT" =>
        // Catalyst hands `=!=` as NOT(=) rather than `<>`. NOT(=) and
        // NOT(IN) have exact null-guarded renderings (SQL's NOT is
        // true only on non-null operands: `(c ne v and c ne null)`,
        // resp. the conjunction of ne's); any OTHER negation declines
        // — OData's `not` keeps null rows SQL drops, and no generic
        // guard recovers the operand's null domain.
        p.children() match {
          case Array(c: Predicate) if c.name() == "=" =>
            if (hasStringLit(c) && !opts.fullyPushFilters) None // string ne
            else translateEq(c).map { case (k, v) =>
              CondPush(ODataFilters.cmpCond(k, "ne", v), Set(k)) }
          case Array(c: Predicate) if c.name() == "IN" =>
            if (hasStringLit(c) && !opts.fullyPushFilters) None // string ne's
            else translateIn(c).map { case (k, vs) =>
              CondPush(vs.map(v => s"$k ne ${v.wire}")
                .mkString("(", " and ", s" and $k ne null)"), Set(k)) }
          case _ => None
        }
      case "STARTS_WITH" =>
        strArg(p).map { case (c, raw) =>
          CondPush(ODataFilters.strFnCond("startswith", c, raw, v2), Set(c)) }
      case "ENDS_WITH" =>
        strArg(p).map { case (c, raw) =>
          CondPush(ODataFilters.strFnCond("endswith", c, raw, v2), Set(c)) }
      case "CONTAINS" =>
        strArg(p).map { case (c, raw) =>
          CondPush(ODataFilters.strFnCond("contains", c, raw, v2), Set(c)) }
      case "OR" =>
        // a disjunction implies a column non-null only when EVERY
        // branch does (intersection); each branch may itself be an
        // eq/IN, a comparison, or a nested combination
        p.children() match {
          case Array(l: Predicate, r: Predicate) =>
            for (a <- branch(l); b <- branch(r)) yield
              CondPush(s"(${a.wire} or ${b.wire})", a.notNull & b.notNull)
          case _ => None
        }
      case "AND" =>
        // top-level conjuncts arrive pre-split; an AND node only
        // appears nested under OR
        p.children() match {
          case Array(l: Predicate, r: Predicate) =>
            for (a <- branch(l); b <- branch(r)) yield
              CondPush(s"(${a.wire} and ${b.wire})", a.notNull | b.notNull)
          case _ => None
        }
      case _ => None
    }
  }

  /** An OR/AND branch: eq and IN render through their dedicated
    * forms, everything else recurses through [[translateCond]].
    */
  private def branch(p: Predicate): Option[CondPush] =
    translateEq(p).map { case (k, v) =>
      CondPush(ODataFilters.eqLit(k, v), Set(k)) }
      .orElse(translateIn(p).map { case (k, vs) =>
        CondPush(ODataFilters.inCond(k, vs), Set(k)) })
      .orElse(translateCond(p))

  /** P2 — `$top`. Partial push: caps per-partition fetch, Spark
    * still applies the global limit.
    */
  override def pushLimit(l: Int): Boolean = {
    // a limit over a pushed-complete aggregate is Spark's to apply —
    // the agg request has no $top, so don't record one the reader
    // would ignore (the plan must not claim a push that doesn't run)
    if (pushedAgg.isDefined) return false
    limit = Some(l); false
  }

  /** P5 — sort+limit to `$orderby` + `$top` (option-gated). PARTIAL
    * push always: each value chain returns its server-side top-N and
    * Spark re-sorts globally and re-applies the limit, so a server
    * whose ordering agrees with Spark's transfers N·chains rows
    * instead of everything. See ODataOptions.pushDownTopN for the
    * collation caveat.
    *
    * Interplay: because [[pushPredicates]] keeps every predicate as
    * residual BY DEFAULT, a filtered sort+limit retains Spark's Filter
    * node and TopN does NOT push (Catalyst only pushes TopN when the
    * sort sits directly on the scan) — a deliberate trade: the
    * residual filter guards semantics against sloppy servers, at the
    * cost of transferring the filtered (un-topped) rows in that shape.
    * `fullyPushFilters=true` removes the residual and lets the
    * filtered TopN push (the per-chain `$filter` already carries the
    * pushed eq, so the server tops the FILTERED rows).
    */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (!opts.pushDownTopN) return false
    if (pushedAgg.isDefined) return false // see pushLimit
    val translated = orders.toSeq.map { so =>
      val asc = so.direction() == SortDirection.ASCENDING
      // OData's SPEC default null placement (nulls first ascending,
      // last descending) is exactly Spark's default — any OTHER null
      // ordering cannot be expressed in $orderby, and a server
      // truncating under the wrong placement drops rows the re-sort
      // can never recover. Bail rather than push a lie.
      val nullsMatch =
        (asc && so.nullOrdering() == NullOrdering.NULLS_FIRST) ||
          (!asc && so.nullOrdering() == NullOrdering.NULLS_LAST)
      // route through serverPath: a declared plain column renders as
      // itself, a nested field on a declared SINGLE-VALUED nav renders
      // as OData path syntax `Nav/F` (never `Nav.F` — not $orderby
      // grammar; a sloppy server ignoring it would truncate to N under
      // the WRONG order, and the partial push's re-sort cannot recover
      // the dropped rows). Everything serverPath declines — collection
      // navs, extras, undeclared fields — declines the whole push.
      if (nullsMatch) serverPath(so.expression()).map(_ -> asc) else None
    }
    if (translated.isEmpty || translated.exists(_.isEmpty)) false
    else {
      orderBy = translated.flatten
      limit = Some(l)
      true // accepted — but only partially (isPartiallyPushed below)
    }
  }

  /** Spark must keep its own Sort+Limit: chains are concatenated and
    * server collation is not guaranteed to match Spark's.
    */
  override def isPartiallyPushed: Boolean = true

  /** P6 — aggregate pushdown to OData V4 `$apply` (option-gated, off
    * by default — the documented v2 fallback: no `$apply` in v2, so
    * declining here makes Spark compute the aggregate from streamed
    * rows). Translated COMPLETELY, never partially: the whole
    * Aggregate collapses into ONE server request returning |groups|
    * rows — `count(*)` over a 100 TB entity ships one number instead
    * of every row. Supported: `count(*)` → `aggregate($count as aN)`;
    * `count(distinct c)` → `c with countdistinct`; `min(c)`/`max(c)`
    * → `c with min/max`; grouping on plain columns →
    * `groupby((c1,..),aggregate(..))`; `count(c)` (non-null count) →
    * `filter(c ne null)/aggregate($count ..)`, only when it is the
    * SOLE aggregate with no grouping (the filter scopes the whole
    * `$apply`, which would drop all-null GROUPS a grouped count(c)
    * must keep at 0). Anything else — or any pushed predicate, any
    * extras-map reference — declines, and Spark computes.
    *
    * Catalyst only attempts this when no residual Filter sits between
    * Aggregate and scan; with the default residual posture FILTERED
    * aggregates therefore always take the fallback path, while
    * `fullyPushFilters=true` consumes the eq predicates and the
    * filtered aggregate composes into ONE
    * `$apply=filter(...)/groupby(...)` request — the full
    * filter-then-aggregate collapse, |groups| rows over the wire.
    * In string mode min/max keep the connector's string typing —
    * correct because OData string ordering and Spark's agree on the
    * server side being trusted anyway (the same trust
    * `supportCompletePushDown` declares). Under metadataSchema typed
    * groups and typed min/max push too, carrying the column's Spark
    * type into the pushed schema — the server compares NATIVE values
    * (numeric min over Edm.Int32, chronological over DateTimeOffset),
    * and the answer decodes through ODataMetadata.convert exactly
    * like a row cell.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    val t = translateAgg(agg)
    pushedAgg = t
    t.isDefined
  }

  private def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }

  /** A pushable plain column: declared in the schema and not the
    * extras map (which is client-side synthesized, not a server field).
    */
  private def serverCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    refName(e).filter(n => fullSchema.fieldNames.contains(n) &&
      !(opts.extrasEnabled && n == opts.extraColumnName))

  /** A pushable column OR nav path: `Nav.F` on a declared
    * SINGLE-VALUED expand translates to OData's `Nav/F` — both engines
    * agree a null nav never matches an eq, so the parent-row filter
    * semantics line up; a COLLECTION nav would need a `any()` lambda
    * (and Spark never hands element predicates down as plain eq
    * anyway), so only single-valued navs translate.
    */
  private def serverPath(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 2 =>
        val Array(nav, f) = r.fieldNames()
        opts.expands.find(x =>
          x.nav == nav && !x.collection && x.fields.contains(f))
          .map(_ => s"$nav/$f")
      case _ => serverCol(e)
    }

  private def translateAgg(agg: Aggregation): Option[ODataPushedAgg] = {
    if (!opts.pushDownAggregates) return None
    // pushed eq filters survive into an aggregate plan ONLY in
    // fullyPushFilters mode (otherwise the residual Filter node sits
    // between Aggregate and scan and Catalyst never attempts the push
    // — this guard is belt + suspenders). There they compose as a
    // filter() transformation PREFIX of the $apply: V4 evaluates
    // $apply before every other query option, so a plain $filter
    // would filter the AGGREGATED rows — the prefix is the only form
    // with WHERE-clause (pre-aggregation) semantics.
    if ((pushedEq.nonEmpty || pushedIn.nonEmpty || pushedConds.nonEmpty) &&
      !opts.fullyPushFilters) return None
    // under metadataSchema a column is natively typed and its wire
    // cell decodes through the same ODataMetadata.convert the row
    // scan uses — so typed groups and typed min/max PUSH, carrying
    // their Spark type into the pushed schema (a server min over a
    // native Edm.Int32 compares numerically — strictly better than
    // the string collation the all-string mode trusts). Only a type
    // the typed decode cannot round-trip declines; counts only need
    // the column to exist.
    def colType(n: String): DataType =
      fullSchema.fields.find(_.name == n).map(_.dataType).getOrElse(StringType)
    def decodable(n: String): Boolean = colType(n) match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType |
           LongType | FloatType | DoubleType | DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    val groupCols = agg.groupByExpressions().toSeq
      .map(serverCol(_).filter(decodable))
    if (groupCols.exists(_.isEmpty)) return None
    val groups = groupCols.flatten
    // translate each aggregate to (spec, isCount, resultType);
    // count(col) marks the filter-prefix form, handled after the loop
    var nonNullCountCol: Option[String] = None
    val specs = agg.aggregateExpressions().toSeq.zipWithIndex.map {
      case (_: CountStar, i) => Some((s"$$count as agg$i", true, LongType: DataType))
      case (c: Count, i) if c.isDistinct =>
        serverCol(c.column()).map(n =>
          (s"$n with countdistinct as agg$i", true, LongType: DataType))
      case (c: Count, i) if !c.isDistinct =>
        serverCol(c.column()).map { n =>
          nonNullCountCol = Some(n); (s"$$count as agg$i", true, LongType: DataType)
        }
      case (m: Min, i) =>
        serverCol(m.column()).filter(decodable)
          .map(n => (s"$n with min as agg$i", false, colType(n)))
      case (m: Max, i) =>
        serverCol(m.column()).filter(decodable)
          .map(n => (s"$n with max as agg$i", false, colType(n)))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    if (nonNullCountCol.isDefined && (specs.length > 1 || groups.nonEmpty))
      return None // the filter prefix scopes the whole $apply
    // zero aggregate expressions happens when a consumer prunes every
    // aggregate column (e.g. a bare count() over the grouped result
    // needs only the distinct keys): OData's lawful form is a bare
    // groupby((cols)) — `aggregate()` with an empty list is invalid
    val base =
      if (specs.isEmpty && groups.nonEmpty) s"groupby((${groups.mkString(",")}))"
      else if (specs.isEmpty) return None // nothing to push
      else {
        val aggPart = s"aggregate(${specs.flatten.map(_._1).mkString(",")})"
        if (groups.nonEmpty) s"groupby((${groups.mkString(",")}),$aggPart)"
        else aggPart
      }
    // pre-aggregation conditions: fully-pushed eq filters (trusted by
    // option) and the sole-ungrouped count(col)'s ne-null — one
    // filter() prefix scoping the whole transformation sequence
    val conds = ODataFilters.render(pushedEq, pushedIn, pushedConds) ++
      nonNullCountCol.map(c => s"$c ne null")
    val apply =
      if (conds.nonEmpty) s"filter(${conds.mkString(" and ")})/$base" else base
    val fields = groups.map(g => ODataAggField(g, isCount = false, colType(g))) ++
      specs.flatten.zipWithIndex.map { case ((_, isCount, dt), i) =>
        ODataAggField(s"agg$i", isCount, dt) }
    Some(ODataPushedAgg(apply, fields))
  }

  override def build(): Scan =
    // the partition key comes from the FULL schema — Catalyst may have
    // pruned it out of the read schema, but partition planning and the
    // per-partition $filter still need it
    new ODataScan(
      pushedAgg.map(_.schema).getOrElse(prunedSchema), opts, pushedEq,
      limit, orderBy,
      fullSchema.fieldNames.find(opts.structureCandidates.contains),
      pushedAgg, pushedIn, pushedConds)
}

/** One scan partition: the single unfiltered scan (no structure
  * field), a bin of partition-key values fetched sequentially by one
  * task (`maxPartitions` bounds the bin count, so a million distinct
  * keys cannot plan a million tasks), or — structure-less tenants
  * with `skipRangePartitions` — one `$skip`/`$top` row range.
  */
case class ODataInputPartition(structureField: Option[String],
                               structureValues: Seq[String],
                               skipRange: Option[(Long, Long)] = None)
  extends InputPartition

/** Driver-side scan metrics (DSv2 `reportDriverMetrics`): what the
  * structure-code enumeration cost planning. Spark renders a value by
  * instantiating the metric class by name, hence the no-arg classes.
  */
class ODataCodesRequestsMetric extends CustomSumMetric {
  override def name(): String = "codesRequests"
  override def description(): String = "codes-entity requests sent while planning"
}

class ODataCodesMsMetric extends CustomSumMetric {
  override def name(): String = "codesMs"
  override def description(): String = "structure-code enumeration time while planning (ms)"
}

/** Task-side scan metrics (DSv2 `currentMetricsValues`): what the
  * readers fetched and decoded, counted once per page.
  */
class ODataPagesMetric extends CustomSumMetric {
  override def name(): String = "pages"
  override def description(): String = "result pages fetched"
}

class ODataRowsMetric extends CustomSumMetric {
  override def name(): String = "rows"
  override def description(): String = "rows decoded from result pages"
}

class ODataResponseBytesMetric extends CustomSumMetric {
  override def name(): String = "responseBytes"
  override def description(): String = "result page bytes, as decoded"
}

class ODataDecodeMsMetric extends CustomSumMetric {
  override def name(): String = "decodeMs"
  override def description(): String = "result page decode time (ms)"
}

/** One reader's page fetch and decode, and the per-task metrics it
  * adds up (see [[ODataPagesMetric]] and its siblings).
  */
private[odata] final class PageReads(opts: ODataOptions) {
  private var pages, rows, bytes, decodeNanos = 0L

  def fetch(url: String, fields: Option[Set[String]] = None): ODataClient.Page =
    decode(ODataClient.fetch(url, opts.user, opts.password, opts.timeoutMs,
      opts.maxRetries, opts.retryBackoffMs, oauth = opts.oauth), url, fields)

  def decode(r: ODataClient.Response, base: String,
             fields: Option[Set[String]]): ODataClient.Page = {
    val t0 = System.nanoTime()
    val page = ODataClient.parsePage(r.body, base, fields)
    decodeNanos += System.nanoTime() - t0
    pages += 1
    rows += page.rows.size
    bytes += r.bytes
    page
  }

  def metrics: Array[CustomTaskMetric] =
    Array(PageReads.metric("pages", pages), PageReads.metric("rows", rows),
      PageReads.metric("responseBytes", bytes),
      PageReads.metric("decodeMs", decodeNanos / 1000000L))
}

private[odata] object PageReads {
  def metric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

class ODataScan(schema: StructType, opts: ODataOptions,
                pushedEq: Seq[(String, OLit)], limit: Option[Int],
                orderBy: Seq[(String, Boolean)],
                structureField: Option[String],
                pushedAgg: Option[ODataPushedAgg] = None,
                pushedIn: Seq[(String, Seq[OLit])] = Seq.empty,
                pushedConds: Seq[String] = Seq.empty)
  extends Scan with Batch with SupportsRuntimeV2Filtering
  with SupportsReportStatistics with Logging {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Planner statistics from one filtered `/$count` (option-gated —
    * see ODataOptions.reportStatistics): row count exact at count
    * time, size = rows × the read schema's Spark default width (the
    * same estimate a LocalRelation reports — conservative enough that
    * a "small" answer really is broadcastable). Cached per scan; a
    * pushed-complete aggregate reports unknown (|groups| is not
    * knowable without running the aggregate), as does any count
    * failure — statistics must never fail a plan.
    */
  private lazy val reportedStats: (java.util.OptionalLong, java.util.OptionalLong) =
    if (!opts.reportStatistics || pushedAgg.isDefined)
      (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
    else try {
      val rows = countRows(opts.entity, ODataFilters.render(pushedEq, pushedIn, pushedConds))
      val width = math.max(schema.defaultSize, 1)
      (java.util.OptionalLong.of(math.max(rows, 1L) * width),
        java.util.OptionalLong.of(rows))
    } catch {
      case e: Exception =>
        logWarning(s"odata statistics /$$count failed — reporting unknown: ${e.getMessage}")
        (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = reportedStats._1
    override def numRows(): java.util.OptionalLong = reportedStats._2
  }

  /** One point-in-time `/$count` of `entity` under the rendered
    * `filters` (AND-ed). */
  private def countRows(entity: String, filters: Seq[String]): Long =
    ODataClient.getWithRetry(
      ODataClient.buildUrl(opts.entityUrl(entity) + "/$count",
        if (filters.nonEmpty) Seq("$filter" -> filters.mkString(" and ")) else Nil),
      opts.user, opts.password, opts.timeoutMs, opts.maxRetries,
      opts.retryBackoffMs, oauth = opts.oauth).trim.toLong

  // what the structure-code enumeration cost this scan's planning: the
  // requests it sent (a retried request counts once) and its wall time
  private val codesRequests = new java.util.concurrent.atomic.AtomicLong
  private val codesNanos = new java.util.concurrent.atomic.AtomicLong

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ODataCodesRequestsMetric, new ODataCodesMsMetric, new ODataPagesMetric,
      new ODataRowsMetric, new ODataResponseBytesMetric, new ODataDecodeMsMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    Array(PageReads.metric("codesRequests", codesRequests.get),
      PageReads.metric("codesMs", codesNanos.get / 1000000L))

  /** RUNTIME filtering (the DSv2 dynamic-partition-pruning hook): a
    * join whose other side broadcasts hands this scan the build side's
    * actual key set at EXECUTION time, and chains plan for exactly
    * those structure values — the join-driven analogue of the static
    * IN pushdown, and at tenant scale the difference between fetching
    * every value chain and fetching the handful the join can match.
    * Runtime predicates are semantically REDUNDANT (the join
    * re-checks), so the merge may only ever prune: values INTERSECT
    * any compile-time constraint, an untranslatable predicate is
    * ignored, and a structure-less scan ignores them entirely.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (pushedAgg.isDefined) Array.empty
    // only when the column SURVIVED pruning: Spark resolves these refs
    // against the scan's output and FAILS THE PLAN (not just the
    // pruning) on a miss — a join on other columns must not die
    // because the structure field was projected away
    else structureField.filter(schema.fieldNames.contains)
      .map(f =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f)).toArray

  // None = no runtime constraint; Some(values) = structure values the
  // join can still match (possibly empty — a provably-empty join)
  @volatile private var runtimeValues: Option[Set[String]] = None

  override def filter(predicates: Array[Predicate]): Unit = {
    val sf = structureField.getOrElse(return)
    def litStr(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case l: V2Literal[_] if l.dataType() == StringType =>
          Option(l.value()).map(String.valueOf)
        case _ => None
      }
    def colIsSf(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames().sameElements(Array(sf))
        case _ => false
      }
    val sets = predicates.toSeq.flatMap { p =>
      (p.name(), p.children()) match {
        case ("IN", Array(ref, vals @ _*))
            if colIsSf(ref) && vals.forall(litStr(_).isDefined) =>
          Some(vals.flatMap(litStr).toSet)
        case ("=", Array(ref, l)) if colIsSf(ref) && litStr(l).isDefined =>
          Some(Set(litStr(l).get))
        case ("=", Array(l, ref)) if colIsSf(ref) && litStr(l).isDefined =>
          Some(Set(litStr(l).get))
        case _ => None // untranslatable runtime predicate — ignore (redundant)
      }
    }
    if (sets.nonEmpty) {
      val merged = sets.reduce(_ intersect _)
      runtimeValues = Some(runtimeValues.fold(merged)(_ intersect merged))
      planned = null // re-plan with the runtime constraint
      logInfo(s"odata runtime filter: $sf pruned to ${merged.size} values")
    }
  }
  override def description(): String =
    s"ODataScan(entity=${opts.entity}, select=${schema.fieldNames.mkString(",")}, " +
      s"filter=${ODataFilters.render(pushedEq, pushedIn, pushedConds).mkString(" and ")}, top=$limit, " +
      s"orderby=${orderBy.map { case (c, asc) => s"$c ${if (asc) "asc" else "desc"}" }.mkString(",")}" +
      pushedAgg.map(a => s", apply=${a.applyParam}").getOrElse("") + ")"

  /** Planning-time key enumeration on the driver (SURVEY §3.2 — the
    * JDBC-partition-bounds analogue; a control-plane query, not a
    * data collect). An equality filter pushed on the structure field
    * prunes to a single partition; a pushed IN on it prunes to
    * exactly the listed values — in both cases the codes-entity
    * enumeration is skipped entirely.
    *
    * The enumeration reads the structure field of every codes-entity
    * row, as the reference's one `$select=<f>&$top=<pageSize>` chain
    * does, but not one page after another. The first page is that
    * request; when it carries a continuation, its row count `n` is the
    * server's page size, and one `/$count` sizes the rest as
    * `$skip=k·n&$top=n` tiles (the last one runs to the end of the
    * first request's `$top` and follows its own continuation) fetched
    * concurrently on a driver pool of at most min(tiles,
    * maxPartitions, defaultParallelism) threads — one thread when
    * `requestPauseMs` asks for politeness. The tiles send no
    * `$orderby`: OData requires `$top`/`$skip` to page over a stable
    * ordering without one, which the serial continuation relies on
    * too. A tile that fails after its retries fails planning, and the
    * pool never outlives the call. If the tiles read a different row
    * count than `/$count` answered, the entity changed in between:
    * the scan warns and re-reads the keys through the serial chain,
    * so drift costs time but never drops a code. The result is the
    * same sorted distinct set either way, nulls and "" dropped.
    *
    * Cached per scan instance: Spark may call this more than once for
    * one execution (AQE re-plans, speculative planning), and the
    * skip-range path issues a live `/$count` — re-issuing it could
    * tile a DIFFERENT snapshot mid-job, duplicating or dropping rows
    * between plans of the same query. One scan = one tiling. (A new
    * ACTION builds a new scan and re-counts — the usual live-server
    * snapshot caveat; within-range drift is caught at read time by
    * the range reader's row-count check.) A runtime [[filter]]
    * invalidates the cache — that is the one legitimate re-plan.
    */
  @volatile private var planned: Array[InputPartition] = null

  override def planInputPartitions(): Array[InputPartition] = {
    if (planned == null) planned = planPartitions()
    planned
  }

  private def planPartitions(): Array[InputPartition] = {
    // a pushed COMPLETE aggregate is one request whose answer is
    // |groups| rows — value-partitioning the corpus is pointless (the
    // server aggregates over everything regardless of how the raw
    // rows would have been fetched), so plan exactly one task
    if (pushedAgg.isDefined) return Array(ODataInputPartition(None, Nil))
    structureField match {
      case None =>
        // structure-less tenants can still parallelize: tile a
        // point-in-time /$count into $skip/$top ranges, each fetched
        // $orderby <unique key> asc (option-gated; a pushed limit or
        // TopN is a GLOBAL cap range fetches would break, so those
        // shapes keep the single chain)
        if (opts.skipRangePartitions > 1 && limit.isEmpty && orderBy.isEmpty) {
          val total = countRows(opts.entity, ODataFilters.render(pushedEq, pushedIn, pushedConds))
          if (total == 0) return Array.empty[InputPartition]
          val n = math.min(opts.skipRangePartitions.toLong, total)
          val per = (total + n - 1) / n
          (0L until total by per).map(off =>
            ODataInputPartition(None, Nil,
              Some((off, math.min(per, total - off)))): InputPartition).toArray
        } else Array(ODataInputPartition(None, Nil))
      case Some(f) =>
        // the runtime-filter constraint (see [[filter]]) intersects
        // every static path: an eq outside it is a provably-empty
        // scan, an IN/enumeration restricts to the surviving values,
        // and — the best case — a runtime set with NO static values
        // replaces the codes enumeration entirely (values absent from
        // the tenant answer empty chains, same correctness)
        def restrict(vs: Seq[String]): Seq[String] =
          runtimeValues.fold(vs)(rv => vs.filter(rv.contains))
        // bin sorted keys into ≤ maxPartitions tasks: bounds the task
        // count at any key cardinality AND caps the global request
        // concurrency (politeness — the reference was fully
        // sequential; SURVEY §7.4 risk 4)
        def bins(vs0: Seq[String]): Array[InputPartition] = {
          val vs = vs0.distinct.sorted
          if (vs.isEmpty) return Array.empty
          val perBin = math.max(1, math.ceil(vs.size.toDouble / opts.maxPartitions).toInt)
          vs.grouped(perBin)
            .map(b => ODataInputPartition(Some(f), b): InputPartition).toArray
        }
        pushedEq.find(_._1 == f) match {
          case Some((_, v)) =>
            if (restrict(Seq(v.raw)).isEmpty) Array.empty
            else Array(ODataInputPartition(Some(f), Seq(v.raw))) // partition pruning
          case None => pushedIn.find(_._1 == f) match {
          case Some((_, vs0)) =>
            // chains for exactly the IN values: a value absent from
            // the tenant simply answers an empty chain. Bin like the
            // enumerated path so a huge picker list stays bounded.
            bins(restrict(vs0.map(_.raw)))
          case None if runtimeValues.isDefined =>
            bins(runtimeValues.get.toSeq)
          case None =>
            val t0 = System.nanoTime()
            val keys = try enumerateCodes(f)
              finally codesNanos.addAndGet(System.nanoTime() - t0)
            if (keys.isEmpty) {
              // reference semantics (etl.py:197-199): no partition keys →
              // empty result (plus a warning), NOT an unfiltered scan
              logWarning(s"no distinct values of $f in codes entity — empty scan")
              Array.empty[InputPartition]
            } else bins(keys.toSeq)
          }
        }
    }
  }

  /** The distinct non-empty values of `f` over the codes entity: the
    * first page, then concurrent `$skip` tiles checked against one
    * `/$count`, or the serial page chain (see the note on [[planned]]).
    */
  private def enumerateCodes(f: String): Set[String] = {
    def fetch(url: String): ODataClient.Page = {
      // a tile cancelled by a failed sibling stops at its next request
      if (Thread.currentThread().isInterrupted) throw new InterruptedException(url)
      codesRequests.incrementAndGet()
      ODataClient.parsePage(ODataClient.getWithRetry(url, opts.user,
        opts.password, opts.timeoutMs, opts.maxRetries, opts.retryBackoffMs,
        oauth = opts.oauth), base = url, fields = Some(Set(f)))
    }
    // one page chain followed to its end: (values, rows read)
    @scala.annotation.tailrec
    def walk(page: ODataClient.Page, keys: Set[String] = Set.empty,
             rows: Long = 0L): (Set[String], Long) = {
      val ks = keys ++ page.rows.flatMap(_.get(f)).filter(v => v != null && v.nonEmpty)
      page.nextLink match {
        case Some(next) => walk(fetch(next), ks, rows + page.rows.size)
        case None => (ks, rows + page.rows.size)
      }
    }
    def codesUrl(params: (String, String)*): String =
      ODataClient.buildUrl(opts.entityUrl(opts.codesEntity),
        ("$select" -> f) +: params :+ ("$format" -> "json"))

    val first = fetch(codesUrl("$top" -> opts.pageSize.toString))
    val n = first.rows.size.toLong
    if (first.nextLink.isEmpty || n == 0 || n >= opts.pageSize) return walk(first)._1
    codesRequests.incrementAndGet()
    val counted = countRows(opts.codesEntity, Nil)
    // the rows the serial chain reads: its $top caps the whole answer
    val total = math.min(counted, opts.pageSize.toLong)
    // at least one tile, so a count no larger than the first page still
    // reads past it (and shows the drift)
    val last = math.max(n, (total - 1) / n * n)
    val tiles = (n to last by n).map(skip => codesUrl("$skip" -> skip.toString,
      "$top" -> (if (skip == last) opts.pageSize - skip else n).toString))
    val threads =
      if (opts.requestPauseMs > 0) 1
      else math.max(1, Seq(tiles.size, opts.maxPartitions,
        org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .map(_.sparkContext.defaultParallelism).getOrElse(1)).min)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, r => {
      val t = new Thread(r, "odata-codes-tile"); t.setDaemon(true); t
    })
    val parts = try {
      val done = new java.util.concurrent.ExecutorCompletionService[(Set[String], Long)](pool)
      tiles.foreach(u => done.submit(() => walk(fetch(u))))
      // the first failed tile fails planning; `finally` cancels the rest
      tiles.map { _ =>
        try done.take().get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(opts.timeoutMs.toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    val read = n + parts.map(_._2).sum
    if (read == total) parts.foldLeft(walk(first.copy(nextLink = None))._1)(_ ++ _._1)
    else {
      logWarning(s"odata codes entity ${opts.codesEntity}: /$$count answered $counted " +
        s"but the pages read $read of the $total expected rows — it changed while " +
        s"planning; re-reading the structure codes through the serial page chain")
      walk(first)._1
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    pushedAgg match {
      case Some(agg) => new ODataAggReaderFactory(agg, opts)
      case None =>
        new ODataReaderFactory(schema, opts, pushedEq, limit, orderBy,
          pushedIn, pushedConds)
    }
}

class ODataAggReaderFactory(agg: ODataPushedAgg, opts: ODataOptions)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ODataAggPartitionReader(agg, opts)
}

/** Reader for a pushed-complete aggregate: one `$apply` request (plus
  * server-driven pagination if the group count exceeds a page). Always
  * fail-fast regardless of the tolerance option — a PARTIAL aggregate
  * is not partial data, it is a wrong answer (Spark plans no final
  * aggregation above a complete push, so nothing would re-check it).
  */
class ODataAggPartitionReader(agg: ODataPushedAgg, opts: ODataOptions)
  extends PartitionReader[InternalRow] with Logging {

  private var started = false
  private var rows: Iterator[Map[String, String]] = Iterator.empty
  private var nextLink: Option[String] = None
  private var current: Map[String, String] = _

  private val reads = new PageReads(opts)

  private def loadPage(url: String): Unit = {
    val page = reads.fetch(url)
    rows = page.rows.iterator
    nextLink = page.nextLink
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = reads.metrics

  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!started) {
        started = true
        loadPage(ODataClient.buildUrl(opts.entityUrl(opts.entity),
          Seq("$apply" -> agg.applyParam, "$format" -> "json")))
      } else nextLink match {
        case Some(u) =>
          if (opts.requestPauseMs > 0) Thread.sleep(opts.requestPauseMs)
          loadPage(u)
        case None => return false
      }
    }
    current = rows.next(); true
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(agg.fields.map { f =>
      val v = current.get(f.name).orNull
      if (f.isCount)
        // $count / countdistinct are never null; a server omitting the
        // alias is a protocol violation worth a loud parse error
        java.lang.Long.parseLong(v): Any
      else Option(v).map { s =>
        // typed group keys / min-max answers decode through the same
        // path as row cells; malformed cells fail loudly BY NAME
        if (f.dataType == StringType) UTF8String.fromString(s): Any
        else ODataMetadata.convert(s, f.dataType, f.name)
      }.orNull: Any
    })

  override def close(): Unit = ()
}

class ODataReaderFactory(schema: StructType, opts: ODataOptions,
                         pushedEq: Seq[(String, OLit)], limit: Option[Int],
                         orderBy: Seq[(String, Boolean)],
                         pushedIn: Seq[(String, Seq[OLit])] = Seq.empty,
                         pushedConds: Seq[String] = Seq.empty)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ODataPartitionReader(schema, opts,
      partition.asInstanceOf[ODataInputPartition], pushedEq, limit, orderBy,
      pushedIn, pushedConds)
}

/** One task = one bin of partition-key values, each a paginated fetch
  * chain run sequentially (next-links and the reference's politeness
  * pause are inherently sequential). Pages stream row-by-row; nothing
  * accumulates beyond the current page (the reference held the whole
  * dataset in RAM — SURVEY §4.2).
  */
class ODataPartitionReader(schema: StructType, opts: ODataOptions,
                           partition: ODataInputPartition,
                           pushedEq: Seq[(String, OLit)], limit: Option[Int],
                           orderBy: Seq[(String, Boolean)] = Seq.empty,
                           pushedIn: Seq[(String, Seq[OLit])] = Seq.empty,
                           pushedConds: Seq[String] = Seq.empty)
  extends PartitionReader[InternalRow] with Logging {

  private val structureField = partition.structureField

  /** Fields the user DECLARED (select list + any structure candidate
    * + expand navs): in `extraColumns=map` mode, everything else the
    * server returns lands in the extras map. Candidates and navs count
    * as declared so a detected structure column or an expanded nav
    * never duplicates into the map.
    */
  private val declaredFields: Set[String] =
    (opts.selectFields ++ opts.structureCandidates ++
      opts.expands.map(_.nav)).toSet

  /** Nav expansions SURVIVING column pruning, reconstructed from the
    * pruned read schema itself (struct = single-valued, array<struct>
    * = collection; the nested fields are the pruned projection) — the
    * schema IS the builder→reader contract, so a nav Catalyst pruned
    * away builds no `$expand` at all. RECURSIVE: a struct/array field
    * INSIDE a nav struct is a nested expansion, everything else a
    * scalar projection.
    */
  private def specOf(name: String, st: StructType, collection: Boolean): ExpandSpec = {
    val (navFields, scalarFields) = st.fields.toSeq.partition(f =>
      ODataSchema.navStructOf(f.dataType).isDefined)
    ExpandSpec(name, collection, scalarFields.map(_.name),
      navFields.map { f =>
        val (cst, coll) = ODataSchema.navStructOf(f.dataType).get
        specOf(f.name, cst, coll)
      })
  }
  private val effExpands: Seq[ExpandSpec] = schema.fields.toSeq.flatMap { f =>
    f.dataType match {
      case st: StructType =>
        Some(specOf(f.name, st, collection = false))
      case ArrayType(st: StructType, _) =>
        Some(specOf(f.name, st, collection = true))
      case _ => None
    }
  }
  private val navByName: Map[String, ExpandSpec] =
    effExpands.map(e => e.nav -> e).toMap

  // the PRUNED nested schema per nav — under metadataSchema its fields
  // carry native types the nested decode dispatches on (string mode:
  // all StringType, the fast path)
  private val navSchemas: Map[String, StructType] =
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType => Some(f.name -> st)
        case ArrayType(st: StructType, _) => Some(f.name -> st)
        case _ => None
      }
    }.toMap

  // queue of structure values this task owns; None = one unfiltered chain
  private var pending: List[Option[String]] =
    if (partition.structureValues.isEmpty) List(None)
    else partition.structureValues.map(Some(_)).toList
  private var anyChainStarted = false

  // batchFirstPages: this task's chain FIRST pages, fetched in one
  // $batch POST keyed by structure value, dropped as each chain
  // consumes its page (see ODataOptions.batchFirstPages). null until
  // the one-time prefetch runs; stays empty when the option is off,
  // the bin has <2 values, or this is a skip-range task.
  private var prefetched: scala.collection.mutable.Map[String, ODataClient.Response] = null
  private def prefetchFirstPages(): Unit = {
    if (prefetched != null) return
    prefetched = scala.collection.mutable.Map.empty
    if (!opts.batchFirstPages || partition.skipRange.isDefined) return
    val vals = pending.flatten
    if (vals.size < 2) return
    val reqs = vals.map(v => v -> firstUrl(Some(v)))
    val resps = ODataClient.postJsonBatch(
      opts.entityUrl("$batch"), reqs, opts.user, opts.password,
      opts.timeoutMs, opts.maxRetries, opts.retryBackoffMs,
      oauth = opts.oauth)
    reqs.foreach { case (v, _) => prefetched(v) = resps(v) }
  }

  private var rows: Iterator[Map[String, String]] = Iterator.empty
  private var nextLink: Option[String] = None
  private var current: Map[String, String] = _
  private var rangeRowsRead: Long = 0L

  private def firstUrl(structureValue: Option[String]): String = {
    // pushed predicates on the structure field drop ONLY when the
    // chain's own `f eq '<value>'` already implies them (an eq for
    // the same value; an IN whose list contains it) — a CONTRADICTORY
    // one (a second eq for a different value, an IN excluding this
    // chain) must stay so the server lawfully answers 0 rows; in
    // fullyPushFilters mode nothing above the scan would re-check
    val filters =
      structureValue.toSeq.flatMap(v =>
        structureField.map(f => ODataFilters.eqCond(f, v))) ++
        ODataFilters.render(
          pushedEq.filter { case (k, v) =>
            !(structureValue.contains(v.raw) && structureField.contains(k)) },
          pushedIn.filter { case (k, vs) =>
            !(structureValue.isDefined && structureField.contains(k) &&
              vs.exists(_.raw == structureValue.get)) },
          pushedConds)
    // the extras map is not a server-side field — it must never appear
    // in $select. If pruning left ONLY the extras column, omit $select
    // entirely (the server then returns every field, which is exactly
    // what an extras-only projection asks for).
    val selectScalars = schema.fieldNames.toSeq
      .filterNot(f => (opts.extrasEnabled && f == opts.extraColumnName) ||
        navByName.contains(f))
    // surviving navs render per dialect: v4 nests the projection in
    // the expand itself ($expand=Nav($select=F1,F2), with the nav
    // named in the parent $select — lawful and prunes parent fields),
    // and a NESTED expansion rides the same entry's $expand option
    // behind the v4 semicolon separator
    // ($expand=Nav($select=F1;$expand=Child($select=G1))); v2 has no
    // nested options, so expansions render as path entries
    // ($expand=Nav,Nav/Child) and the whole projection rides the
    // parent $select as Nav/F1 and Nav/Child/G1 paths
    def v4Expand(e: ExpandSpec): String = {
      val sel = s"$$select=${e.fields.mkString(",")}"
      val exp =
        if (e.children.isEmpty) ""
        else s";$$expand=${e.children.map(v4Expand).mkString(",")}"
      s"${e.nav}($sel$exp)"
    }
    def v2ExpandPaths(e: ExpandSpec, prefix: String): Seq[String] =
      (prefix + e.nav) +:
        e.children.flatMap(c => v2ExpandPaths(c, s"$prefix${e.nav}/"))
    def v2SelectPaths(e: ExpandSpec, prefix: String): Seq[String] =
      e.fields.map(f => s"$prefix${e.nav}/$f") ++
        e.children.flatMap(c => v2SelectPaths(c, s"$prefix${e.nav}/"))
    val expandParam =
      if (effExpands.isEmpty) Nil
      else if (opts.expandStyle == "v2")
        Seq("$expand" -> effExpands.flatMap(v2ExpandPaths(_, "")).mkString(","))
      else
        Seq("$expand" -> effExpands.map(v4Expand).mkString(","))
    val selectList = selectScalars ++
      (if (opts.expandStyle == "v2")
         effExpands.flatMap(v2SelectPaths(_, ""))
       else effExpands.map(_.nav))
    val selectParam =
      (if (selectList.nonEmpty) Seq("$select" -> selectList.mkString(",")) else Nil) ++
        expandParam
    // a $skip/$top range task: the stable-order range fetch replaces
    // the chain's own limit/orderby entirely (engagement already
    // excluded pushed limit/TopN shapes)
    partition.skipRange.foreach { case (off, size) =>
      val params = selectParam ++ Seq(
        "$orderby" -> s"${opts.skipRangeOrderKey.get} asc",
        "$skip" -> off.toString,
        "$top" -> size.toString,
        "$format" -> "json") ++
        (if (filters.nonEmpty) Seq("$filter" -> filters.mkString(" and ")) else Nil)
      return ODataClient.buildUrl(opts.entityUrl(opts.entity), params)
    }
    val params = selectParam ++ Seq(
      // $top caps the ENTIRE chain in OData (the server keeps it across
      // $skiptoken pages), so a pushed limit must travel UNCLAMPED — a
      // min() with pageSize would truncate a top-5000 to pageSize rows
      // and silently drop ranks pageSize+1..5000. Without a pushed
      // limit, pageSize is the reference's requested cap (etl.py's
      // $top=1e6 — reference parity, documented).
      "$top" -> limit.map(_.toLong).getOrElse(opts.pageSize.toLong).toString,
      "$format" -> "json") ++
      (if (orderBy.nonEmpty)
         Seq("$orderby" -> orderBy.map { case (c, asc) =>
           s"$c ${if (asc) "asc" else "desc"}" }.mkString(",")) else Nil) ++
      (if (filters.nonEmpty) Seq("$filter" -> filters.mkString(" and ")) else Nil)
    ODataClient.buildUrl(opts.entityUrl(opts.entity), params)
  }

  private val reads = new PageReads(opts)

  // the row fields this reader decodes: the pruned schema's, plus the
  // paging annotation of every nav it expands; every field when the
  // extras map is read
  private val pageFields: Option[Set[String]] =
    if (opts.extrasEnabled && schema.fieldNames.contains(opts.extraColumnName)) None
    else Some(schema.fieldNames.toSet ++ effExpands.map(e => s"${e.nav}@odata.nextLink"))

  private def setPage(page: ODataClient.Page): Unit = {
    rows = page.rows.iterator
    nextLink = page.nextLink
  }

  private def loadPage(url: String): Unit = setPage(reads.fetch(url, pageFields))

  override def currentMetricsValues(): Array[CustomTaskMetric] = reads.metrics

  /** Advance to the next value's chain; R4 tolerance is PER VALUE —
    * one failing value logs and skips, the rest of the bin proceeds
    * (matching the reference's per-structure try/except).
    */
  private def advance(): Boolean = {
    // one-time, OUTSIDE the per-value tolerance try: a failed $batch
    // POST is a transport/misconfiguration failure and stays loud
    // regardless of failFast (the batchControlPlane posture); per-VALUE
    // tolerance applies to SUB-responses, decoded at chain start below
    prefetchFirstPages()
    while (!rows.hasNext) {
      try {
        if (nextLink.isDefined) {
          if (opts.requestPauseMs > 0) Thread.sleep(opts.requestPauseMs) // R5 politeness
          loadPage(nextLink.get)
        } else pending match {
          case v :: rest =>
            pending = rest
            val pre = v.flatMap(prefetched.remove)
            // R5 politeness paces LIVE requests; a prefetched first
            // page already rode the one $batch round-trip
            if (pre.isEmpty && anyChainStarted && opts.requestPauseMs > 0)
              Thread.sleep(opts.requestPauseMs)
            anyChainStarted = true
            pre match {
              case Some(r) if r.status >= 200 && r.status < 300 =>
                setPage(reads.decode(r, firstUrl(v), pageFields))
              case Some(r) if opts.maxRetries > 0 =>
                // a failed SUB-response re-fetches LIVE so the
                // per-request retry budget applies to batched chains
                // exactly as it does to sequential ones (the $batch
                // transport must not weaken the retry contract); a
                // permanent failure then fails — or is tolerated —
                // through the same GET path
                logWarning(s"odata batchFirstPages: sub-response " +
                  s"${r.status} for chain $v — re-fetching live")
                loadPage(firstUrl(v))
              case Some(r) =>
                throw new ODataClient.ODataHttpException(
                  r.status, firstUrl(v), r.body)
              case None => loadPage(firstUrl(v))
            }
          case Nil => return false
        }
      } catch {
        // R4 tolerance is scoped to structure-VALUE chains (the
        // reference's per-structure try/except — a skipped value is a
        // meaningful unit of partial data). A $skip/$top RANGE is not:
        // silently dropping an arbitrary row window is plain data
        // loss, so range tasks fail fast regardless of the option.
        case e: Exception if !opts.failFast && partition.skipRange.isEmpty =>
          logWarning(s"odata value chain failed, skipping (partial data): ${e.getMessage}")
          rows = Iterator.empty
          nextLink = None
      }
    }
    true
  }

  /** A `$skip`/`$top` range task must yield EXACTLY its planned size:
    * the ranges tile a planning-time `/$count`, so a short (or long)
    * range means rows moved under the tiling between the count and
    * this fetch — silent duplication/loss across range boundaries.
    * Detect it at read time and FAIL THE JOB: task retries re-run the
    * same InputPartition against the same (cached) tiling, so a
    * drifted range deterministically re-fails every retry — there is
    * no self-healing re-plan; the operator re-runs the action, whose
    * new scan re-counts and tiles the current snapshot. Failing loud
    * is the design (the alternative is silent row loss/duplication);
    * the error message says exactly that.
    */
  override def next(): Boolean =
    if (advance()) {
      current = rows.next()
      partition.skipRange.foreach { case (_, size) =>
        rangeRowsRead += 1
        require(rangeRowsRead <= size,
          s"odata skip-range drift: range of $size rows returned more — " +
            "the server's row set changed under the planned tiling")
      }
      true
    } else {
      partition.skipRange.foreach { case (off, size) =>
        require(rangeRowsRead == size,
          s"odata skip-range drift: range [$off, ${off + size}) returned " +
            s"$rangeRowsRead of $size planned rows — the server's row set " +
            "changed under the planned tiling (rows inserted/removed " +
            "between /$count and this fetch). Task retries re-use the " +
            "same tiling and will fail the same way; re-run the job to " +
            "re-count and tile the current snapshot")
      }
      false
    }

  /** Decode one EXPANDED nav cell — parsePage preserved the nested
    * value as its JSON text — into Catalyst data: single-valued nav →
    * one nested row of the projected string fields; collection nav →
    * an array of such rows, unwrapping the v2 `{"results": [...]}`
    * envelope when present. A cell of the WRONG cardinality (array
    * where a single entity was declared, or vice versa) fails fast:
    * silently nulling a mis-declared nav would read an entire feed
    * "successfully" with the association data gone.
    *
    * A SERVER-PAGED collection — the inline cell carries only a
    * prefix plus a continuation: a v4 sibling `Nav@odata.nextLink`
    * annotation (protocol §11.2.4.2, handed in as `v4Cont`) or a v2
    * `__next` inside the nested results envelope — is FOLLOWED here,
    * chaining the nested pages inside the task exactly like the
    * entity's own pagination (S5). Ignoring the continuation would be
    * the one silent-partial-data shape the connector elsewhere treats
    * as a hard error. A continuation on a single-valued nav is a
    * protocol violation and fails fast.
    */
  private def navCell(txt: String, e: ExpandSpec, nested: StructType,
                      v4Cont: Option[String]): Any = {
    val node = ODataClient.parseJson(txt)
    def row(n: com.fasterxml.jackson.databind.JsonNode): InternalRow = {
      require(n.isObject, s"odata expand: nav '${e.nav}' entity is not " +
        s"a JSON object: ${n.toString.take(200)}")
      rowFromMap(ODataClient.nodeToMap(n), e, nested)
    }
    if (e.collection) {
      val (arr, v2Cont) =
        if (node.isArray) (node, None)
        else if (node.isObject && node.has("results")) // v2 envelope
          (node.get("results"),
            Option(node.get("__next")).map(_.asText()).filter(_.nonEmpty))
        else throw new IllegalArgumentException(
          s"odata expand: collection nav '${e.nav}' cell is neither an " +
            s"array nor a v2 results envelope: ${txt.take(200)}")
      val inline = arr.elements().asScala.map(row(_): Any).toArray
      val rest = v4Cont.orElse(v2Cont).map(followNavPages(_, e, nested))
        .getOrElse(Array.empty[Any])
      new org.apache.spark.sql.catalyst.util.GenericArrayData(inline ++ rest)
    } else {
      require(v4Cont.isEmpty, s"odata expand: single-valued nav " +
        s"'${e.nav}' carries a pagination annotation — protocol violation")
      row(node)
    }
  }

  /** One nav entity from its stringified cell map — the ONE decode
    * shape both the inline path (JsonNode → [[ODataClient.nodeToMap]])
    * and the continuation path (parsePage rows) share. RECURSIVE: a
    * nested-expansion field's cell is itself a nav cell (JSON text +
    * optional sibling pagination annotation) and decodes through
    * [[navCell]] with the child spec — so a grandchild collection
    * pages, validates cardinality, and types its fields exactly like
    * a first-level nav, at any depth.
    */
  private def rowFromMap(r: Map[String, String], e: ExpandSpec,
                         nested: StructType): InternalRow = {
    val childByName = e.children.map(c => c.nav -> c).toMap
    InternalRow.fromSeq(nested.fields.toIndexedSeq.map { sf =>
      childByName.get(sf.name) match {
        case Some(c) =>
          val cst = ODataSchema.navStructOf(sf.dataType).map(_._1)
            .getOrElse(throw new IllegalStateException(
              s"odata expand: nested nav '${sf.name}' has non-struct " +
                s"type ${sf.dataType.catalogString}"))
          val cont = r.get(s"${sf.name}@odata.nextLink").flatMap(Option(_))
          r.get(sf.name).flatMap(Option(_)) match {
            case Some(txt) => navCell(txt, c, cst, cont)
            case None if cont.isDefined && c.collection =>
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                followNavPages(cont.get, c, cst))
            case None if cont.isDefined =>
              throw new IllegalStateException(s"odata expand: single-valued " +
                s"nav '${sf.name}' carries a pagination annotation — " +
                "protocol violation")
            case None => null
          }
        case None =>
          r.get(sf.name).filter(_ != null).map { v =>
            sf.dataType match {
              case StringType => UTF8String.fromString(v): Any
              case dt => ODataMetadata.convert(v, dt, s"${e.nav}.${sf.name}")
            }
          }.orNull
      }
    })
  }

  /** Chain a paged expanded collection's continuation pages: each is a
    * standard (dialect-shaped) collection payload the shared envelope
    * parser decodes, possibly paged again. ALWAYS fail-fast, even
    * under `failFast=false`: the tolerance unit is a structure-value
    * CHAIN — silently truncating one parent's child collection is
    * partial association data nothing downstream can detect.
    */
  private def followNavPages(first: String, e: ExpandSpec,
                             nested: StructType): Array[Any] = {
    val out = Array.newBuilder[Any]
    // the annotation's URL may be RELATIVE (it never passed through
    // parsePage's base resolution — it rides a CELL of the parent
    // page); the entity URL shares the host+path root the parent page
    // was fetched from, so RFC 3986 resolution against it is exact for
    // path-absolute links and the lawful default for path-relative
    var url: Option[String] =
      Some(ODataClient.resolveLink(opts.entityUrl(opts.entity), first))
    while (url.isDefined) {
      if (opts.requestPauseMs > 0) Thread.sleep(opts.requestPauseMs) // R5
      val page = reads.fetch(url.get)
      out ++= page.rows.map(rowFromMap(_, e, nested): Any)
      url = page.nextLink
    }
    out.result()
  }

  // the paging annotations of declared navs are protocol plumbing this
  // reader CONSUMES — they must not leak into the extras map
  private val navAnnotations: Set[String] =
    opts.expands.map(e => s"${e.nav}@odata.nextLink").toSet

  // per-field Catalyst type from the (possibly metadata-typed) read
  // schema — the scalar decode dispatches on it; string mode takes
  // the same path with the StringType fast case
  private val fieldType: Map[String, DataType] =
    schema.fields.map(f => f.name -> f.dataType).toMap

  override def get(): InternalRow =
    InternalRow.fromSeq(schema.fieldNames.toIndexedSeq.map {
      case f if navByName.contains(f) =>
        val e = navByName(f)
        val v4Cont = current.get(s"$f@odata.nextLink").flatMap(Option(_))
        current.get(f).flatMap(Option(_)) match {
          case Some(txt) => navCell(txt, e, navSchemas(f), v4Cont)
          case None if v4Cont.isDefined && e.collection =>
            // annotation with no inline prefix: the whole collection
            // lives behind the continuation
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              followNavPages(v4Cont.get, e, navSchemas(f)))
          case None if v4Cont.isDefined =>
            throw new IllegalStateException(s"odata expand: single-valued " +
              s"nav '$f' carries a pagination annotation — protocol violation")
          case None => null // nav omitted or explicit null
        }
      case f if opts.extrasEnabled && f == opts.extraColumnName =>
        // every server-returned field the user did not declare, in
        // sorted key order (deterministic map layout → deterministic
        // to_json downstream). Values carry parsePage's stringify:
        // scalars as text, nested objects as their JSON text.
        val extras = current.iterator
          .filter { case (k, _) =>
            !declaredFields.contains(k) && !navAnnotations.contains(k) }
          .toArray.sortBy(_._1)
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            extras.map(e => UTF8String.fromString(e._1): Any)),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            extras.map(e =>
              Option(e._2).map(UTF8String.fromString).orNull: Any)))
      case f =>
        current.get(f).filter(_ != null).map { v =>
          fieldType(f) match {
            case StringType => UTF8String.fromString(v): Any
            case dt => ODataMetadata.convert(v, dt, f)
          }
        }.orNull
    })

  override def close(): Unit = ()
}
