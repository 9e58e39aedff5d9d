package graft.odata

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.odata.testkit.{ODataStubServer, StubNav}

class ODataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val selectFields = "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS"
  private val candidates   = "COCHAR_STRUCTURE,C0CHAR_STRUCTURE"

  private def mkRows(n: Int): Seq[Map[String, String]] =
    (0 until n).map { i =>
      Map(
        "TEMPLOYEE_UUID" -> s"Employee $i",
        "CEMPLOYEE_UUID" -> i.toString,
        "KCLEAVERS" -> "1",
        "C0CHAR_STRUCTURE" -> s"STRUCT${i % 3}")
    }

  private def read(srv: ODataStubServer, extra: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.format("odata")
      .option("baseUrl", srv.url)
      .option("servicePath", "sap/byd/odata/analytics.svc")
      .option("entity", "EmployeeQueryResults")
      .option("selectFields", selectFields)
      .option("structureCandidates", candidates)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("schema probe skips 404'd candidate and appends detected structure column") {
    val srv = new ODataStubServer(mkRows(5), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv)
      assert(df.columns.toSeq ==
        Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "KCLEAVERS", "C0CHAR_STRUCTURE"))
      assert(df.count() == 5)
    } finally srv.stop()
  }

  test("value-partitioned scan: one input partition per distinct structure value") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv)
      assert(df.rdd.getNumPartitions == 3) // STRUCT0/1/2
      assert(df.count() == 9)
      assert(df.select("C0CHAR_STRUCTURE").distinct().count() == 3)
    } finally srv.stop()
  }

  test("transient 5xx failures retry with backoff and the scan succeeds") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      transientFailures = 2).start()
    try {
      val df = read(srv, Map("maxRetries" -> "3", "retryBackoffMs" -> "10",
        "failFast" -> "true"))
      assert(df.count() == 6) // would throw without retry (failFast=true)
    } finally srv.stop()
  }

  test("maxRetries=0 with failFast surfaces the transient failure") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      transientFailures = 2).start()
    try {
      val df = read(srv, Map("maxRetries" -> "0", "failFast" -> "true"))
      intercept[org.apache.spark.SparkException] { df.count() }
    } finally srv.stop()
  }

  test("sort+limit pushes down as \\$orderby + \\$top (partial: Spark re-sorts)") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv).orderBy(desc("CEMPLOYEE_UUID")).limit(2)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got == Seq("8", "7")) // string ordering, matching both engines
      assert(srv.requestLog.exists(_.contains("%24orderby=CEMPLOYEE_UUID+desc")),
        s"no \\$$orderby seen in: ${srv.requestLog.mkString("\n")}")
    } finally srv.stop()
  }

  test("filtered sort+limit stays correct; residual filters block TopN push by design") {
    // 30 rows, server pages of 4. The connector returns every pushed
    // predicate as residual (belt + suspenders against sloppy
    // servers), so Spark keeps a Filter between Sort and the scan and
    // TopN cannot push — the FILTER still reaches the wire, the sort
    // runs in Spark, results are exact either way.
    val srv = new ODataStubServer(mkRows(30), "C0CHAR_STRUCTURE",
      serverPageSize = 4).start()
    try {
      val got = read(srv)
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
        .orderBy(desc("CEMPLOYEE_UUID")).limit(3)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      // STRUCT1 ⇔ i % 3 == 1 → ids 1,4,...,28; desc string order
      assert(got == Seq("7", "4", "28"))
      assert(srv.requestLog.exists(_.contains("%24filter")), "filter must reach the wire")
    } finally srv.stop()
  }

  test("non-default null ordering refuses TopN pushdown (server placement can't express it)") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv).orderBy(col("CEMPLOYEE_UUID").desc_nulls_first).limit(2)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got == Seq("8", "7"))
      assert(!srv.requestLog.exists(_.contains("%24orderby")),
        "desc_nulls_first contradicts OData's desc placement — must not push")
    } finally srv.stop()
  }

  test("pushed limit larger than pageSize travels unclamped in \\$top") {
    val srv = new ODataStubServer(mkRows(30), "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv, Map("pageSize" -> "4"))
        .orderBy(desc("CEMPLOYEE_UUID")).limit(10)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got.size == 10 && got.take(3) == Seq("9", "8", "7"),
        s"a \\$$top clamped to pageSize would lose ranks 5..10: $got")
      assert(srv.requestLog.exists(_.contains("%24top=10")),
        s"pushed limit must reach the wire whole: ${srv.requestLog.mkString("\n")}")
    } finally srv.stop()
  }

  test("TopN on a single-valued nav field renders OData path syntax (\\$orderby=Manager/M_NAME, never 'Manager.M_NAME')") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(9)).start()
    try {
      // Spark's default desc placement (nulls LAST) matches OData's —
      // the push is legal; odd employees have no Manager (null struct)
      val got = read(srv, Map("expand" -> "Manager(M_NAME,M_LEVEL)",
        "failFast" -> "true"))
        .orderBy(desc("Manager.M_NAME")).limit(2)
        .select(col("Manager.M_NAME")).as[String].collect().toSeq
      assert(got == Seq("Manager of 8", "Manager of 6"), got)
      // the strict stub 400s any non-`/` path (incl. the '.'-joined
      // pseudo-path a naive renderer emits), so reaching here proves
      // the wire carried lawful syntax — pin it explicitly too
      val decoded = srv.requestLog.map(
        java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains("$orderby=Manager/M_NAME desc")),
        s"nav-path \\$$orderby must use '/' syntax: $decoded")
      assert(!decoded.exists(_.contains("Manager.M_NAME")),
        s"'.'-joined pseudo-path leaked to the wire: $decoded")
    } finally srv.stop()
  }

  test("pushDownTopN=false keeps \\$orderby off the wire, same results") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv, Map("pushDownTopN" -> "false"))
        .orderBy(desc("CEMPLOYEE_UUID")).limit(2)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got == Seq("8", "7"))
      assert(!srv.requestLog.exists(_.contains("%24orderby")),
        "disabled TopN pushdown must not emit \\$orderby")
    } finally srv.stop()
  }

  test("batchFirstPages: a task's chain first pages collapse into ONE \\$batch POST — same rows, K-1 round-trips saved, per-value tolerance intact") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      dialect = "v4").start()
    try {
      // maxPartitions=1 → all 3 structure values in one bin/task
      val plainStart = srv.clientRequests.get()
      val plain = read(srv, Map("maxPartitions" -> "1"))
        .collect().map(_.toString).sorted.toSeq
      val plainCost = srv.clientRequests.get() - plainStart
      val batchStart = srv.clientRequests.get()
      val logStart = srv.requestLog.size
      val batched = read(srv, Map("maxPartitions" -> "1",
        "batchFirstPages" -> "true"))
        .collect().map(_.toString).sorted.toSeq
      val batchCost = srv.clientRequests.get() - batchStart
      assert(batched == plain, s"$batched\nvs\n$plain")
      assert(srv.requestLog.drop(logStart).exists(_.contains("$batch")),
        srv.requestLog.drop(logStart))
      // 3 chain-first GETs became 1 POST: exactly K-1 = 2 fewer
      // client round-trips (probe + codes enumeration unchanged)
      assert(batchCost == plainCost - 2, s"batched=$batchCost plain=$plainCost")
    } finally srv.stop()
    // per-VALUE tolerance: one poisoned value's sub-response 500s;
    // failFast=false skips exactly that chain, the batch POST itself
    // succeeded
    val srv2 = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      dialect = "v4", failValues = Set("STRUCT1")).start()
    try {
      val got = read(srv2, Map("maxPartitions" -> "1",
        "batchFirstPages" -> "true", "failFast" -> "false",
        "maxRetries" -> "0"))
        .select("C0CHAR_STRUCTURE").as[String].collect().toSet
      assert(got == Set("STRUCT0", "STRUCT2"), got)
      // ...and failFast=true dies loudly on the same sub-response
      val e = intercept[Exception] {
        read(srv2, Map("maxPartitions" -> "1", "batchFirstPages" -> "true",
          "failFast" -> "true", "maxRetries" -> "0")).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("500"), msgs)
    } finally srv2.stop()
  }

  test("batchFirstPages: a transient sub-response re-fetches LIVE under the retry budget — batching must not weaken the retry contract") {
    // the 3 chain-first sub-requests each eat one transient 503; the
    // per-chain live re-fetch then succeeds within the retry budget —
    // the same outcome the sequential path's getWithRetry would reach
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      dialect = "v4", transientFailures = 3).start()
    try {
      val n = read(srv, Map("maxPartitions" -> "1",
        "batchFirstPages" -> "true", "failFast" -> "true",
        "maxRetries" -> "2", "retryBackoffMs" -> "1")).count()
      assert(n == 9)
    } finally srv.stop()
  }

  test("delta sync: flipping metadataSchema between rounds fails BY FIELD — never a silently string-coerced table") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    val typedRows = (0 until 3).map(i => Map(
      "CEMPLOYEE_UUID" -> i.toString, "KCLEAVERS" -> i.toString,
      "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}"))
    val srv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      deltaBatches = Seq((Seq(Map("CEMPLOYEE_UUID" -> "1",
        "KCLEAVERS" -> "9")), Nil)),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath =
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_delta_flip"
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      def mkOpts(typed: Boolean) = ODataOptions(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
            "entity", "EmployeeQueryResults",
            "selectFields", "CEMPLOYEE_UUID,KCLEAVERS",
            "metadataSchema", typed.toString)))
      // materialize STRING-typed, then flip the option for round 2:
      // Spark would quietly coerce the coalesce branches to string —
      // the guard fails by field name instead
      ODataDelta.syncToParquet(spark, mkOpts(typed = false),
        "CEMPLOYEE_UUID", tablePath)
      val e = intercept[IllegalArgumentException] {
        ODataDelta.syncToParquet(spark, mkOpts(typed = true),
          "CEMPLOYEE_UUID", tablePath)
      }
      assert(e.getMessage.contains("KCLEAVERS") &&
        e.getMessage.contains("string") && e.getMessage.contains("int"),
        e.getMessage)
    } finally srv.stop()
  }

  test("relative continuation URLs resolve against the fetched URL (v2 __next entity chain + v4 nav continuation)") {
    // v2 entity chain: every page's __next is path-relative
    val srv = new ODataStubServer(mkRows(30), "C0CHAR_STRUCTURE",
      serverPageSize = 4, relativeNextLinks = true).start()
    try {
      assert(read(srv).count() == 30)
      // 3 value chains of 10 rows in pages of 4: 2 continuations each
      assert(srv.requestLog.count(u => u.contains("skiptoken") && u.contains("%24filter")) == 6,
        s"the relative chain must have been followed: ${srv.requestLog}")
    } finally srv.stop()
    // v4 nav continuation: the Nav@odata.nextLink sibling is relative
    val srv2 = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = wideNavFixture(5), navPageSize = 2,
      relativeNextLinks = true).start()
    try {
      val n = read(srv2, Map("expand" -> "Assignments*(A_PROJ,A_HOURS)",
        "failFast" -> "true"))
        .select(size(col("Assignments")).as("n")).collect().head.getInt(0)
      assert(n == 5, s"relative nav continuation must be followed: $n")
      assert(srv2.requestLog.exists(_.startsWith("/navcont")), srv2.requestLog)
    } finally srv2.stop()
  }

  test("429 rate limits retry when enabled, honoring Retry-After") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      rateLimitFirst = 2).start()
    try {
      val df = read(srv, Map("maxRetries" -> "3", "retryBackoffMs" -> "10",
        "failFast" -> "true"))
      assert(df.count() == 6) // flaky-then-healthy chain recovers
    } finally srv.stop()
  }

  test("retry is OFF by default: a 429 surfaces immediately (reference parity)") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      rateLimitFirst = 2).start()
    try {
      val df = read(srv, Map("failFast" -> "true")) // no maxRetries option
      intercept[org.apache.spark.SparkException] { df.count() }
    } finally srv.stop()
  }

  test("maxPartitions bins keys into bounded tasks with identical results") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("maxPartitions" -> "2"))
      assert(df.rdd.getNumPartitions == 2) // 3 keys → 2 bins
      assert(df.count() == 9)
      assert(df.select("C0CHAR_STRUCTURE").distinct().count() == 3)
    } finally srv.stop()
  }

  test("empty codes result plans an empty scan (R10 semantics), not a full fetch") {
    // rows exist in the main entity but carry no (non-empty) structure
    // values → the codes enumeration finds no keys → empty output
    val rows = (0 until 4).map(i => Map(
      "TEMPLOYEE_UUID" -> s"E$i", "CEMPLOYEE_UUID" -> i.toString,
      "KCLEAVERS" -> "1", "C0CHAR_STRUCTURE" -> ""))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      assert(read(srv).count() == 0)
    } finally srv.stop()
  }

  test("column pruning reaches the server as \\$select") {
    val srv = new ODataStubServer(mkRows(4), "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv).select("CEMPLOYEE_UUID").as[String].collect().toSet
      assert(got == Set("0", "1", "2", "3"))
      val dataRequests = srv.requestLog.filter(r => !r.contains("%24top=1&"))
      assert(dataRequests.exists(r =>
        r.contains("%24select=CEMPLOYEE_UUID") && !r.contains("TEMPLOYEE_UUID")),
        s"no pruned \\$$select seen in: ${srv.requestLog.mkString("\n")}")
    } finally srv.stop()
  }

  test("equality filter pushdown prunes to a single partition") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv).where(col("C0CHAR_STRUCTURE") === "STRUCT1")
      assert(df.count() == 3)
      assert(df.rdd.getNumPartitions == 1)
    } finally srv.stop()
  }

  test("quote-doubling in pushed filters round-trips values with single quotes") {
    val rows = Seq(
      Map("TEMPLOYEE_UUID" -> "O'Brien", "CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "1",
        "C0CHAR_STRUCTURE" -> "O'STRUCT"),
      Map("TEMPLOYEE_UUID" -> "Plain", "CEMPLOYEE_UUID" -> "2", "KCLEAVERS" -> "1",
        "C0CHAR_STRUCTURE" -> "PLAIN"))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val got = read(srv).where(col("C0CHAR_STRUCTURE") === "O'STRUCT")
        .select("TEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got == Seq("O'Brien"))
    } finally srv.stop()
  }

  test("server-driven pagination follows next-links within one task") {
    val srv = new ODataStubServer(mkRows(30), "C0CHAR_STRUCTURE", serverPageSize = 4).start()
    try {
      assert(read(srv).count() == 30)
      assert(srv.requestLog.exists(_.contains("skiptoken")), "no pagination happened")
    } finally srv.stop()
  }

  test("v4 envelope (value / @odata.nextLink) decodes identically") {
    val srv = new ODataStubServer(mkRows(12), "C0CHAR_STRUCTURE",
      serverPageSize = 5, dialect = "v4").start()
    try assert(read(srv).count() == 12)
    finally srv.stop()
  }

  test("basic auth header is sent from options") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      requireAuth = Some(("alice", "s3cr'et"))).start()
    try {
      assert(read(srv, Map("user" -> "alice", "password" -> "s3cr'et")).count() == 3)
      val e = intercept[Exception] { read(srv).count() }
      assert(e.getMessage.contains("401") || e.getCause != null)
    } finally srv.stop()
  }

  test("failFast=false yields partial data on a failing partition (R4)") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      failValues = Set("STRUCT1")).start()
    try {
      assert(read(srv).count() == 6) // STRUCT1's 3 rows silently missing
      val e = intercept[Exception] { read(srv, Map("failFast" -> "true")).count() }
      assert(e.getMessage != null)
    } finally srv.stop()
  }

  test("probe failure on all candidates is fatal") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      badCandidates = Set("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE")).start()
    try {
      val e = intercept[Exception] { read(srv).count() }
      assert(e.getMessage.contains("structure candidates"))
    } finally srv.stop()
  }

  test("extraColumns=map surfaces undeclared server fields; default drops them") {
    // the server spills __metadata (a nested object) and a scalar
    // C0EXTRA on every row, neither declared in selectFields
    val rows = (0 until 4).map { i =>
      Map(
        "TEMPLOYEE_UUID" -> s"Employee $i",
        "CEMPLOYEE_UUID" -> i.toString,
        "KCLEAVERS" -> "1",
        "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}",
        "C0EXTRA" -> s"x$i",
        "__metadata" -> s"""{"uri": "E($i)", "type": "sapbyd.T"}""")
    }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE",
      extraServedFields = Seq("__metadata", "C0EXTRA"),
      rawJsonFields = Set("__metadata")).start()
    try {
      // default mode: declared schema only, spill dropped
      val plain = read(srv)
      assert(plain.columns.toSeq ==
        Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "KCLEAVERS", "C0CHAR_STRUCTURE"))

      // map mode: both undeclared fields in _extra, nested object as
      // compact JSON text (parsePage stringify), keys sorted
      val permissive = read(srv, Map("extraColumns" -> "map"))
      assert(permissive.columns.toSeq ==
        Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "KCLEAVERS", "C0CHAR_STRUCTURE", "_extra"))
      val got = permissive
        .select(col("CEMPLOYEE_UUID"), col("_extra"))
        .as[(String, Map[String, String])].collect().toMap
      assert(got("2") == Map(
        "C0EXTRA" -> "x2",
        "__metadata" -> """{"uri":"E(2)","type":"sapbyd.T"}"""))

      // structure candidates count as declared — never duplicated
      // into the map even though the server returns the column
      assert(got.values.forall(m => !m.contains("C0CHAR_STRUCTURE")))
    } finally srv.stop()
  }

  test("extras map prunes away when not selected; extras-only projection still works") {
    val rows = (0 until 3).map(i => Map(
      "TEMPLOYEE_UUID" -> s"E$i", "CEMPLOYEE_UUID" -> i.toString,
      "KCLEAVERS" -> "1", "C0CHAR_STRUCTURE" -> "S0", "C0EXTRA" -> s"x$i"))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE",
      extraServedFields = Seq("C0EXTRA")).start()
    try {
      val df = read(srv, Map("extraColumns" -> "map"))
      // declared-only projection: _extra pruned, never on the wire
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSet == Set("0", "1", "2"))
      // extras-only projection: $select omitted, map still populated
      val extras = df.select(element_at(col("_extra"), "C0EXTRA"))
        .as[String].collect().toSet
      assert(extras == Set("x0", "x1", "x2"))
    } finally srv.stop()
  }

  test("invalid extraColumns value is rejected") {
    val srv = new ODataStubServer(mkRows(2), "C0CHAR_STRUCTURE").start()
    try {
      val e = intercept[Exception] {
        read(srv, Map("extraColumns" -> "union")).collect()
      }
      assert(e.getMessage.contains("extraColumns"))
    } finally srv.stop()
  }

  test("extraColumnName colliding with a declared field is rejected at options time") {
    val srv = new ODataStubServer(mkRows(2), "C0CHAR_STRUCTURE").start()
    try {
      val e = intercept[Exception] {
        read(srv, Map("extraColumns" -> "map",
          "extraColumnName" -> "KCLEAVERS")).collect()
      }
      assert(e.getMessage.contains("collides"))
      // candidates count as declared too
      val e2 = intercept[Exception] {
        read(srv, Map("extraColumns" -> "map",
          "extraColumnName" -> "C0CHAR_STRUCTURE")).collect()
      }
      assert(e2.getMessage.contains("collides"))
    } finally srv.stop()
  }

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  test("aggregate pushdown: grouped count/min/max/countdistinct collapse into one \\$apply request") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true"))
        .groupBy("C0CHAR_STRUCTURE")
        .agg(count(lit(1)).as("n"),
             min("TEMPLOYEE_UUID").as("lo"),
             max("TEMPLOYEE_UUID").as("hi"),
             countDistinct("KCLEAVERS").as("nk"))
      val got = df.as[(String, Long, String, String, Long)]
        .collect().toSeq.sortBy(_._1)
      // expected: 9 rows, structure i%3; employees "Employee 0".."Employee 8"
      val exp = Seq(
        ("STRUCT0", 3L, "Employee 0", "Employee 6", 1L),
        ("STRUCT1", 3L, "Employee 1", "Employee 7", 1L),
        ("STRUCT2", 3L, "Employee 2", "Employee 8", 1L))
      assert(got == exp, s"pushed agg: $got")
      // plan pin: the aggregate never leaves the scan — no Aggregate
      // node survives in the optimized plan (complete pushdown)
      assert(!hasAggregate(df), df.queryExecution.optimizedPlan.toString)
      // wire pin: exactly one data request, carrying $apply=groupby
      val applies = srv.requestLog.filter(_.contains("%24apply="))
      assert(applies.size == 1, s"requests: ${srv.requestLog}")
      assert(java.net.URLDecoder.decode(applies.head, "UTF-8").contains(
        "groupby((C0CHAR_STRUCTURE),aggregate($count as agg0," +
        "TEMPLOYEE_UUID with min as agg1,TEMPLOYEE_UUID with max as agg2," +
        "KCLEAVERS with countdistinct as agg3))"), applies.head)
    } finally srv.stop()
  }

  test("aggregate pushdown: ungrouped count(*) ships one number, not the rows") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true"))
        .agg(count(lit(1)).as("n"))
      assert(df.as[Long].collect().toSeq == Seq(9L))
      assert(!hasAggregate(df))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains("$apply=aggregate($count as agg0)")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("aggregate pushdown: sole count(col) rides a filter(col ne null) prefix") {
    val rows = mkRows(6).zipWithIndex.map { case (r, i) =>
      if (i % 2 == 0) r.updated("KCLEAVERS", null) else r }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true"))
        .agg(count(col("KCLEAVERS")).as("n"))
      assert(df.as[Long].collect().toSeq == Seq(3L))
      assert(!hasAggregate(df))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter(KCLEAVERS ne null)/aggregate($count as agg0)")),
        s"requests: $decoded")
      // grouped count(col) must NOT push (the filter would drop
      // all-null groups a grouped count keeps at 0) — Spark computes
      val grouped = read(srv, Map("pushDownAggregates" -> "true"))
        .groupBy("C0CHAR_STRUCTURE").agg(count(col("KCLEAVERS")).as("n"))
      assert(hasAggregate(grouped))
      assert(grouped.as[(String, Long)].collect().sortBy(_._1).toSeq ==
        Seq(("STRUCT0", 1L), ("STRUCT1", 1L), ("STRUCT2", 1L)))
    } finally srv.stop()
  }

  test("aggregate pushdown: zero aggregate expressions (distinct / count-over-grouped) pushes a bare groupby") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      // SELECT DISTINCT keys is Aggregate(groups, no aggs) — the
      // lawful OData form is groupby((C)) with NO aggregate() part
      val distinctKeys = read(srv, Map("pushDownAggregates" -> "true"))
        .select("C0CHAR_STRUCTURE").distinct()
      assert(distinctKeys.as[String].collect().sorted.toSeq ==
        Seq("STRUCT0", "STRUCT1", "STRUCT2"))
      assert(!hasAggregate(distinctKeys))
      // count() over a grouped result prunes every aggregate column —
      // the inner aggregate reaches the scan with an empty agg list
      // (the bench-discovered shape)
      val n = read(srv, Map("pushDownAggregates" -> "true"))
        .groupBy("C0CHAR_STRUCTURE")
        .agg(count(lit(1)).as("n"), min("TEMPLOYEE_UUID").as("lo"))
        .count()
      assert(n == 3L)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains("$apply=groupby((C0CHAR_STRUCTURE))")),
        s"requests: $decoded")
      assert(!decoded.exists(_.contains("aggregate()")),
        "an empty aggregate() list must never reach the wire")
    } finally srv.stop()
  }

  test("aggregate pushdown: a limit above the pushed aggregate stays Spark's (no \\$top on the wire)") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true"))
        .groupBy("C0CHAR_STRUCTURE").agg(count(lit(1)).as("n"))
        .limit(2)
      val got = df.as[(String, Long)].collect().toSeq
      assert(got.length == 2 && got.forall(_._2 == 3L), s"limited agg: $got")
      val applies = srv.requestLog.filter(_.contains("%24apply="))
        .map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(applies.nonEmpty && applies.forall(!_.contains("$top")),
        s"the agg request must not claim a \\$$top push it ignores: $applies")
    } finally srv.stop()
  }

  test("aggregate pushdown OFF by default (v2 fallback): same numbers, Spark computes") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv) // default pushDownAggregates=false
        .groupBy("C0CHAR_STRUCTURE")
        .agg(count(lit(1)).as("n"), min("TEMPLOYEE_UUID").as("lo"))
      assert(hasAggregate(df), "fallback must keep Spark's Aggregate")
      assert(df.as[(String, Long, String)].collect().sortBy(_._1).toSeq == Seq(
        ("STRUCT0", 3L, "Employee 0"),
        ("STRUCT1", 3L, "Employee 1"),
        ("STRUCT2", 3L, "Employee 2")))
      assert(!srv.requestLog.exists(_.contains("%24apply=")),
        "no $apply may reach a v2 server")
    } finally srv.stop()
  }

  test("aggregate pushdown declines unsupported shapes (sum, avg, filtered agg) and stays correct") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val sums = read(srv, Map("pushDownAggregates" -> "true"))
        .agg(sum(col("CEMPLOYEE_UUID").cast("long")).as("s"))
      assert(hasAggregate(sums), "sum is not translatable — Spark computes")
      assert(sums.as[Long].collect().toSeq == Seq((0 until 9).sum.toLong))
      // residual filters block the push BY DESIGN (belt + suspenders
      // filtering keeps a Filter between Aggregate and scan)
      val filtered = read(srv, Map("pushDownAggregates" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
        .agg(count(lit(1)).as("n"))
      assert(hasAggregate(filtered))
      assert(filtered.as[Long].collect().toSeq == Seq(3L))
      assert(!srv.requestLog.exists(_.contains("%24apply=")))
    } finally srv.stop()
  }

  private def hasFilter(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty

  test("fullyPushFilters: eq predicates consumed (no residual Filter), untranslatable ones stay residual") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
      assert(!hasFilter(df), df.queryExecution.optimizedPlan.toString)
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSet ==
        Set("1", "4", "7"), "server-filtered rows must be exact")
      // a predicate the connector cannot translate (string >) keeps
      // its residual Filter even in fully-pushed mode
      val mixed = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("CEMPLOYEE_UUID") > "3")
      assert(hasFilter(mixed))
      assert(mixed.count() == 5) // "4".."8"
    } finally srv.stop()
  }

  test("comparison pushdown: typed int ranges push null-guarded, compare NUMERICALLY, and are consumed under fullyPushFilters") {
    // KCLEAVERS ∈ {0,1,2,10,null,4}: the 10 pins the compare domain
    // (lexicographic '10' > '2' is FALSE; numeric 10 > 2 is TRUE) and
    // the null pins the ne-null guard end-to-end
    val rows = Seq("0", "1", "2", "10", null, "4").zipWithIndex.map {
      case (k, i) => Map(
        "TEMPLOYEE_UUID" -> s"Employee $i",
        "CEMPLOYEE_UUID" -> i.toString,
        "KCLEAVERS" -> k,
        "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}")
    }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS")).start()
    try {
      val df = read(srv, Map("metadataSchema" -> "true",
          "fullyPushFilters" -> "true", "failFast" -> "true"))
        .where(col("KCLEAVERS") > 2 && col("KCLEAVERS") <= 10)
        .select("CEMPLOYEE_UUID")
      assert(df.as[String].collect().toSet == Set("3", "5"), // 10 and 4
        "numeric compare domain: 10 > 2 must hold, null must drop")
      assert(!hasFilter(df), df.queryExecution.optimizedPlan.toString)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u =>
          u.contains("(KCLEAVERS gt 2 and KCLEAVERS ne null)") &&
            u.contains("(KCLEAVERS le 10 and KCLEAVERS ne null)")),
        s"guarded comparisons must ride \\$$filter: $decoded")
      // literal-first flips the operator: 2 < k ≡ k > 2
      val flipped = read(srv, Map("metadataSchema" -> "true",
          "failFast" -> "true"))
        .where(lit(2) < col("KCLEAVERS"))
        .select("CEMPLOYEE_UUID")
      assert(flipped.as[String].collect().toSet == Set("3", "5"))
    } finally srv.stop()
  }

  test("ne pushdown: the explicit ne-null guard drops null rows a v4.01 server would otherwise KEEP; NOT(IN) renders the ne conjunction") {
    // v4.01: `null ne 'v'` is TRUE — without the guard a consumed
    // string ne would wrongly surface the null row
    val rows = mkRows(4).updated(2,
      mkRows(4)(2).updated("TEMPLOYEE_UUID", null))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("TEMPLOYEE_UUID") =!= "Employee 1")
        .select("CEMPLOYEE_UUID")
      assert(df.as[String].collect().toSet == Set("0", "3"),
        "both the matching row AND the null row must drop")
      assert(!hasFilter(df), df.queryExecution.optimizedPlan.toString)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
          "(TEMPLOYEE_UUID ne 'Employee 1' and TEMPLOYEE_UUID ne null)")),
        s"the guarded ne must ride \\$$filter: $decoded")
      // NOT(IN) → conjunction of ne's + one guard
      srv.requestLog = Vector.empty
      val notIn = read(srv, Map("fullyPushFilters" -> "true"))
        .where(!col("C0CHAR_STRUCTURE").isin("STRUCT0", "STRUCT2"))
        .select("CEMPLOYEE_UUID")
      assert(notIn.as[String].collect().toSet == Set("1"))
      assert(srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
          .exists(_.contains("(C0CHAR_STRUCTURE ne 'STRUCT0' and " +
            "C0CHAR_STRUCTURE ne 'STRUCT2' and C0CHAR_STRUCTURE ne null)")),
        s"NOT(IN) must render the ne conjunction: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("string collation posture: ordering never pushes; string ne stays residual in default mode; or-groups and null tests push") {
    val rows = mkRows(4).updated(3,
      mkRows(4)(3).updated("TEMPLOYEE_UUID", null))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      // string ordering: no gt/lt on the wire in EITHER mode (a
      // collation disagreement would wrongly EXCLUDE rows — the
      // residual re-check can't recover them)
      val ord = read(srv).where(col("TEMPLOYEE_UUID") > "Employee 1")
        .select("CEMPLOYEE_UUID")
      assert(ord.as[String].collect().toSet == Set("2"))
      assert(!srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
          .exists(u => u.contains(" gt ") || u.contains(" lt ")),
        s"string ordering must never ride \\$$filter: ${srv.requestLog}")
      // string ne in DEFAULT mode: the VALUE compare stays residual
      // (over-exclusion under a sloppy collation is unrecoverable);
      // only the inferred not-null — which the =!= implies and which
      // is collation-free — rides the wire
      srv.requestLog = Vector.empty
      val ne = read(srv).where(col("TEMPLOYEE_UUID") =!= "Employee 0")
        .select("CEMPLOYEE_UUID")
      assert(ne.as[String].collect().toSet == Set("1", "2"))
      assert(!srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
          .exists(_.contains("ne 'Employee 0'")),
        s"string ne must stay residual by default: ${srv.requestLog}")
      // an OR of eq's over DIFFERENT columns pushes grouped and is
      // consumed (neither branch's IsNotNull is inferred from an OR)
      srv.requestLog = Vector.empty
      val or = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("TEMPLOYEE_UUID") === "Employee 1" ||
          col("C0CHAR_STRUCTURE") === "STRUCT2")
        .select("CEMPLOYEE_UUID")
      assert(or.as[String].collect().toSet == Set("1", "2"))
      assert(!hasFilter(or), or.queryExecution.optimizedPlan.toString)
      assert(srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
          .exists(_.contains("(TEMPLOYEE_UUID eq 'Employee 1' or " +
            "C0CHAR_STRUCTURE eq 'STRUCT2')")),
        s"the or-group must ride \\$$filter grouped: ${srv.requestLog}")
      // standalone null tests render their exact OData forms
      srv.requestLog = Vector.empty
      val isNull = read(srv).where(col("TEMPLOYEE_UUID").isNull)
        .select("CEMPLOYEE_UUID")
      assert(isNull.as[String].collect().toSeq == Seq("3"))
      assert(srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
          .exists(_.contains("TEMPLOYEE_UUID eq null")),
        s"isNull must render eq null: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("fullyPushFilters + aggregate: the filtered aggregate composes into ONE \\$apply=filter(...)/ request") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true",
          "fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
        .agg(count(lit(1)).as("n"), max("TEMPLOYEE_UUID").as("hi"))
      assert(df.as[(Long, String)].collect().toSeq == Seq((3L, "Employee 7")))
      assert(!hasAggregate(df) && !hasFilter(df),
        df.queryExecution.optimizedPlan.toString)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter(C0CHAR_STRUCTURE eq 'STRUCT1')/" +
          "aggregate($count as agg0,TEMPLOYEE_UUID with max as agg1)")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("fullyPushFilters + aggregate: grouped composition keeps WHERE (pre-aggregation) semantics") {
    // KCLEAVERS alternates 0/1 — filtering it then grouping by
    // structure only counts the kept rows, NEVER filters the groups
    val rows = mkRows(9).zipWithIndex.map { case (r, i) =>
      r.updated("KCLEAVERS", (i % 2).toString) }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true",
          "fullyPushFilters" -> "true"))
        .where(col("KCLEAVERS") === "1")
        .groupBy("C0CHAR_STRUCTURE").agg(count(lit(1)).as("n"))
      // odd i: 1,3,5,7 → structures STRUCT1,STRUCT0,STRUCT2,STRUCT1
      assert(df.as[(String, Long)].collect().sortBy(_._1).toSeq ==
        Seq(("STRUCT0", 1L), ("STRUCT1", 2L), ("STRUCT2", 1L)))
      assert(!hasAggregate(df) && !hasFilter(df))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter(KCLEAVERS eq '1')/" +
          "groupby((C0CHAR_STRUCTURE),aggregate($count as agg0))")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("fullyPushFilters + aggregate: apostrophes double-quote through the composed filter") {
    val rows = mkRows(6).map(r =>
      r.updated("TEMPLOYEE_UUID", s"O'Hara ${r("CEMPLOYEE_UUID")}"))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true",
          "fullyPushFilters" -> "true"))
        .where(col("TEMPLOYEE_UUID") === "O'Hara 4")
        .agg(count(lit(1)).as("n"))
      assert(df.as[Long].collect().toSeq == Seq(1L))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter(TEMPLOYEE_UUID eq 'O''Hara 4')/aggregate($count as agg0)")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("fullyPushFilters: sole count(col) composes eq and ne-null into one filter prefix") {
    val rows = mkRows(6).zipWithIndex.map { case (r, i) =>
      if (i % 2 == 0) r.updated("KCLEAVERS", null) else r }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true",
          "fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
        .agg(count(col("KCLEAVERS")).as("n"))
      // STRUCT1 ⇔ i ∈ {1,4}; KCLEAVERS null on even i → only i=1 counts
      assert(df.as[Long].collect().toSeq == Seq(1L))
      assert(!hasAggregate(df) && !hasFilter(df))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter(C0CHAR_STRUCTURE eq 'STRUCT1' and KCLEAVERS ne null)/" +
          "aggregate($count as agg0)")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("fullyPushFilters: a filtered sort+limit now takes the TopN push") {
    val srv = new ODataStubServer(mkRows(30), "C0CHAR_STRUCTURE",
      serverPageSize = 4).start()
    try {
      val got = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
        .orderBy(desc("CEMPLOYEE_UUID")).limit(3)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq
      assert(got == Seq("7", "4", "28")) // desc string order of i%3==1
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u => u.contains("$orderby=CEMPLOYEE_UUID desc") &&
          u.contains("$filter=") && u.contains("$top=3")),
        s"the filtered chain must carry \\$$orderby + \\$$top + \\$$filter: $decoded")
    } finally srv.stop()
  }

  test("IN pushdown: membership on the structure field prunes chains to the listed values, no enumeration") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv)
        .where(col("C0CHAR_STRUCTURE").isin("STRUCT0", "STRUCT2", "STRUCT9"))
      // chains = exactly the 3 listed values (the absent STRUCT9
      // simply answers an empty chain) — and the codes entity is
      // never enumerated
      assert(df.rdd.getNumPartitions == 3)
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSet ==
        Set("0", "3", "6", "2", "5", "8"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      // no unfiltered codes-enumeration request (every data request
      // carries a $filter; the only filterless GETs are the probes,
      // which carry $top=1)
      assert(!decoded.exists(u => !u.contains("$filter") && !u.contains("$top=1")),
        s"requests: $decoded")
      // each chain's filter is its own eq — the IN group is implied
      // by the chain value and must NOT be re-sent
      assert(decoded.exists(_.contains("$filter=C0CHAR_STRUCTURE eq 'STRUCT0'")))
      assert(!decoded.exists(_.contains(" or ")), s"requests: $decoded")
    } finally srv.stop()
  }

  test("IN pushdown: membership on a non-structure column rides each chain's \\$filter as an or-group") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv)
        .where(col("CEMPLOYEE_UUID").isin("1", "4"))
      assert(df.select("TEMPLOYEE_UUID").as[String].collect().toSet ==
        Set("Employee 1", "Employee 4"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "(CEMPLOYEE_UUID eq '1' or CEMPLOYEE_UUID eq '4')")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  test("IN pushdown + fullyPushFilters: consumed (no residual Filter) and composes into the \\$apply prefix") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("pushDownAggregates" -> "true",
          "fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE").isin("STRUCT0", "STRUCT2"))
        .agg(count(lit(1)).as("n"), max("TEMPLOYEE_UUID").as("hi"))
      assert(df.as[(Long, String)].collect().toSeq == Seq((6L, "Employee 8")))
      assert(!hasAggregate(df) && !hasFilter(df),
        df.queryExecution.optimizedPlan.toString)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$apply=filter((C0CHAR_STRUCTURE eq 'STRUCT0' or " +
          "C0CHAR_STRUCTURE eq 'STRUCT2'))/" +
          "aggregate($count as agg0,TEMPLOYEE_UUID with max as agg1)")),
        s"requests: $decoded")
    } finally srv.stop()
  }

  private def readNoStructure(srv: ODataStubServer,
                              extra: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.format("odata")
      .option("baseUrl", srv.url)
      .option("servicePath", "sap/byd/odata/analytics.svc")
      .option("entity", "EmployeeQueryResults")
      .option("selectFields", selectFields + ",C0CHAR_STRUCTURE")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("skip ranges: a structure-less scan tiles /\\$count into \\$skip/\\$top tasks, rows exact") {
    val srv = new ODataStubServer(mkRows(10), "C0CHAR_STRUCTURE").start()
    try {
      val df = readNoStructure(srv, Map(
        "skipRangePartitions" -> "4", "skipRangeOrderKey" -> "CEMPLOYEE_UUID"))
      assert(df.rdd.getNumPartitions == 4)
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSet ==
        (0 until 10).map(_.toString).toSet, "the 4 windows must tile exactly")
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains("/$count")), s"requests: $decoded")
      // ceil(10/4)=3 → skips 0,3,6,9 with sizes 3,3,3,1, each ordered
      Seq(("$skip=0", "$top=3"), ("$skip=3", "$top=3"),
          ("$skip=6", "$top=3"), ("$skip=9", "$top=1")).foreach { case (s, t) =>
        assert(decoded.exists(u => u.contains(s) && u.contains(t) &&
          u.contains("$orderby=CEMPLOYEE_UUID asc")), s"missing $s $t in: $decoded")
      }
    } finally srv.stop()
  }

  test("skip ranges: /\\$count carries the pushed filter, ranges tile the FILTERED set") {
    val srv = new ODataStubServer(mkRows(12), "C0CHAR_STRUCTURE").start()
    try {
      val df = readNoStructure(srv, Map(
          "skipRangePartitions" -> "2", "skipRangeOrderKey" -> "CEMPLOYEE_UUID"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
      // i % 3 == 1 → 4 rows → 2 ranges of 2
      assert(df.rdd.getNumPartitions == 2)
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSet ==
        Set("1", "4", "7", "10"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u => u.contains("/$count") &&
        u.contains("$filter=C0CHAR_STRUCTURE eq 'STRUCT1'")), s"requests: $decoded")
    } finally srv.stop()
  }

  test("skip ranges: structure chains win when a structure field exists; pushed limit keeps one chain") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      // the standard candidates-probed read: value chains, no $skip
      val structured = read(srv, Map(
        "skipRangePartitions" -> "4", "skipRangeOrderKey" -> "CEMPLOYEE_UUID"))
      assert(structured.rdd.getNumPartitions == 3) // STRUCT0/1/2 chains
      assert(!srv.requestLog.exists(_.contains("%24skip=")),
        s"no range fetch may ride a structure-partitioned scan: ${srv.requestLog}")
      // a pushed limit is a GLOBAL cap — range fetches would break it
      val limited = readNoStructure(srv, Map(
          "skipRangePartitions" -> "4", "skipRangeOrderKey" -> "CEMPLOYEE_UUID"))
        .limit(2)
      assert(limited.collect().length == 2)
      assert(!srv.requestLog.exists(_.contains("%24skip=")),
        s"no range fetch may ride a pushed limit: ${srv.requestLog}")
      // missing order key is rejected at options time
      val e = intercept[Exception] {
        readNoStructure(srv, Map("skipRangePartitions" -> "4")).collect()
      }
      assert(e.getMessage.contains("skipRangeOrderKey"), e.getMessage)
    } finally srv.stop()
  }

  test("skip ranges: snapshot drift (count != fetched rows) fails the read, never silent loss") {
    // the /$count lies by +3 — as if rows were deleted between the
    // count and the range fetches; the short range must FAIL, not
    // read "successfully" with rows silently missing from the tiling
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      countBias = 3).start()
    try {
      val e = intercept[Exception] {
        readNoStructure(srv, Map(
          "skipRangePartitions" -> "3",
          "skipRangeOrderKey" -> "CEMPLOYEE_UUID")).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("skip-range drift"), msgs)
    } finally srv.stop()
  }

  test("skip ranges: a poisoned filter value fails LOUDLY even with failFast=false (no silent window)") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      failValues = Set("STRUCT1")).start()
    try {
      val df = readNoStructure(srv, Map(
          "skipRangePartitions" -> "2", "skipRangeOrderKey" -> "CEMPLOYEE_UUID",
          "failFast" -> "false", "maxRetries" -> "0"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1")
      intercept[Exception] { df.collect() }
      // contrast: the SAME poisoned value on a structure-VALUE chain
      // is the reference's per-value tolerance and yields partial data
      val tolerant = read(srv, Map("failFast" -> "false", "maxRetries" -> "0"))
      assert(tolerant.count() == 6) // STRUCT0 + STRUCT2 survive
    } finally srv.stop()
  }

  test("a NULL literal declines translation: IN with null stays residual, never pushes 'null' text") {
    val rows = mkRows(6) :+ Map(
      "TEMPLOYEE_UUID" -> "Employee X", "CEMPLOYEE_UUID" -> "null",
      "KCLEAVERS" -> "1", "C0CHAR_STRUCTURE" -> "STRUCT0")
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    try {
      // SQL semantics: NULL in an IN list never matches — pushing the
      // 4-char text 'null' would wrongly match the row whose column
      // HOLDS that literal string
      val df = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("CEMPLOYEE_UUID").isin("1", null))
      assert(hasFilter(df), "the untranslatable IN must stay residual")
      assert(df.select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("1"))
      assert(!srv.requestLog.exists(u =>
          java.net.URLDecoder.decode(u, "UTF-8").contains("eq 'null'")),
        s"'null' text must never reach the wire: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("contradictory structure-field predicates still answer 0 rows under fullyPushFilters") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      // eq pins the chain to STRUCT1 while the IN excludes it — the
      // chain's request must CARRY the contradictory predicate (the
      // consumed filters have no Spark re-check to fall back on)
      val df = read(srv, Map("fullyPushFilters" -> "true"))
        .where(col("C0CHAR_STRUCTURE") === "STRUCT1" &&
               col("C0CHAR_STRUCTURE").isin("STRUCT0", "STRUCT2"))
      assert(df.count() == 0, "a provably-empty query must return 0 rows")
    } finally srv.stop()
  }

  test("delta sync: tracked initial read, upsert/removal application, idempotent empty delta, lost link fails") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    // a PARTIAL-properties upsert: only the changed property + key —
    // the v4-lawful shape; absent KCLEAVERS must KEEP its base value
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED",
      "CEMPLOYEE_UUID" -> "1")
    // duplicate upserts for one key: the LAST entry governs
    val addV1 = Map("TEMPLOYEE_UUID" -> "Employee 9 DRAFT",
      "CEMPLOYEE_UUID" -> "9", "KCLEAVERS" -> "1")
    val addV2 = Map("TEMPLOYEE_UUID" -> "Employee 9",
      "CEMPLOYEE_UUID" -> "9", "KCLEAVERS" -> "1")
    // key 2 is upserted AND @removed in the SAME feed (removals render
    // after the changed rows) — the later removal must win; a naive
    // split-then-union would resurrect it
    val updDoomed = Map("TEMPLOYEE_UUID" -> "Employee 2 GHOST",
      "CEMPLOYEE_UUID" -> "2", "KCLEAVERS" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4",
      deltaBatches = Seq((Seq(upd, addV1, addV2, updDoomed), Seq("0", "2"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_delta"
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      def opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")))
      val r1 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(r1.initial && r1.tableRows == 6, r1.toString)
      val r2 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      // final per-key states: 1 upserted, 9 upserted (last version),
      // 0 removed, 2 removed (the removal outlives its upsert)
      assert(!r2.initial && r2.upserts == 2 && r2.removals == 2 &&
        r2.tableRows == 5, r2.toString)
      val rows = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "TEMPLOYEE_UUID", "KCLEAVERS")
        .as[(String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(!rows.contains("0"), "removed key must be gone")
      assert(!rows.contains("2"),
        "a key upserted then @removed in one feed must be GONE (last entry governs)")
      assert(rows("9")._1 == "Employee 9",
        "duplicate upserts must keep only the LAST version")
      assert(rows("1") == (("Employee 1 RENAMED", "1")),
        "partial upsert: present field updates, ABSENT field keeps the base value")
      // third sync hits the stable past-the-end token: an empty delta
      // is a clean no-op and the table is untouched
      val r3 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(!r3.initial && r3.upserts == 0 && r3.removals == 0 &&
        r3.tableRows == 5, r3.toString)
      // a server that never honors change tracking (v2, no deltaLink)
      // fails the sync LOUDLY — nothing to resume from
      val v2srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE").start()
      try {
        val v2opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("baseUrl", v2srv.url, "servicePath", "svc",
            "entity", "EmployeeQueryResults",
            "selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")))
        val e = intercept[IllegalStateException] {
          ODataDelta.syncToParquet(spark, v2opts, "CEMPLOYEE_UUID",
            s"${tablePath}_v2")
        }
        assert(e.getMessage.contains("deltaLink"), e.getMessage)
      } finally v2srv.stop()
    } finally srv.stop()
  }

  test("delta sync + metadataSchema: the tracked table is TYPED end to end — typed merge, typed partial upsert, loud malformed cell") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    val typedRows = (0 until 4).map(i => Map(
      "CEMPLOYEE_UUID" -> i.toString,
      "KCLEAVERS" -> (i * 5).toString,
      "HIRED" -> s"2024-01-0${i + 1}",
      "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}"))
    // partial typed upsert: KCLEAVERS changes (int), HIRED absent —
    // the base's DATE value must survive the merge
    val upd = Map("CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "41")
    val srv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS"),
      deltaBatches = Seq((Seq(upd), Seq("0"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath =
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_delta_typed"
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      def opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "CEMPLOYEE_UUID,KCLEAVERS,HIRED",
          "metadataSchema", "true")))
      val r1 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(r1.initial && r1.tableRows == 4, r1.toString)
      val table0 = spark.read.parquet(s"$tablePath/data")
      assert(table0.schema.map(f => f.name -> f.dataType.simpleString).toMap ==
        Map("CEMPLOYEE_UUID" -> "string", "KCLEAVERS" -> "int",
          "HIRED" -> "date"), table0.schema.treeString)
      val r2 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(!r2.initial && r2.upserts == 1 && r2.removals == 1 &&
        r2.tableRows == 3, r2.toString)
      val rows = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "KCLEAVERS", "HIRED")
        .as[(String, Int, java.sql.Date)].collect()
        .map(t => t._1 -> ((t._2, t._3.toString))).toMap
      assert(!rows.contains("0"), "removed key must be gone")
      assert(rows("1") == ((41, "2024-01-02")),
        "typed partial upsert: int field updates, absent DATE keeps base")
      assert(rows("3") == ((15, "2024-01-04")), rows)
    } finally srv.stop()
    // a malformed typed cell in a delta entry fails the sync LOUDLY by
    // field name — a corrupt typed table is never silently written
    // KCLEAVERS served QUOTED here (both wire shapes are lawful; the
    // decode path stringifies either) so the malformed text is valid
    // JSON and the failure is the TYPED DECODE's, by field name
    val badSrv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      deltaBatches = Seq((Seq(Map("CEMPLOYEE_UUID" -> "1",
        "KCLEAVERS" -> "not-an-int")), Nil)),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val badPath =
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_delta_typed_bad"
    val bp = new org.apache.hadoop.fs.Path(badPath)
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(bp, true)
    try {
      def opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", badSrv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "CEMPLOYEE_UUID,KCLEAVERS",
          "metadataSchema", "true")))
      ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", badPath)
      val e = intercept[IllegalStateException] {
        ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", badPath)
      }
      assert(e.getMessage.contains("KCLEAVERS") &&
        e.getMessage.contains("not-an-int"), e.getMessage)
    } finally badSrv.stop()
  }

  test("delta sync: a feed past the fold threshold spills and folds DISTRIBUTED, same converged table") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    // same feed-order semantics as the in-memory fold: partial upsert,
    // duplicate upserts (last wins), upsert-then-@removed (removal wins)
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED",
      "CEMPLOYEE_UUID" -> "1")
    val addV1 = Map("TEMPLOYEE_UUID" -> "Employee 9 DRAFT",
      "CEMPLOYEE_UUID" -> "9", "KCLEAVERS" -> "1")
    val addV2 = Map("TEMPLOYEE_UUID" -> "Employee 9",
      "CEMPLOYEE_UUID" -> "9", "KCLEAVERS" -> "1")
    val updDoomed = Map("TEMPLOYEE_UUID" -> "Employee 2 GHOST",
      "CEMPLOYEE_UUID" -> "2", "KCLEAVERS" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4",
      deltaBatches = Seq((Seq(upd, addV1, addV2, updDoomed), Seq("0", "2"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_spill"
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    try {
      val opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")))
      assert(ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath,
        feedFoldThreshold = 1).initial)
      // threshold 1 forces the spill on the 6-entry feed (4 upserts +
      // 2 removals); results must be IDENTICAL to the in-memory fold
      val r2 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath,
        feedFoldThreshold = 1)
      assert(!r2.initial && r2.upserts == 2 && r2.removals == 2 &&
        r2.tableRows == 5, r2.toString)
      val rows = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "TEMPLOYEE_UUID", "KCLEAVERS")
        .as[(String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(!rows.contains("0") && !rows.contains("2"), rows.toString)
      assert(rows("9")._1 == "Employee 9", "last duplicate upsert wins")
      assert(rows("1") == (("Employee 1 RENAMED", "1")),
        "partial upsert keeps the absent field's base value")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tablePath/_delta_feed")),
        "the transient spilled feed must be cleaned up")
    } finally srv.stop()
  }

  test("delta seed: link-first parallel seed + first delta converge; seeding a tracking table refuses") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED",
      "CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", serverPageSize = 2, // key walk paginates
      deltaBatches = Seq((Seq(upd), Seq("0"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_seed"
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      val options = Map(
        "baseUrl" -> srv.url, "servicePath" -> "svc",
        "entity" -> "EmployeeQueryResults",
        "selectFields" -> "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS",
        "skipRangePartitions" -> "3", "skipRangeOrderKey" -> "CEMPLOYEE_UUID")
      val r1 = ODataDelta.seedWithParallelScan(
        spark, options, "CEMPLOYEE_UUID", tablePath)
      assert(r1.initial && r1.tableRows == 6, r1.toString)
      // the seed ran as a genuinely parallel range scan
      assert(srv.requestLog.exists(_.contains("%24skip=")),
        s"seed must ride the range scan: ${srv.requestLog}")
      // the tracked walk stated the preference BEFORE the seed scan —
      // and with the FULL projection (a key-only defining query would
      // lawfully strip every later delta round to bare keys); it is
      // the only full-select request with neither $skip nor $orderby
      val decoded0 = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      val firstWalk = decoded0.indexWhere(u =>
        u.contains("$select=TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS") &&
          !u.contains("$skip") && !u.contains("$orderby"))
      val firstRange = decoded0.indexWhere(_.contains("$skip="))
      assert(firstWalk >= 0 && firstWalk < firstRange,
        s"full-projection link walk must precede the seed scan: $decoded0")
      val opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")))
      val r2 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(!r2.initial && r2.upserts == 1 && r2.removals == 1 &&
        r2.tableRows == 5, r2.toString)
      val rows = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "TEMPLOYEE_UUID")
        .as[(String, String)].collect().toMap
      assert(!rows.contains("0") && rows("1") == "Employee 1 RENAMED", rows.toString)
      // a table that is already tracking refuses a re-seed
      val e = intercept[Exception] {
        ODataDelta.seedWithParallelScan(spark, options, "CEMPLOYEE_UUID", tablePath)
      }
      assert(e.getMessage.contains("already tracking"), e.getMessage)
    } finally srv.stop()
  }

  test("odata-delta stream: micro-batches ride the delta links, CDC rows exact, restart resumes from the checkpoint") {
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED", "CEMPLOYEE_UUID" -> "1")
    val addV1 = Map("TEMPLOYEE_UUID" -> "Employee 9 DRAFT",
      "CEMPLOYEE_UUID" -> "9", "KCLEAVERS" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", serverPageSize = 4, // initial read paginates
      deltaBatches = Seq((Seq(upd, addV1), Seq("0", "2"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_stream"
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      // parquet sink: supports checkpoint RECOVERY (memory does not),
      // so the restart leg is the real resume path
      def run(): Unit = {
        val q = spark.readStream.format("odata-delta")
          .option("baseUrl", srv.url)
          .option("servicePath", "svc")
          .option("entity", "EmployeeQueryResults")
          .option("selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")
          .load()
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      val rows = spark.read.parquet(out)
        .select("CEMPLOYEE_UUID", "_change", "TEMPLOYEE_UUID")
        .as[(String, String, String)].collect().toSeq
      // batch 0: 6 initial upserts; batch 1: 2 upserts + 2 deletes
      assert(rows.size == 10, rows.mkString("\n"))
      assert(rows.count(_._2 == "delete") == 2)
      assert(rows.filter(_._2 == "delete").map(_._1).toSet == Set("0", "2"))
      assert(rows.filter(_._2 == "delete").forall(_._3 == null),
        "a delete carries only the key")
      assert(rows.contains(("1", "upsert", "Employee 1 RENAMED")))
      assert(rows.contains(("9", "upsert", "Employee 9 DRAFT")))
      // restart from the SAME checkpoint: the stable past-the-end
      // token answers an empty round — no new batch, no duplicates,
      // no re-run of the initial read
      run()
      assert(spark.read.parquet(out).count() == 10,
        "an empty delta round must not produce a batch on restart")
    } finally srv.stop()
  }

  test("odata-delta stream + metadataSchema: CDC rows are TYPED (int/date decode through the batch scan's path)") {
    val typedRows = (0 until 4).map(i => Map(
      "CEMPLOYEE_UUID" -> i.toString,
      "KCLEAVERS" -> (i * 5).toString,
      "HIRED" -> s"2024-01-0${i + 1}",
      "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}"))
    val upd = Map("CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "41")
    val srv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS"),
      deltaBatches = Seq((Seq(upd), Seq("0"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_stream_typed"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      val q = spark.readStream.format("odata-delta")
        .option("baseUrl", srv.url)
        .option("servicePath", "svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "CEMPLOYEE_UUID,KCLEAVERS,HIRED")
        .option("metadataSchema", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.read.parquet(s"$base/out")
      assert(out.schema.map(f => f.name -> f.dataType.simpleString).toMap ==
        Map("CEMPLOYEE_UUID" -> "string", "KCLEAVERS" -> "int",
          "HIRED" -> "date", "_change" -> "string"), out.schema.treeString)
      val rows = out.select("CEMPLOYEE_UUID", "_change", "KCLEAVERS", "HIRED")
        .as[(String, String, Option[Int], Option[java.sql.Date])]
        .collect().toSeq
      // batch 0: 4 typed initial upserts; batch 1: 1 partial upsert
      // (HIRED absent → null, the documented CDC caveat) + 1 delete
      assert(rows.size == 6, rows.mkString("\n"))
      assert(rows.contains(("2", "upsert", Some(10),
        Some(java.sql.Date.valueOf("2024-01-03")))), rows)
      assert(rows.contains(("1", "upsert", Some(41), None)), rows)
      assert(rows.contains(("0", "delete", None, None)), rows)
    } finally srv.stop()
  }

  test("odata-delta stream: startLink skips the initial enumeration — batch 0 is the first DELTA round") {
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED", "CEMPLOYEE_UUID" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4",
      deltaBatches = Seq((Seq(upd), Seq("0", "2"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_startlink"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      // the seeded table's persisted token points at delta round 0
      val link = s"${srv.url}/svc/EmployeeQueryResults?" +
        java.net.URLEncoder.encode("$deltatoken", "UTF-8") + "=0"
      val q = spark.readStream.format("odata-delta")
        .option("baseUrl", srv.url)
        .option("servicePath", "svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")
        .option("startLink", link)
        .load()
        .writeStream.format("memory").queryName("startlink_cdc")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("startlink_cdc")
        .select("CEMPLOYEE_UUID", "_change")
        .as[(String, String)].collect().toSeq.sorted
      // ONLY the delta round: 1 upsert + 2 deletes, no initial read
      assert(rows == Seq(("0", "delete"), ("1", "upsert"), ("2", "delete")), rows)
      assert(srv.requestLog.forall(_.contains("deltatoken")),
        s"startLink must suppress the initial enumeration: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("odata-delta stream: a round past carryThreshold drops the driver carry and re-walks live (bounded driver)") {
    val upds = (1 to 4).map(i => Map(
      "TEMPLOYEE_UUID" -> s"Employee $i RENAMED", "CEMPLOYEE_UUID" -> i.toString))
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4",
      deltaBatches = Seq((upds, Seq("0"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_carrycap"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    try {
      val link = s"${srv.url}/svc/EmployeeQueryResults?" +
        java.net.URLEncoder.encode("$deltatoken", "UTF-8") + "=0"
      val q = spark.readStream.format("odata-delta")
        .option("baseUrl", srv.url)
        .option("servicePath", "svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")
        .option("startLink", link)
        .option("carryThreshold", "2") // 5 entries > 2 → overflow
        .load()
        .writeStream.format("memory").queryName("carrycap_cdc")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("carrycap_cdc")
        .select("CEMPLOYEE_UUID", "_change")
        .as[(String, String)].collect().toSeq.sorted
      assert(rows == (("0", "delete") +: (1 to 4).map(i => (i.toString, "upsert"))),
        rows) // rows exact despite the dropped carry (deterministic stub)
      // the round-0 link was fetched TWICE: the driver's offset walk
      // (carry dropped) plus the executor's live re-walk
      val round0 = srv.requestLog.count(u =>
        java.net.URLDecoder.decode(u, "UTF-8").contains("$deltatoken=0"))
      assert(round0 == 2, s"expected driver walk + live executor re-walk: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("delta sync: an interrupted table swap self-heals on the next round") {
    import graft.sources.odata.{ODataDelta, ODataOptions}
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED",
      "CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "1")
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4",
      deltaBatches = Seq((Seq(upd), Seq("0"))),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    val tablePath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_odata_crash"
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tablePath), true)
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      val opts = ODataOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("baseUrl", srv.url, "servicePath", "svc",
          "entity", "EmployeeQueryResults",
          "selectFields", "TEMPLOYEE_UUID,CEMPLOYEE_UUID,KCLEAVERS")))
      assert(ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath).initial)
      // crash shape 1: stale data_next beside an intact data/ (the
      // rewrite finished or died but the swap never started) — the
      // next sync discards it and applies the delta normally
      fs.mkdirs(P(s"$tablePath/data_next"))
      fs.create(P(s"$tablePath/data_next/garbage.parquet"), true).close()
      val r2 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(!r2.initial && r2.upserts == 1 && r2.removals == 1 &&
        r2.tableRows == 5, r2.toString)
      assert(!fs.exists(P(s"$tablePath/data_next")), "stale tmp must be discarded")
      // crash shape 2: the swap died between delete(data) and
      // rename(data_next->data) — data/ missing, COMMITTED data_next
      // present, link still the pre-swap token. The next sync must
      // finish the promotion and re-apply that token's delta, which
      // idempotent upserts/removals absorb: same converged table.
      val before = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "TEMPLOYEE_UUID")
        .as[(String, String)].collect().toMap
      require(fs.rename(P(s"$tablePath/data"), P(s"$tablePath/data_next")))
      // the pre-swap link is the token whose delta was being applied
      // when the swap died — restore it so the recovery round really
      // RE-APPLIES a non-empty delta onto the already-converged table
      val tok0 = s"${srv.url}/svc/EmployeeQueryResults?" +
        java.net.URLEncoder.encode("$deltatoken", "UTF-8") + "=0"
      val out = fs.create(P(s"$tablePath/_delta_link"), true)
      out.write(tok0.getBytes("UTF-8")); out.close()
      val r3 = ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      assert(!r3.initial && r3.upserts == 1 && r3.removals == 1 &&
        r3.tableRows == 5, r3.toString)
      val after = spark.read.parquet(s"$tablePath/data")
        .select("CEMPLOYEE_UUID", "TEMPLOYEE_UUID")
        .as[(String, String)].collect().toMap
      assert(after == before, s"recovery must converge: $after vs $before")
      // crash shape 3: data/ missing and data_next UNCOMMITTED (no
      // _SUCCESS) — unrecoverable; fail with the restart instruction
      require(fs.rename(P(s"$tablePath/data"), P(s"$tablePath/data_next")))
      fs.delete(P(s"$tablePath/data_next/_SUCCESS"), false)
      val e = intercept[Exception] {
        ODataDelta.syncToParquet(spark, opts, "CEMPLOYEE_UUID", tablePath)
      }
      assert(e.getMessage.contains("crash recovery"), e.getMessage)
    } finally srv.stop()
  }

  // nav fixture: employee i carries i%3 Assignments (so some have
  // none) and a Manager only when i is even (so some are null)
  private def navFixture(n: Int): Map[String, StubNav] = {
    val assignments = (0 until n).flatMap { i =>
      (0 until (i % 3)).map { j =>
        Map("A_EMP" -> i.toString, "A_PROJ" -> s"P$j",
          "A_HOURS" -> ((i + j) * 10).toString)
      }
    }
    val managers = (0 until n).filter(_ % 2 == 0).map { i =>
      Map("M_EMP" -> i.toString, "M_NAME" -> s"Manager of $i",
        "M_LEVEL" -> (i % 4).toString)
    }
    Map(
      "Assignments" -> StubNav(collection = true, "CEMPLOYEE_UUID", "A_EMP", assignments),
      "Manager" -> StubNav(collection = false, "CEMPLOYEE_UUID", "M_EMP", managers))
  }
  private val expandOpt =
    "Manager(M_NAME,M_LEVEL),Assignments*(A_PROJ,A_HOURS)"

  /** navFixture plus a GRANDCHILD level: each assignment's project has
    * a single-valued Reviewer and a collection of Tasks, both keyed
    * off the ASSIGNMENT row (the nested-expand fixtures).
    */
  private def nestedNavFixture(n: Int): Map[String, StubNav] = {
    val reviewers = Seq(
      Map("R_PROJ" -> "P0", "R_NAME" -> "Rev P0", "R_LEVEL" -> "1"),
      Map("R_PROJ" -> "P1", "R_NAME" -> "Rev P1", "R_LEVEL" -> "2"))
    // P0 gets 5 tasks (pages past navPageSize in the paging spec),
    // P1 gets 1, P2 none
    val tasks = (0 until 5).map(k =>
      Map("T_PROJ" -> "P0", "T_ID" -> s"T0$k")) :+
      Map("T_PROJ" -> "P1", "T_ID" -> "T10")
    navFixture(n) ++ Map(
      "Reviewer" -> StubNav(collection = false, "A_PROJ", "R_PROJ", reviewers),
      "Tasks" -> StubNav(collection = true, "A_PROJ", "T_PROJ", tasks))
  }
  private val nestedExpandOpt =
    "Assignments*(A_PROJ,A_HOURS,Reviewer(R_NAME),Tasks*(T_ID))"

  test("nested \\$expand (v4): two levels decode recursively — struct-in-array, null grandchild, empty grandchild collection") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = nestedNavFixture(6)).start()
    try {
      val df = read(srv, Map("expand" -> nestedExpandOpt))
      assert(df.schema("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:string," +
          "Reviewer:struct<R_NAME:string>,Tasks:array<struct<T_ID:string>>>>",
        df.schema("Assignments").dataType.simpleString)
      val rows = df.select(col("CEMPLOYEE_UUID"), col("Assignments"))
        .collect().map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map { a =>
            (a.getString(0),
              Option(a.getStruct(2)).map(_.getString(0)),
              a.getSeq[org.apache.spark.sql.Row](3).map(_.getString(0)).sorted)
          }
        }.toMap
      // employee 5 has P0 (reviewer + 5 tasks) and P1 (reviewer + 1)
      assert(rows("5") == Seq(
        ("P0", Some("Rev P0"), Seq("T00", "T01", "T02", "T03", "T04")),
        ("P1", Some("Rev P1"), Seq("T10"))), rows("5"))
      // employee 4: only P0
      assert(rows("4") == Seq(
        ("P0", Some("Rev P0"), Seq("T00", "T01", "T02", "T03", "T04"))))
      // a project with NO reviewer row → null struct; NO tasks → empty
      // array (exercised via employee 0's zero assignments too)
      assert(rows("0") == Nil)
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains(
        "$expand=Assignments($select=A_PROJ,A_HOURS;" +
          "$expand=Reviewer($select=R_NAME),Tasks($select=T_ID))")),
        s"the v4 nested form must ride the wire: $decoded")
    } finally srv.stop()
  }

  test("nested \\$expand (v2 style): path entries + slash-path projection, same values") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v2", navProps = nestedNavFixture(6)).start()
    try {
      val df = read(srv, Map("expand" -> nestedExpandOpt,
        "expandStyle" -> "v2"))
      val rows = df.select(col("CEMPLOYEE_UUID"), col("Assignments"))
        .collect().map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map { a =>
            (a.getString(0),
              Option(a.getStruct(2)).map(_.getString(0)),
              a.getSeq[org.apache.spark.sql.Row](3).map(_.getString(0)).sorted)
          }
        }.toMap
      assert(rows("5") == Seq(
        ("P0", Some("Rev P0"), Seq("T00", "T01", "T02", "T03", "T04")),
        ("P1", Some("Rev P1"), Seq("T10"))), rows("5"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u =>
        u.contains("$expand=Assignments,Assignments/Reviewer,Assignments/Tasks") &&
          u.contains("Assignments/Reviewer/R_NAME") &&
          u.contains("Assignments/Tasks/T_ID")),
        s"v2 renders path entries + slash projections: $decoded")
    } finally srv.stop()
  }

  test("nested \\$expand + server paging: continuations at BOTH levels are followed, and nested projections survive the page boundary") {
    // navPageSize=2: employee 5's Assignments (2 rows) stay inline,
    // but P0's 5 Tasks page (2+2+1); ALSO page the level-1
    // collection by giving one employee 3 assignments via mkRows(7)
    // (employee 5: i%3 = 2 → 2; employee 6... use n=7 → none >2), so
    // level-1 paging rides the Tasks fixture instead: P0 tasks page.
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = nestedNavFixture(6),
      navPageSize = 2).start()
    try {
      val df = read(srv, Map("expand" -> nestedExpandOpt))
      val rows = df.select(col("CEMPLOYEE_UUID"), col("Assignments"))
        .collect().map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map { a =>
            (a.getString(0),
              a.getSeq[org.apache.spark.sql.Row](3).map(_.getString(0)).sorted)
          }
        }.toMap
      // all 5 tasks arrive despite navPageSize=2 — the nested
      // continuation chain was followed
      assert(rows("5") == Seq(
        ("P0", Seq("T00", "T01", "T02", "T03", "T04")),
        ("P1", Seq("T10"))), rows("5"))
      assert(srv.requestLog.exists(_.contains("navcont")),
        "the nested collection must actually have paged")
    } finally srv.stop()
  }

  test("nested \\$expand + metadataSchema: grandchild fields take the grand-TARGET type's Edm types") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = nestedNavFixture(6),
      metadataDoc = Some(edmxDoc)).start()
    try {
      val df = read(srv, Map(
        "expand" -> "Assignments*(A_PROJ,A_HOURS,Reviewer(M_NAME,M_LEVEL))",
        "metadataSchema" -> "true", "failFast" -> "true"))
      // Reviewer resolves through Assignment's NavigationProperty to
      // Mgr: M_LEVEL is Edm.Int32 → int, two levels down
      assert(df.schema("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:int," +
          "Reviewer:struct<M_NAME:string,M_LEVEL:int>>>",
        df.schema("Assignments").dataType.simpleString)
      // fixture reviewers carry R_* fields; M_* cells are absent →
      // null — what matters here is the TYPE resolution and that the
      // scan executes typed end to end
      val n = df.select(explode(col("Assignments")).as("a"))
        .where(col("a.A_HOURS").isNotNull).count()
      assert(n > 0)
      // an absent grandchild FIELD fails by name at schema time
      val e = intercept[Exception] {
        read(srv, Map(
          "expand" -> "Assignments*(A_PROJ,Reviewer(NO_SUCH))",
          "metadataSchema" -> "true")).schema
      }
      assert(e.getMessage.contains("NO_SUCH"), e.getMessage)
    } finally srv.stop()
  }

  test("nested \\$expand pruning: touching only a GRANDCHILD field narrows both levels' \\$select") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = nestedNavFixture(6)).start()
    try {
      val df = read(srv, Map("expand" -> nestedExpandOpt))
        .select(explode(col("Assignments")).as("a"))
        .select(col("a.Reviewer.R_NAME"))
      df.collect()
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      // the child level keeps its FIRST declared scalar (the nested
      // $select must not be empty), the grandchild narrows to exactly
      // the touched field, and the untouched Tasks expansion drops
      assert(decoded.exists(u =>
        u.contains("$expand=Assignments($select=A_PROJ;" +
          "$expand=Reviewer($select=R_NAME))") &&
          !u.contains("Tasks") && !u.contains("A_HOURS")),
        s"both levels must prune: $decoded")
    } finally srv.stop()
  }

  test("expand option grammar: nested entries parse, duplicates and field-less navs are rejected") {
    import graft.sources.odata.{ODataOptions, ExpandSpec}
    val specs = ODataOptions.parseExpands(
      "A*(F1,B(G1,C*(H1,H2)),F2),D(K1)")
    assert(specs == Seq(
      ExpandSpec("A", collection = true, Seq("F1", "F2"), Seq(
        ExpandSpec("B", collection = false, Seq("G1"), Seq(
          ExpandSpec("C", collection = true, Seq("H1", "H2")))))),
      ExpandSpec("D", collection = false, Seq("K1"))), specs)
    // round-trips through the option grammar (what expand-as-join's
    // childExpand re-parses)
    assert(ODataOptions.parseExpands(specs.map(_.render).mkString(",")) == specs)
    val dup = intercept[IllegalArgumentException] {
      ODataOptions.parseExpands("A(F1,F1)")
    }
    assert(dup.getMessage.contains("twice"))
    val bare = intercept[IllegalArgumentException] {
      ODataOptions.parseExpands("A(B(G1))")
    }
    assert(bare.getMessage.contains("scalar"), bare.getMessage)
    // malformed parens fail at OPTION time, never fold into a field
    // name that would ride the wire as garbage
    for (bad <- Seq("Items*(L_QTY))", "A(F1)(F2)", "A((F1)", "A)F1(")) {
      val e = intercept[IllegalArgumentException] {
        ODataOptions.parseExpands(bad)
      }
      assert(e.getMessage.contains("expand"), s"$bad: ${e.getMessage}")
    }
  }

  test("\\$expand: navs surface as nested struct / array<struct> columns (v4 style + v4 dialect)") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(6)).start()
    try {
      val df = read(srv, Map("expand" -> expandOpt))
      val sch = df.schema
      assert(sch("Manager").dataType.simpleString ==
        "struct<M_NAME:string,M_LEVEL:string>", sch("Manager").dataType)
      assert(sch("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:string>>", sch("Assignments").dataType)
      // select the WHOLE structs so the full declared projection ships
      val rows = df.select(col("CEMPLOYEE_UUID"), col("Manager"), col("Assignments"))
        .collect().map { r =>
          val m = Option(r.getStruct(1)).map(s => (s.getString(0), s.getString(1)))
          r.getString(0) -> ((m,
            r.getSeq[org.apache.spark.sql.Row](2).map(a =>
              (a.getString(0), a.getString(1)))))
        }.toMap
      assert(rows("4") == ((Some(("Manager of 4", "0")), Seq(("P0", "40")))), rows("4"))
      assert(rows("1") == ((None, Seq(("P0", "10")))),
        s"odd employee has NULL manager: ${rows("1")}")
      assert(rows("0") == ((Some(("Manager of 0", "0")), Nil)),
        s"0 assignments = EMPTY array, not null: ${rows("0")}")
      assert(rows("5") == ((None, Seq(("P0", "50"), ("P1", "60")))), rows("5"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u =>
        u.contains("$expand=Manager($select=M_NAME,M_LEVEL)," +
          "Assignments($select=A_PROJ,A_HOURS)")), s"requests: $decoded")
    } finally srv.stop()
  }

  test("\\$expand v2 style: projection rides parent \\$select as Nav/Field paths; v2 results envelope unwraps") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      navProps = navFixture(6)).start() // v2 dialect default
    try {
      val df = read(srv, Map("expand" -> expandOpt, "expandStyle" -> "v2"))
      val rows = df.select("CEMPLOYEE_UUID", "Manager.M_NAME", "Assignments")
        .collect().map(r => r.getString(0) ->
          ((Option(r.getString(1)),
            r.getSeq[org.apache.spark.sql.Row](2).map(a =>
              (a.getString(0), a.getString(1)))))).toMap
      assert(rows("5") == ((None, Seq(("P0", "50"), ("P1", "60")))), rows("5"))
      assert(rows("0") == ((Some("Manager of 0"), Nil)), rows("0"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(u => u.contains("$expand=Manager,Assignments") &&
        u.contains("Manager/M_NAME") && u.contains("Assignments/A_HOURS")),
        s"requests: $decoded")
      assert(!decoded.exists(_.contains("Manager($select")),
        "v2 style must not send nested options")
    } finally srv.stop()
  }

  test("\\$expand nested pruning: touching only Nav.F1 narrows the nested \\$select; untouched navs drop the expand") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(6)).start()
    try {
      val got = read(srv, Map("expand" -> expandOpt))
        .select(col("Manager.M_NAME").as("m"))
        .where(col("m").isNotNull).as[String].collect().toSet
      assert(got == Set("Manager of 0", "Manager of 2", "Manager of 4"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      val dataReqs = decoded.filter(_.contains("$expand"))
      assert(dataReqs.nonEmpty && dataReqs.forall(u =>
        u.contains("$expand=Manager($select=M_NAME)") &&
          !u.contains("M_LEVEL") && !u.contains("Assignments")),
        s"nested projection must narrow to the touched subfield: $decoded")
      // a projection not touching any nav sends NO $expand at all
      srv.requestLog = Vector.empty
      assert(read(srv, Map("expand" -> expandOpt))
        .select("TEMPLOYEE_UUID").count() == 6)
      assert(!srv.requestLog.exists(_.contains("%24expand")),
        s"pruned navs must drop the expand: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("\\$expand nav-path filter pushdown: Nav/Field eq rides \\$filter; collection navs decline") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(6)).start()
    try {
      // residual mode: the filter ships server-side AND Spark re-checks
      val df = read(srv, Map("expand" -> expandOpt))
        .where(col("Manager.M_NAME") === "Manager of 2")
        .select("CEMPLOYEE_UUID")
      assert(df.as[String].collect().toSeq == Seq("2"))
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      assert(decoded.exists(_.contains("Manager/M_NAME eq 'Manager of 2'")),
        s"nav-path eq must push: $decoded")
      // fullyPushFilters: consumed — no Filter node survives (the
      // inferred IsNotNull on the nav/path is consumed with it)
      val consumed = read(srv, Map("expand" -> expandOpt,
          "fullyPushFilters" -> "true"))
        .where(col("Manager.M_NAME") === "Manager of 4")
        .select("CEMPLOYEE_UUID")
      assert(consumed.as[String].collect().toSeq == Seq("4"))
      assert(!consumed.queryExecution.optimizedPlan.toString.contains("Filter"),
        consumed.queryExecution.optimizedPlan.toString)
      // a COLLECTION nav element predicate never translates — the
      // request carries no Assignments path filter, Spark evaluates
      srv.requestLog = Vector.empty
      val coll = read(srv, Map("expand" -> expandOpt))
        .where(try_element_at(col("Assignments"), lit(1))("A_PROJ") === "P0")
        .select("CEMPLOYEE_UUID")
      assert(coll.as[String].collect().toSet == Set("1", "2", "4", "5"))
      assert(!srv.requestLog.exists(u =>
          java.net.URLDecoder.decode(u, "UTF-8").contains("Assignments/")),
        s"collection nav must not ride \\$$filter: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("gzip transport: the client offers Accept-Encoding and decodes compressed bodies transparently") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      gzipResponses = true).start()
    try {
      val got = read(srv).select("CEMPLOYEE_UUID").as[String].collect().toSet
      assert(got == (0 until 9).map(_.toString).toSet)
      assert(srv.gzipServed.get() > 0,
        "the stub must have actually served gzip bodies")
    } finally srv.stop()
  }

  test("oauth: client-credentials grant, bearer on every request, transparent re-auth on expiry, bad creds loud") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE",
      oauthCreds = Some(("my-client", "s3cret")),
      tokenValidRequests = 3).start()
    try {
      val df = read(srv, Map("authType" -> "oauth",
        "tokenUrl" -> s"${srv.url}/token",
        "clientId" -> "my-client", "clientSecret" -> "s3cret",
        "failFast" -> "true"))
      assert(df.count() == 9)
      // probes + enumeration + 3 chains exceed one 3-request token:
      // at least one 401 → transparent re-grant happened
      assert(srv.tokensIssued.get() >= 2,
        s"expected a token refresh, issued: ${srv.tokensIssued.get()}")
      // a fresh client id with a wrong secret fails LOUDLY at the
      // token endpoint (a fresh id so the JVM-wide token cache cannot
      // serve the good leg's live token)
      val bad = intercept[Exception] {
        read(srv, Map("authType" -> "oauth", "tokenUrl" -> s"${srv.url}/token",
          "clientId" -> "other-client", "clientSecret" -> "wrong",
          "failFast" -> "true")).count()
      }
      val msgs = Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("401"), msgs)
      // incomplete oauth options are rejected at options time
      val miss = intercept[IllegalArgumentException] {
        read(srv, Map("authType" -> "oauth")).count()
      }
      assert(miss.getMessage.contains("tokenUrl"), miss.getMessage)
    } finally srv.stop()
  }

  test("oauth: a transient token-endpoint 5xx consumes the retry budget like a data-URL one") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      oauthCreds = Some(("c", "s")), tokenTransientFailures = 2).start()
    try {
      // maxRetries=3 absorbs the two token-endpoint 503s
      assert(read(srv, Map("authType" -> "oauth",
        "tokenUrl" -> s"${srv.url}/token", "clientId" -> "c",
        "clientSecret" -> "s", "failFast" -> "true",
        "maxRetries" -> "3", "retryBackoffMs" -> "10")).count() == 3)
    } finally srv.stop()
    val srv2 = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      oauthCreds = Some(("c2", "s")), tokenTransientFailures = 2).start()
    try {
      // maxRetries=0: the first token-endpoint 503 surfaces
      val e = intercept[Exception] {
        read(srv2, Map("authType" -> "oauth",
          "tokenUrl" -> s"${srv2.url}/token", "clientId" -> "c2",
          "clientSecret" -> "s", "failFast" -> "true",
          "maxRetries" -> "0")).count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("503"), msgs)
    } finally srv2.stop()
  }

  test("batchControlPlane: all probe candidates ride ONE \\$batch POST; planning round-trips collapse") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      val df = read(srv, Map("batchControlPlane" -> "true", "failFast" -> "true"))
      assert(df.columns.contains("C0CHAR_STRUCTURE"))
      assert(df.count() == 9)
      val batches = srv.requestLog.filter(_.contains("$batch"))
      assert(batches.size == 1, s"exactly one batch POST: ${srv.requestLog}")
      // 1 batch (both candidates inside) + 1 codes enumeration +
      // 3 value chains = 5 client round-trips (sequential probing
      // would pay 6: the 404'd candidate is its own request)
      assert(srv.clientRequests.get() == 5,
        s"round-trips: ${srv.clientRequests.get()} log=${srv.requestLog}")
      // the batched discrimination is EXACT: the bad candidate 404'd
      // inside the batch and the good one won
      val loopbacks = srv.requestLog.filter(u =>
        u.contains("%24top=1") || u.contains("$top=1"))
      assert(loopbacks.exists(_.contains("COCHAR_STRUCTURE")) &&
        loopbacks.exists(_.contains("C0CHAR_STRUCTURE")), s"$loopbacks")
    } finally srv.stop()
  }

  test("batchControlPlane: a fatal probe status inside the batch still fails loudly") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      requireAuth = Some(("u", "p"))).start()
    try {
      // wrong creds: the sub-request 401s (NOT a 404-segment) → fatal
      val e = intercept[Exception] {
        read(srv, Map("batchControlPlane" -> "true",
          "user" -> "u", "password" -> "WRONG")).schema
      }
      assert(e.getMessage.contains("401"), e.getMessage)
    } finally srv.stop()
  }

  // EDMX fixture: an entity type exercising every mapped Edm type plus
  // an unmapped one (Edm.TimeOfDay → lawful string degradation)
  private val edmxDoc = """<?xml version="1.0" encoding="utf-8"?>
    |<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
    |  <edmx:DataServices>
    |    <Schema Namespace="graft.test" xmlns="http://docs.oasis-open.org/odata/ns/edm">
    |      <EntityType Name="Employee">
    |        <Key><PropertyRef Name="CEMPLOYEE_UUID"/></Key>
    |        <Property Name="CEMPLOYEE_UUID" Type="Edm.String" Nullable="false"/>
    |        <Property Name="TEMPLOYEE_UUID" Type="Edm.String"/>
    |        <Property Name="KCLEAVERS" Type="Edm.Int32"/>
    |        <Property Name="BIGN" Type="Edm.Int64"/>
    |        <Property Name="SALARY" Type="Edm.Decimal" Precision="10" Scale="2"/>
    |        <Property Name="RATIO" Type="Edm.Double"/>
    |        <Property Name="ACTIVE" Type="Edm.Boolean"/>
    |        <Property Name="HIRED" Type="Edm.Date"/>
    |        <Property Name="SEEN" Type="Edm.DateTimeOffset"/>
    |        <Property Name="SHIFT" Type="Edm.TimeOfDay"/>
    |        <Property Name="C0CHAR_STRUCTURE" Type="Edm.String"/>
    |        <Property Name="BADSTRUCT" Type="Edm.Int32"/>
    |        <NavigationProperty Name="Assignments" Type="Collection(graft.test.Assignment)"/>
    |        <NavigationProperty Name="Manager" Type="graft.test.Mgr"/>
    |      </EntityType>
    |      <EntityType Name="Assignment">
    |        <Key><PropertyRef Name="A_EMP"/></Key>
    |        <Property Name="A_EMP" Type="Edm.String"/>
    |        <Property Name="A_PROJ" Type="Edm.String"/>
    |        <Property Name="A_HOURS" Type="Edm.Int32"/>
    |        <NavigationProperty Name="Reviewer" Type="graft.test.Mgr"/>
    |      </EntityType>
    |      <EntityType Name="Mgr">
    |        <Key><PropertyRef Name="M_EMP"/></Key>
    |        <Property Name="M_EMP" Type="Edm.String"/>
    |        <Property Name="M_NAME" Type="Edm.String"/>
    |        <Property Name="M_LEVEL" Type="Edm.Int32"/>
    |      </EntityType>
    |      <EntityContainer Name="Container">
    |        <EntitySet Name="EmployeeQueryResults" EntityType="graft.test.Employee"/>
    |        <EntitySet Name="AssignmentSet" EntityType="graft.test.Assignment"/>
    |        <EntitySet Name="ManagerSet" EntityType="graft.test.Mgr"/>
    |      </EntityContainer>
    |    </Schema>
    |  </edmx:DataServices>
    |</edmx:Edmx>""".stripMargin

  test("$metadata parse: EntitySet→EntityType resolution, Edm type map, precision/scale, unknown→string") {
    import graft.sources.odata.ODataMetadata
    import org.apache.spark.sql.types._
    val props = ODataMetadata.parse(edmxDoc, "EmployeeQueryResults")
    def t(f: String) = props(f).sparkType
    assert(t("CEMPLOYEE_UUID") == StringType)
    assert(t("KCLEAVERS") == IntegerType)
    assert(t("BIGN") == LongType)
    assert(t("SALARY") == DecimalType(10, 2))
    assert(t("RATIO") == DoubleType)
    assert(t("ACTIVE") == BooleanType)
    assert(t("HIRED") == DateType)
    assert(t("SEEN") == TimestampType)
    assert(t("SHIFT") == StringType, "unmapped Edm type degrades to string")
    val e = intercept[IllegalStateException] {
      ODataMetadata.parse(edmxDoc, "NoSuchSet")
    }
    assert(e.getMessage.contains("NoSuchSet"), e.getMessage)
  }

  test("$metadata: two schemas declaring the SAME local type name resolve independently (namespace-qualified keying); aliases normalize") {
    import graft.sources.odata.ODataMetadata
    import org.apache.spark.sql.types._
    val doc = """<?xml version="1.0" encoding="utf-8"?>
      |<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
      |  <edmx:DataServices>
      |    <Schema Namespace="sales.core" Alias="SC" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      |      <EntityType Name="Record">
      |        <Property Name="ID" Type="Edm.String"/>
      |        <Property Name="AMOUNT" Type="Edm.Int64"/>
      |      </EntityType>
      |    </Schema>
      |    <Schema Namespace="hr.core" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      |      <EntityType Name="Record">
      |        <Property Name="ID" Type="Edm.String"/>
      |        <Property Name="RANK" Type="Edm.Int32"/>
      |        <NavigationProperty Name="Sibling" Type="SC.Record"/>
      |      </EntityType>
      |      <EntityContainer Name="C">
      |        <EntitySet Name="SalesRecords" EntityType="SC.Record"/>
      |        <EntitySet Name="HrRecords" EntityType="hr.core.Record"/>
      |      </EntityContainer>
      |    </Schema>
      |  </edmx:DataServices>
      |</edmx:Edmx>""".stripMargin
    val m = ODataMetadata.parseModel(doc)
    // before qualified keying this was a LAST-WINS collision: both
    // sets typed by whichever schema parsed second
    assert(m.entityType("SalesRecords").props("AMOUNT").sparkType == LongType)
    assert(!m.entityType("SalesRecords").props.contains("RANK"))
    assert(m.entityType("HrRecords").props("RANK").sparkType == IntegerType)
    // the alias-qualified nav target resolves to the sales schema
    val nav = m.entityType("HrRecords").navs("Sibling")
    assert(nav.targetType == "sales.core.Record", nav)
    assert(m.findType(nav.targetType).exists(_.props.contains("AMOUNT")))
    // a BARE local name shared by two schemas fails BY NAME
    val e = intercept[IllegalStateException] { m.findType("Record") }
    assert(e.getMessage.contains("hr.core.Record") &&
      e.getMessage.contains("sales.core.Record"), e.getMessage)
  }

  test("typed decode: the lawful /Date(ms±hhmm)/ offset variant parses (epoch ms is UTC; the suffix is display-only)") {
    import graft.sources.odata.ODataMetadata
    import org.apache.spark.sql.types._
    assert(ODataMetadata.convert("/Date(86400000)/", TimestampType, "F") ==
      86400000L * 1000L)
    assert(ODataMetadata.convert("/Date(86400000+0530)/", TimestampType, "F") ==
      86400000L * 1000L)
    assert(ODataMetadata.convert("/Date(-86400000-0200)/", TimestampType, "F") ==
      -86400000L * 1000L)
    val e = intercept[IllegalStateException] {
      ODataMetadata.convert("/Date(oops)/", TimestampType, "F")
    }
    assert(e.getMessage.contains("'F'"), e.getMessage)
  }

  test("metadataSchema=true: typed scan end-to-end — native Spark types, nulls, v2 /Date(ms)/ decode, loud misconfig") {
    import org.apache.spark.sql.types._
    val typedRows = (0 until 4).map { i =>
      Map(
        "CEMPLOYEE_UUID" -> i.toString,
        "KCLEAVERS" -> i.toString,
        "BIGN" -> (10000000000L + i).toString,
        "SALARY" -> s"$i.25",
        "RATIO" -> s"$i.5",
        "ACTIVE" -> (if (i % 2 == 0) "true" else "false"),
        "HIRED" -> s"2024-01-0${i + 1}",
        "SEEN" -> (if (i == 3) s"/Date(${86400000L * i})/" // v2 wire form
                   else s"2024-01-0${i + 1}T06:30:00Z"),
        "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}") ++
        (if (i == 2) Map("KCLEAVERS" -> null, "SALARY" -> null) else Map.empty)
    }
    val srv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS", "BIGN", "SALARY", "RATIO", "ACTIVE")).start()
    try {
      def typedRead(fields: String) = spark.read.format("odata")
        .option("baseUrl", srv.url)
        .option("servicePath", "sap/byd/odata/analytics.svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", fields)
        .option("structureCandidates", candidates)
        .option("metadataSchema", "true")
        .option("failFast", "true")
        .load()
      val df = typedRead("CEMPLOYEE_UUID,KCLEAVERS,BIGN,SALARY,RATIO,ACTIVE,HIRED,SEEN")
      assert(df.schema.map(f => f.name -> f.dataType.simpleString).toMap ==
        Map("CEMPLOYEE_UUID" -> "string", "KCLEAVERS" -> "int",
          "BIGN" -> "bigint", "SALARY" -> "decimal(10,2)",
          "RATIO" -> "double", "ACTIVE" -> "boolean", "HIRED" -> "date",
          "SEEN" -> "timestamp", "C0CHAR_STRUCTURE" -> "string"),
        df.schema.treeString)
      val r1 = df.where(col("CEMPLOYEE_UUID") === "1").collect().head
      assert(r1.getAs[Int]("KCLEAVERS") == 1)
      assert(r1.getAs[Long]("BIGN") == 10000000001L)
      assert(r1.getAs[java.math.BigDecimal]("SALARY")
        .compareTo(new java.math.BigDecimal("1.25")) == 0)
      assert(r1.getAs[Double]("RATIO") == 1.5)
      assert(!r1.getAs[Boolean]("ACTIVE"))
      assert(r1.getAs[java.sql.Date]("HIRED").toString == "2024-01-02")
      // explicit nulls survive typed decode
      val r2 = df.where(col("CEMPLOYEE_UUID") === "2").collect().head
      assert(r2.isNullAt(r2.fieldIndex("KCLEAVERS")) &&
        r2.isNullAt(r2.fieldIndex("SALARY")))
      // the v2 /Date(ms)/ form decodes to the same instant space
      val seen = df.select(col("CEMPLOYEE_UUID"),
          unix_timestamp(col("SEEN")).as("s"))
        .as[(String, Long)].collect().toMap
      assert(seen("3") == 86400L * 3, seen)
      assert(seen("0") == java.time.OffsetDateTime.parse("2024-01-01T06:30:00Z")
        .toInstant.getEpochSecond)
      // a select field absent from the entity type fails BY NAME
      val e1 = intercept[Exception] { typedRead("CEMPLOYEE_UUID,TYPO_FIELD").schema }
      assert(e1.getMessage.contains("TYPO_FIELD"), e1.getMessage)
      // a non-string structure candidate fails at schema time
      val e2 = intercept[Exception] {
        spark.read.format("odata")
          .option("baseUrl", srv.url)
          .option("servicePath", "sap/byd/odata/analytics.svc")
          .option("entity", "EmployeeQueryResults")
          .option("selectFields", "CEMPLOYEE_UUID")
          .option("structureCandidates", "BADSTRUCT")
          .option("metadataSchema", "true")
          .load().schema
      }
      assert(e2.getMessage.contains("Edm.String"), e2.getMessage)
    } finally srv.stop()
  }

  test("metadataSchema + \\$expand: nested fields take the nav TARGET type's Edm types; cardinality validated against the doc") {
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(6),
      metadataDoc = Some(edmxDoc)).start()
    try {
      def typedRead(expand: String) = spark.read.format("odata")
        .option("baseUrl", srv.url)
        .option("servicePath", "sap/byd/odata/analytics.svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "CEMPLOYEE_UUID")
        .option("structureCandidates", candidates)
        .option("metadataSchema", "true")
        .option("expand", expand)
        .option("failFast", "true")
        .load()
      val df = typedRead("Manager(M_NAME,M_LEVEL),Assignments*(A_PROJ,A_HOURS)")
      assert(df.schema("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:int>>", df.schema.treeString)
      assert(df.schema("Manager").dataType.simpleString ==
        "struct<M_NAME:string,M_LEVEL:int>", df.schema.treeString)
      val hours = df.where(col("CEMPLOYEE_UUID") === "5")
        .select(explode(col("Assignments")).as("a"))
        .select(col("a.A_HOURS")).as[Int].collect().toSeq.sorted
      assert(hours == Seq(50, 60), hours) // native ints, not strings
      assert(df.where(col("CEMPLOYEE_UUID") === "4")
        .select(col("Manager.M_LEVEL")).as[Int].head() == 0)
      // declared cardinality contradicting $metadata fails at schema time
      val e1 = intercept[Exception] { typedRead("Assignments(A_PROJ)").schema }
      assert(e1.getMessage.contains("Collection"), e1.getMessage)
      // an undeclared nav fails by name
      val e2 = intercept[Exception] { typedRead("Bogus*(F1)").schema }
      assert(e2.getMessage.contains("Bogus"), e2.getMessage)
      // a nested field absent from the target type fails by name
      val e3 = intercept[Exception] { typedRead("Assignments*(A_TYPO)").schema }
      assert(e3.getMessage.contains("A_TYPO"), e3.getMessage)
    } finally srv.stop()
  }

  test("expand-as-join + metadataSchema: the strategies stay interchangeable in TYPED mode (child types from the same EDMX)") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val navs = navFixture(6)
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navs, metadataDoc = Some(edmxDoc),
      extraEntities = Map(
        "AssignmentSet" -> navs("Assignments").rows,
        "ManagerSet" -> navs("Manager").rows)).start()
    try {
      val base = Map("baseUrl" -> srv.url,
        "servicePath" -> "sap/byd/odata/analytics.svc",
        "entity" -> "EmployeeQueryResults",
        "selectFields" -> "CEMPLOYEE_UUID",
        "structureCandidates" -> candidates,
        "metadataSchema" -> "true", "failFast" -> "true")
      val joined = ODataExpandAsJoin.scan(spark, base, Seq(
        JoinNav("Manager", collection = false,
          Seq("M_NAME", "M_LEVEL"), "ManagerSet", "CEMPLOYEE_UUID", "M_EMP"),
        JoinNav("Assignments", collection = true,
          Seq("A_PROJ", "A_HOURS"), "AssignmentSet", "CEMPLOYEE_UUID", "A_EMP")))
      // the child entity types resolve from the same EDMX: typed
      // nested fields, identical to the inline NavigationProperty path
      assert(joined.schema("Manager").dataType.simpleString ==
        "struct<M_NAME:string,M_LEVEL:int>", joined.schema.treeString)
      assert(joined.schema("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:int>>", joined.schema.treeString)
      val inline = spark.read.format("odata")
        .options(scala.jdk.CollectionConverters.MapHasAsJava(
          base + ("expand" ->
            "Manager(M_NAME,M_LEVEL),Assignments*(A_PROJ,A_HOURS)")).asJava)
        .load()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("CEMPLOYEE_UUID"), col("Manager"),
            array_sort(col("Assignments")).as("Assignments"))
          .collect().map(_.toString).sorted.toSeq
      assert(canon(joined) == canon(inline),
        s"typed strategies must be interchangeable:\n${canon(joined)}\nvs\n${canon(inline)}")
      // empty-array branch types correctly too (the hardwired-string
      // cast would have failed analysis here)
      assert(joined.where(col("CEMPLOYEE_UUID") === "0")
        .select(size(col("Assignments"))).head().getInt(0) == 0)
    } finally srv.stop()
  }

  test("metadataSchema: typed eq/IN literals push as lawful v4 \\$filter grammar; Double stays residual; v2 dialect forms") {
    val typedRows = (0 until 6).map { i =>
      Map(
        "CEMPLOYEE_UUID" -> i.toString,
        "KCLEAVERS" -> i.toString,
        "BIGN" -> (10000000000L + i).toString,
        "RATIO" -> s"$i.5",
        "ACTIVE" -> (if (i % 2 == 0) "true" else "false"),
        "HIRED" -> s"2024-01-0${i + 1}",
        "SEEN" -> s"2024-01-0${i + 1}T06:30:00Z",
        "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}")
    }
    def mkSrv() = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS", "BIGN", "RATIO", "ACTIVE")).start()
    def typedRead(srv: ODataStubServer, extra: Map[String, String] = Map.empty) = {
      val b = spark.read.format("odata")
        .option("baseUrl", srv.url)
        .option("servicePath", "sap/byd/odata/analytics.svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "CEMPLOYEE_UUID,KCLEAVERS,BIGN,RATIO,ACTIVE,HIRED,SEEN")
        .option("structureCandidates", candidates)
        .option("metadataSchema", "true")
        .option("failFast", "true")
      extra.foldLeft(b) { case (r, (k, v)) => r.option(k, v) }.load()
    }
    def decoded(srv: ODataStubServer) =
      srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
    val srv = mkSrv()
    try {
      val df = typedRead(srv)
      // Int32 eq: bare literal on the wire, exact rows back
      assert(df.where(col("KCLEAVERS") === 3)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("3"))
      assert(decoded(srv).exists(_.contains("KCLEAVERS eq 3")), decoded(srv))
      // Int64 eq: bare in v4
      assert(df.where(col("BIGN") === 10000000002L)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("2"))
      assert(decoded(srv).exists(_.contains("BIGN eq 10000000002")), decoded(srv))
      // Date eq: bare ISO
      assert(df.where(col("HIRED") === java.sql.Date.valueOf("2024-01-04"))
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("3"))
      assert(decoded(srv).exists(_.contains("HIRED eq 2024-01-04")), decoded(srv))
      // Timestamp eq: bare ISO instant
      assert(df.where(col("SEEN") === lit(java.time.Instant.parse("2024-01-02T06:30:00Z")))
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("1"))
      assert(decoded(srv).exists(_.contains("SEEN eq 2024-01-02T06:30:00Z")),
        decoded(srv))
      // typed IN: or-group of bare literals
      assert(df.where(col("KCLEAVERS").isin(1, 4))
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq.sorted == Seq("1", "4"))
      assert(decoded(srv).exists(
        _.contains("(KCLEAVERS eq 1 or KCLEAVERS eq 4)")), decoded(srv))
      // Double eq stays RESIDUAL (text rendering not round-trip-exact):
      // right rows, no RATIO on the wire
      assert(df.where(col("RATIO") === 2.5)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("2"))
      assert(!decoded(srv).exists(_.contains("RATIO eq")), decoded(srv))
    } finally srv.stop()
    // v2 dialect: Int64 takes the L suffix, DateTimeOffset the
    // datetimeoffset'…' prefix, Edm.Date DECLINES (no v2 date literal)
    val srv2 = mkSrv()
    try {
      val df2 = typedRead(srv2, Map("filterDialect" -> "v2"))
      assert(df2.where(col("BIGN") === 10000000004L)
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("4"))
      assert(decoded(srv2).exists(_.contains("BIGN eq 10000000004L")), decoded(srv2))
      assert(df2.where(col("SEEN") === lit(java.time.Instant.parse("2024-01-03T06:30:00Z")))
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("2"))
      assert(decoded(srv2).exists(
        _.contains("SEEN eq datetimeoffset'2024-01-03T06:30:00Z'")), decoded(srv2))
      assert(df2.where(col("HIRED") === java.sql.Date.valueOf("2024-01-01"))
        .select("CEMPLOYEE_UUID").as[String].collect().toSeq == Seq("0"))
      assert(!decoded(srv2).exists(_.contains("HIRED eq")), decoded(srv2))
    } finally srv2.stop()
  }

  test("metadataSchema + aggregate pushdown: typed min/max and typed grouping PUSH with native decode; expressions decline") {
    // KCLEAVERS = 5i so numeric vs lexicographic ordering DIVERGE
    // (lexicographic max of {"0","5","10","15","20","25"} is "5") —
    // the assert below catches a string-comparing path on either side
    val typedRows = (0 until 6).map(i => Map(
      "CEMPLOYEE_UUID" -> i.toString, "TEMPLOYEE_UUID" -> s"Employee $i",
      "KCLEAVERS" -> (i * 5).toString, "C0CHAR_STRUCTURE" -> s"STRUCT${i % 2}"))
    val srv = new ODataStubServer(typedRows, "C0CHAR_STRUCTURE",
      dialect = "v4", metadataDoc = Some(edmxDoc),
      rawJsonFields = Set("KCLEAVERS")).start()
    try {
      val df = spark.read.format("odata")
        .option("baseUrl", srv.url)
        .option("servicePath", "sap/byd/odata/analytics.svc")
        .option("entity", "EmployeeQueryResults")
        .option("selectFields", "CEMPLOYEE_UUID,TEMPLOYEE_UUID,KCLEAVERS")
        .option("structureCandidates", candidates)
        .option("metadataSchema", "true")
        .option("pushDownAggregates", "true")
        .option("failFast", "true")
        .load()
      // min over the Int32 column PUSHES and decodes NATIVELY — the
      // server compares numeric values (a string-compare server would
      // answer "9" > "10" wrong; the strict stub compares numerically
      // when all cells parse, like a real typed server)
      val mm = df.agg(min(col("KCLEAVERS")), max(col("KCLEAVERS"))).collect().head
      assert((mm.getInt(0), mm.getInt(1)) == ((0, 25)), mm)
      assert(srv.requestLog.exists(u => java.net.URLDecoder.decode(u, "UTF-8")
          .contains("KCLEAVERS with min")),
        s"typed min must push: ${srv.requestLog.filter(_.contains("apply"))}")
      // typed GROUPING pushes too: group keys decode through the row
      // cell path, counts stay long
      srv.requestLog = Vector.empty
      val g = df.groupBy(col("KCLEAVERS") % 2).agg(count(lit(1)))
      // modulo is an EXPRESSION, not a plain column — must decline
      assert(g.count() == 2)
      assert(!srv.requestLog.exists(u => u.contains("%24apply") ||
        u.contains("$apply")), s"expression groupby must not push: ${srv.requestLog}")
      srv.requestLog = Vector.empty
      val tg = df.groupBy(col("KCLEAVERS")).agg(count(lit(1)).as("n"))
        .orderBy("KCLEAVERS")
        .as[(Int, Long)].collect().toSeq
      assert(tg == (0 until 6).map(i => (i * 5, 1L)), tg)
      assert(srv.requestLog.exists(u => u.contains("%24apply") ||
        u.contains("$apply")), s"typed groupby must push: ${srv.requestLog}")
      // …and a STRING column's aggregate still collapses server-side
      srv.requestLog = Vector.empty
      val c = df.groupBy(col("C0CHAR_STRUCTURE")).agg(count(lit(1)).as("n"))
        .orderBy("C0CHAR_STRUCTURE")
        .as[(String, Long)].collect().toSeq
      assert(c == Seq(("STRUCT0", 3L), ("STRUCT1", 3L)), c)
      assert(srv.requestLog.exists(u => u.contains("%24apply") ||
        u.contains("$apply")), s"string groupby must push: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("oauth: concurrent token misses single-flight into ONE grant (no stampede)") {
    import graft.sources.odata.ODataClient
    val srv = new ODataStubServer(mkRows(1), "C0CHAR_STRUCTURE",
      oauthCreds = Some(("sf-client", "sf-secret"))).start()
    try {
      val cfg = ODataClient.OAuthConfig(s"${srv.url}/token", "sf-client", "sf-secret")
      // 16 threads race a cold cache — without the per-key lock each
      // would POST its own client-credentials grant
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val toks = try {
        val tasks = (1 to 16).map(_ => (() =>
          ODataClient.bearerToken(cfg, 5000)): java.util.concurrent.Callable[String])
        pool.invokeAll(java.util.Arrays.asList(tasks: _*))
          .asInstanceOf[java.util.List[java.util.concurrent.Future[String]]]
      } finally pool.shutdown()
      val distinct = (0 until 16).map(toks.get(_).get()).distinct
      assert(distinct.size == 1, s"threads must share one grant: $distinct")
      assert(srv.tokensIssued.get() == 1,
        s"stampede: ${srv.tokensIssued.get()} grants for one cold miss")
    } finally srv.stop()
  }

  test("oauth: a fresh token used up by concurrent requests costs a second re-auth, not a failure") {
    import graft.sources.odata.ODataClient
    val srv = new ODataStubServer(mkRows(1), "C0CHAR_STRUCTURE",
      oauthCreds = Some(("race-client", "race-secret")), tokenValidRequests = 4).start()
    try {
      val cfg = ODataClient.OAuthConfig(s"${srv.url}/token", "race-client", "race-secret")
      val url = ODataClient.buildUrl(s"${srv.url}/svc/E", Seq("$format" -> "json"))
      def get(): String = ODataClient.getWithRetry(url, None, None, 5000, 0, 0L, oauth = Some(cfg))
      (1 to 4).foreach(_ => get()) // the first token's 4 requests, spent
      // 5 requests at once on the spent token: all 401 and share one
      // fresh 4-request grant, so one of them is refused a second time
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      val results = try {
        val fs = (1 to 5).map(_ => pool.submit((() => {
          start.await(); scala.util.Try(get())
        }): java.util.concurrent.Callable[scala.util.Try[String]]))
        start.countDown()
        fs.map(_.get())
      } finally pool.shutdown()
      assert(results.forall(_.isSuccess),
        results.collect { case scala.util.Failure(e) => e.getMessage })
      assert(srv.tokensIssued.get() >= 3, srv.tokensIssued.get())
    } finally srv.stop()
  }

  test("strict stub: delta rounds project to the DEFINING query's \\$select (v4 11.3)") {
    import graft.sources.odata.ODataClient
    val upd = Map("TEMPLOYEE_UUID" -> "Employee 1 RENAMED",
      "CEMPLOYEE_UUID" -> "1", "KCLEAVERS" -> "9")
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      dialect = "v4", deltaBatches = Seq((Seq(upd), Nil)),
      deltaKeyField = "CEMPLOYEE_UUID").start()
    try {
      // track with a KEY-ONLY defining query...
      val tracked = ODataClient.parsePage(ODataClient.get(
        ODataClient.buildUrl(s"${srv.url}/svc/EmployeeQueryResults",
          Seq("$select" -> "CEMPLOYEE_UUID", "$format" -> "json")),
        None, None, 5000,
        extraHeaders = Seq("Prefer" -> "odata.track-changes")).body)
      val link = tracked.deltaLink.get
      // ...and the delta round lawfully carries ONLY the key: the
      // changed TEMPLOYEE_UUID/KCLEAVERS are stripped (this is WHY
      // seedWithParallelScan must track the full projection)
      val delta = ODataClient.parsePage(ODataClient.get(
        link, None, None, 5000).body)
      assert(delta.rows.size == 1)
      assert(delta.rows.head.keySet == Set("CEMPLOYEE_UUID"),
        delta.rows.head.toString)
    } finally srv.stop()
  }

  test("reportStatistics: a /\\$count-backed row estimate lets Catalyst AUTO-broadcast the odata dim") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      // a fact too big to broadcast (3M rows × ~28B estimated ≫ the
      // 10MB threshold) joined to the 9-row odata dim with NO hint:
      // with statistics the planner broadcasts the ODATA side on its
      // own (BuildRight)
      def fact = spark.range(3000000)
        .select((col("id") % 9).cast("string").as("CEMPLOYEE_UUID"),
          col("id").as("v"))
      val dim = read(srv, Map("reportStatistics" -> "true"))
      val joined = fact.join(dim, Seq("CEMPLOYEE_UUID"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"),
        plan)
      assert(joined.count() == 3000000)
      // without the option: unknown stats → default (huge) size on the
      // odata side and an unbroadcastable fact, so the same UNHINTED
      // join must not broadcast anything
      val plan2 = fact.join(read(srv), Seq("CEMPLOYEE_UUID"))
        .queryExecution.sparkPlan.toString
      assert(!plan2.contains("BroadcastHashJoin"), plan2)
    } finally srv.stop()
  }

  test("expand-as-join childOptions: a federated child scans a DIFFERENT service (baseUrl override)") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val navs = navFixture(6)
    val parentSrv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE").start()
    val childSrv = new ODataStubServer(navs("Assignments").rows, "A_PROJ").start()
    try {
      val joined = ODataExpandAsJoin.scan(spark,
        Map("baseUrl" -> parentSrv.url,
          "servicePath" -> "sap/byd/odata/analytics.svc",
          "entity" -> "EmployeeQueryResults",
          "selectFields" -> selectFields,
          "structureCandidates" -> candidates,
          "failFast" -> "true"),
        Seq(JoinNav("Assignments", collection = true,
          Seq("A_PROJ", "A_HOURS"), "Assignments", "CEMPLOYEE_UUID", "A_EMP",
          childOptions = Map("baseUrl" -> childSrv.url, "servicePath" -> "other/svc"))))
      val n = joined.select(explode(col("Assignments"))).count()
      assert(n == navs("Assignments").rows.size, s"$n")
      // the child rows really came from the OTHER service
      assert(childSrv.requestLog.exists(_.contains("Assignments")),
        childSrv.requestLog)
      assert(!parentSrv.requestLog.exists(_.contains("other/svc")),
        parentSrv.requestLog)
    } finally { parentSrv.stop(); childSrv.stop() }
  }

  test("expand-as-join + reportStatistics: the child entity's /\\$count stats auto-broadcast the join") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val navs = navFixture(6)
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      extraEntities = Map("ManagerSet" -> navs("Manager").rows)).start()
    try {
      // reportStatistics INHERITS into the child scan: the tiny
      // ManagerSet reports its /$count and Catalyst broadcasts it
      // with no hint — the two options composing into the classic
      // broadcast-dim join
      val joined = ODataExpandAsJoin.scan(spark,
        Map("baseUrl" -> srv.url,
          "servicePath" -> "sap/byd/odata/analytics.svc",
          "entity" -> "EmployeeQueryResults",
          "selectFields" -> selectFields,
          "structureCandidates" -> candidates,
          "reportStatistics" -> "true",
          "failFast" -> "true"),
        Seq(JoinNav("Manager", collection = false,
          Seq("M_NAME", "M_LEVEL"), "ManagerSet", "CEMPLOYEE_UUID", "M_EMP")))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(joined.where(col("Manager").isNotNull).count() == 3) // 0,2,4
    } finally srv.stop()
  }

  test("runtime filtering (DPP): a broadcast join's key set prunes the planned value chains at execution") {
    val srv = new ODataStubServer(mkRows(9), "C0CHAR_STRUCTURE").start()
    try {
      // dim with a SELECTIVE filter (DPP's precondition — note it must
      // SURVIVE optimization as a Filter node, which a folded-away
      // local Seq would not) that keeps one key; the broadcast join's
      // build-side key set reaches the scan through
      // SupportsRuntimeV2Filtering.filter at execution
      val dim = spark.range(3)
        .select(concat(lit("STRUCT"), col("id").cast("string")).as("grp"),
          when(col("id") === 1, "keep").otherwise("drop").as("label"))
      val fact = read(srv)
      val joined = fact
        .join(broadcast(dim.where(col("label") === "keep")),
          fact("C0CHAR_STRUCTURE") === dim("grp"))
      assert(joined.queryExecution.optimizedPlan.toString.contains("dynamicpruning"),
        joined.queryExecution.optimizedPlan.toString)
      val rows = joined.select("CEMPLOYEE_UUID").as[String].collect().toSet
      assert(rows == Set("1", "4", "7"))
      // only the surviving value's chain may have been fetched: no
      // request for STRUCT0/STRUCT2 chains anywhere in the log
      val decoded = srv.requestLog.map(java.net.URLDecoder.decode(_, "UTF-8"))
      val chainReqs = decoded.filter(_.contains("$filter="))
      assert(chainReqs.nonEmpty && chainReqs.forall(_.contains("STRUCT1")),
        s"runtime filter must prune chains to the join's key set: $decoded")
      // (one codes-entity enumeration still runs: Spark plans the
      // ORIGINAL partitions for outputPartitioning before applying
      // runtime filters — a control-plane request; the DATA chains
      // above are what the pruning collapses)
    } finally srv.stop()
  }

  // paged-nav fixture: one employee with MANY assignments so the
  // stub's navPageSize forces a continuation chain on the expanded
  // collection (the silent-truncation hole the follow closes)
  private def wideNavFixture(kids: Int): Map[String, StubNav] = {
    val assignments = (0 until kids).map { j =>
      Map("A_EMP" -> "0", "A_PROJ" -> s"P$j", "A_HOURS" -> (j * 10).toString)
    }
    Map("Assignments" -> StubNav(collection = true, "CEMPLOYEE_UUID", "A_EMP", assignments))
  }

  test("\\$expand paged collection (v4): the Nav@odata.nextLink continuation chain is followed, not truncated") {
    val srv = new ODataStubServer(mkRows(2), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = wideNavFixture(8), navPageSize = 3).start()
    try {
      val df = read(srv, Map("expand" -> "Assignments*(A_PROJ,A_HOURS)",
        "failFast" -> "true"))
      val rows = df.select(col("CEMPLOYEE_UUID"), col("Assignments"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))).toMap
      // 8 kids at navPageSize=3 → inline 3 + two continuation pages
      assert(rows("0") == (0 until 8).map(j => s"P$j"),
        s"paged collection must arrive complete: ${rows("0")}")
      assert(rows("1") == Nil)
      val contReqs = srv.requestLog.filter(_.contains("navcont"))
      assert(contReqs.size == 2, s"expected 2 continuation fetches: $contReqs")
      // the annotation is plumbing — it must not leak into the array
      assert(rows("0").size == 8)
    } finally srv.stop()
  }

  test("\\$expand paged collection (v2): the nested __next inside the results envelope is followed") {
    val srv = new ODataStubServer(mkRows(2), "C0CHAR_STRUCTURE",
      dialect = "v2", navProps = wideNavFixture(7), navPageSize = 3).start()
    try {
      val df = read(srv, Map("expand" -> "Assignments*(A_PROJ,A_HOURS)",
        "expandStyle" -> "v2", "failFast" -> "true"))
      val got = df.where(col("CEMPLOYEE_UUID") === "0")
        .select(explode(col("Assignments")).as("a"))
        .select(col("a.A_PROJ")).as[String].collect().toSeq
      assert(got == (0 until 7).map(j => s"P$j"), got)
      assert(srv.requestLog.count(_.contains("navcont")) == 2,
        s"7 kids at page 3 → inline 3 + pages of 3 and 1: ${srv.requestLog}")
    } finally srv.stop()
  }

  test("\\$expand paged collection + extras map: the pagination annotation is consumed, never leaked to _extra") {
    val srv = new ODataStubServer(mkRows(1), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = wideNavFixture(5), navPageSize = 2).start()
    try {
      val df = read(srv, Map("expand" -> "Assignments*(A_PROJ,A_HOURS)",
        "extraColumns" -> "map", "failFast" -> "true"))
      val r = df.select(size(col("Assignments")).as("n"),
        map_keys(col("_extra")).as("ks")).collect().head
      assert(r.getInt(0) == 5, r)
      assert(!r.getSeq[String](1).exists(_.contains("nextLink")),
        s"annotation leaked into extras: ${r.getSeq[String](1)}")
    } finally srv.stop()
  }

  test("expand-as-join: identical nested result to inline \\$expand, no \\$expand on the wire, empty/null shapes match") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val navs = navFixture(6)
    val srv = new ODataStubServer(mkRows(6), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navs,
      extraEntities = Map(
        "AssignmentSet" -> navs("Assignments").rows,
        "ManagerSet" -> navs("Manager").rows)).start()
    try {
      val inline = read(srv, Map("expand" -> expandOpt, "failFast" -> "true"))
      val joined = ODataExpandAsJoin.scan(spark,
        Map("baseUrl" -> srv.url,
          "servicePath" -> "sap/byd/odata/analytics.svc",
          "entity" -> "EmployeeQueryResults",
          "selectFields" -> selectFields,
          "structureCandidates" -> candidates,
          "failFast" -> "true"),
        Seq(
          JoinNav("Manager", collection = false,
            Seq("M_NAME", "M_LEVEL"), "ManagerSet", "CEMPLOYEE_UUID", "M_EMP"),
          JoinNav("Assignments", collection = true,
            Seq("A_PROJ", "A_HOURS"), "AssignmentSet", "CEMPLOYEE_UUID", "A_EMP")))
      assert(joined.schema("Manager").dataType.simpleString ==
        "struct<M_NAME:string,M_LEVEL:string>")
      assert(joined.schema("Assignments").dataType.simpleString ==
        "array<struct<A_PROJ:string,A_HOURS:string>>")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("CEMPLOYEE_UUID"), col("Manager"),
            array_sort(col("Assignments")).as("Assignments"))
          .collect().map(_.toString).sorted.toSeq
      assert(canon(joined) == canon(inline),
        s"strategies must be interchangeable:\n${canon(joined)}\nvs\n${canon(inline)}")
      // the join plan never $expands — the child sets were scanned as
      // their own entities
      val joinReqs = srv.requestLog.filter(u =>
        u.contains("AssignmentSet") || u.contains("ManagerSet"))
      assert(joinReqs.nonEmpty, srv.requestLog)
      assert(!joinReqs.exists(u => u.contains("expand")), joinReqs)
      // shape edges: employee 0 has no assignments (EMPTY array, not
      // null), employee 1 has no manager (null struct)
      val r = joined.where(col("CEMPLOYEE_UUID").isin("0", "1"))
        .select(col("CEMPLOYEE_UUID"), col("Manager").isNull.as("mnull"),
          size(col("Assignments")).as("an"))
        .collect().map(x => x.getString(0) -> ((x.getBoolean(1), x.getInt(2)))).toMap
      assert(r("0") == ((false, 0)), r)
      assert(r("1") == ((true, 1)), r)
    } finally srv.stop()
  }

  test("expand-as-join: a poisoned child entity FAILS the scan even under parent failFast=false — never silently-empty associations") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val navs = navFixture(5)
    val srv = new ODataStubServer(mkRows(5), "C0CHAR_STRUCTURE",
      dialect = "v4",
      extraEntities = Map("AssignmentSet" -> navs("Assignments").rows),
      failEntities = Set("AssignmentSet")).start()
    try {
      val base = Map("baseUrl" -> srv.url,
        "servicePath" -> "sap/byd/odata/analytics.svc",
        "entity" -> "EmployeeQueryResults",
        "selectFields" -> selectFields,
        "structureCandidates" -> candidates,
        // the parent is TOLERANT — the child scan must not inherit it
        "failFast" -> "false", "maxRetries" -> "0")
      val nav = JoinNav("Assignments", collection = true,
        Seq("A_PROJ", "A_HOURS"), "AssignmentSet", "CEMPLOYEE_UUID", "A_EMP")
      val e = intercept[Exception] {
        ODataExpandAsJoin.scan(spark, base, Seq(nav)).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("500") || msgs.contains("injected"), msgs)
      // the explicit childOptions opt-out IS honored (loud, logged):
      // the tolerated child chain yields zero rows → every parent
      // carries an empty array — the caller asked for exactly this
      val tolerated = ODataExpandAsJoin.scan(spark, base,
        Seq(nav.copy(childOptions = Map("failFast" -> "false"))))
      val sizes = tolerated.select(size(col("Assignments")).as("n"))
        .collect().map(_.getInt(0))
      assert(sizes.length == 5 && sizes.forall(_ == 0), sizes.toSeq)
    } finally srv.stop()
  }

  test("expand-as-join: duplicate childKey under a single-valued nav fails BY KEY, never duplicates parent rows") {
    import graft.sources.odata.ODataExpandAsJoin
    import graft.sources.odata.ODataExpandAsJoin.JoinNav
    val managers = Seq(
      Map("M_EMP" -> "0", "M_NAME" -> "Manager A", "M_LEVEL" -> "1"),
      Map("M_EMP" -> "0", "M_NAME" -> "Manager B", "M_LEVEL" -> "2"), // dup key
      Map("M_EMP" -> "2", "M_NAME" -> "Manager C", "M_LEVEL" -> "3"))
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      dialect = "v4",
      extraEntities = Map("ManagerSet" -> managers)).start()
    try {
      val joined = ODataExpandAsJoin.scan(spark,
        Map("baseUrl" -> srv.url,
          "servicePath" -> "sap/byd/odata/analytics.svc",
          "entity" -> "EmployeeQueryResults",
          "selectFields" -> selectFields,
          "structureCandidates" -> candidates,
          "failFast" -> "true"),
        Seq(JoinNav("Manager", collection = false,
          Seq("M_NAME", "M_LEVEL"), "ManagerSet", "CEMPLOYEE_UUID", "M_EMP")))
      val e = intercept[Exception] { joined.collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("single-valued") && msgs.contains("M_EMP='0'"), msgs)
    } finally srv.stop()
  }

  test("\\$expand strictness: unknown nav 400s loudly; declared cardinality mismatch fails fast; bad specs rejected") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(3)).start()
    try {
      val eNav = intercept[Exception] {
        read(srv, Map("expand" -> "Bogus(F1)", "failFast" -> "true")).collect()
      }
      assert(eNav.getMessage.contains("400") ||
        Option(eNav.getCause).exists(_.getMessage.contains("400")), eNav.getMessage)
      // Manager declared COLLECTION while the server serves an object:
      // fail, never a silent null
      val eCard = intercept[Exception] {
        read(srv, Map("expand" -> "Manager*(M_NAME)", "failFast" -> "true"))
          .where(col("CEMPLOYEE_UUID") === "0").collect()
      }
      val msgs = Iterator.iterate(eCard: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("neither an array nor a v2 results envelope"), msgs)
      intercept[IllegalArgumentException] {
        read(srv, Map("expand" -> "Manager()")).schema
      }
      intercept[IllegalArgumentException] {
        read(srv, Map("expand" -> "TEMPLOYEE_UUID(F1)")).schema // name collision
      }
    } finally srv.stop()
  }

  test("\\$expand + extras map: an expanded nav is DECLARED — it must not duplicate into _extra") {
    val srv = new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE",
      dialect = "v4", navProps = navFixture(3),
      extraServedFields = Seq("__metadata"),
      rawJsonFields = Set("__metadata")).start()
    try {
      val df = read(srv, Map("expand" -> "Manager(M_NAME,M_LEVEL)",
        "extraColumns" -> "map"))
      val r = df.where(col("CEMPLOYEE_UUID") === "0")
        .select(col("Manager.M_NAME"), map_keys(col("_extra")))
        .collect().head
      assert(r.getString(0) == "Manager of 0")
      assert(!r.getSeq[String](1).contains("Manager"),
        s"nav must not leak into extras: ${r.getSeq[String](1)}")
    } finally srv.stop()
  }

  // ---- structure-code enumeration: first page, /$count, $skip tiles ----

  // one codes row per i: null every 5th, "" every 7th, otherwise a code
  // unique to that row, so a tile read twice or skipped changes the keys
  private def codesRows(n: Int): Seq[Map[String, String]] =
    (0 until n).map(i => Map("C0CHAR_STRUCTURE" ->
      (if (i % 5 == 0) null else if (i % 7 == 0) "" else f"CODE$i%03d")))

  // the reference's answer over the same rows: sorted distinct, no null or ""
  private def serialKeys(codes: Seq[Map[String, String]]): Seq[String] =
    codes.flatMap(_.get("C0CHAR_STRUCTURE")).filter(v => v != null && v.nonEmpty)
      .distinct.sorted

  // a separate Codes entity served 7 rows to a page, with the relative
  // continuations real v2 tenants emit
  private def codesStub(codes: Seq[Map[String, String]], countBias: Int = 0,
                        failSkips: Set[Long] = Set.empty): ODataStubServer =
    new ODataStubServer(mkRows(3), "C0CHAR_STRUCTURE", serverPageSize = 7,
      extraEntities = Map("Codes" -> codes), countBias = countBias,
      relativeNextLinks = true, failSkips = failSkips).start()

  private def readCodes(srv: ODataStubServer, extra: Map[String, String] = Map.empty) =
    read(srv, Map("codesEntity" -> "Codes") ++ extra)

  private def scanOf(df: DataFrame): BatchScanExec =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.head

  // runs the scan; its planned partition values, in partition order
  private def plannedValues(df: DataFrame): Seq[String] = {
    df.collect()
    scanOf(df).inputPartitions.flatMap(
      _.asInstanceOf[graft.sources.odata.ODataInputPartition].structureValues)
  }

  // requests the enumeration sent to the Codes entity, by kind: the
  // first page, the /$count, a $skip tile (its continuations included)
  // or a page of the serial chain. The schema probes ($top=1) also
  // address the codes entity; they are not part of it.
  private def codesKinds(srv: ODataStubServer): Map[String, Int] =
    srv.requestLog.flatMap { raw =>
      val uri = new java.net.URI(raw)
      val q = Option(uri.getQuery).getOrElse("")
      if (uri.getPath.endsWith("/Codes/$count")) Some("count")
      else if (!uri.getPath.endsWith("/Codes") || q.contains("$top=1&")) None
      else if (q.contains("$skip=")) Some("tile")
      else if (q.contains("$skiptoken=")) Some("chain")
      else Some("first")
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  // the WARN lines the scan logs while `body` runs
  private def scanWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(classOf[graft.sources.odata.ODataScan].getName).asInstanceOf[Logger]
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "scan-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          msgs.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    logger.addAppender(app)
    try (body, msgs.asScala.toSeq)
    finally { logger.removeAppender(app); app.stop() }
  }

  private def tileThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_ == "odata-codes-tile")

  test("structure codes: first page + one /$count + concurrent $skip tiles plan the serial chain's keys") {
    // N not a multiple of the page size 7; the last tile is short
    for (n <- Seq(45, 50)) {
      val codes = codesRows(n)
      val srv = codesStub(codes)
      try {
        assert(plannedValues(readCodes(srv)) == serialKeys(codes))
        assert(codesKinds(srv) == Map("first" -> 1, "count" -> 1, "tile" -> ((n + 6) / 7 - 1)),
          srv.requestLog.mkString("\n"))
      } finally srv.stop()
    }
    // one thread (requestPauseMs > 0) and one bin plan the same values
    val codes = codesRows(45)
    val srv = codesStub(codes)
    try assert(plannedValues(readCodes(srv, Map("requestPauseMs" -> "1",
      "maxPartitions" -> "1"))) == serialKeys(codes))
    finally srv.stop()
  }

  test("structure codes: a codes entity that fits one page sends no /$count") {
    val codes = codesRows(6)
    val srv = codesStub(codes)
    try {
      assert(plannedValues(readCodes(srv)) == serialKeys(codes))
      assert(codesKinds(srv) == Map("first" -> 1), srv.requestLog.mkString("\n"))
    } finally srv.stop()
  }

  test("structure codes: a /$count the tiles disagree with warns and re-reads the serial chain") {
    val codes = codesRows(45)
    for (bias <- Seq(3, -3)) {
      val srv = codesStub(codes, countBias = bias)
      try {
        val (got, warned) = scanWarnings(plannedValues(readCodes(srv)))
        assert(got == serialKeys(codes), s"countBias $bias")
        assert(warned.exists(_.contains("changed while planning")), s"countBias $bias: $warned")
        // the serial fallback followed the first page's continuations
        assert(codesKinds(srv).get("chain").contains(45 / 7),
          s"countBias $bias: ${srv.requestLog.mkString("\n")}")
      } finally srv.stop()
    }
  }

  test("structure codes: a tile that keeps failing fails the read, and no tile thread outlives planning") {
    val srv = codesStub(codesRows(45), failSkips = Set(14L))
    try {
      val e = intercept[Exception] {
        plannedValues(readCodes(srv, Map("maxRetries" -> "2", "retryBackoffMs" -> "1")))
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getMessage.contains("HTTP 500")), causes.map(_.getMessage))
      // the poisoned tile was retried, then failed planning
      assert(srv.requestLog.count(_.contains("%24skip=14&")) == 3, srv.requestLog.mkString("\n"))
      val deadline = System.nanoTime() + 5000000000L
      while (tileThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(tileThreads.isEmpty, tileThreads)
    } finally srv.stop()
  }

  test("driver metrics: codesRequests equals the codes requests the server saw; codesMs is the planning time") {
    val srv = codesStub(codesRows(45))
    try {
      val df = readCodes(srv)
      val t0 = System.nanoTime()
      df.collect()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val m = scanOf(df).metrics
      val sent = codesKinds(srv).values.sum
      assert(sent == 1 + 1 + 6)
      assert(m("codesRequests").value == sent)
      assert(m("codesMs").value >= 0 && m("codesMs").value <= wallMs,
        s"codesMs ${m("codesMs").value} of a $wallMs ms action")
      // a scan pruned to one value never enumerates
      srv.requestLog = Vector.empty
      val pruned = readCodes(srv).where(col("C0CHAR_STRUCTURE") === "CODE001")
      pruned.collect()
      assert(scanOf(pruned).metrics("codesRequests").value == 0)
      assert(codesKinds(srv).isEmpty, srv.requestLog.mkString("\n"))
    } finally srv.stop()
  }

  test("task metrics: pages and rows equal the data pages the server saw and the rows read") {
    // 3 chains of 7, 7 and 6 rows, served 3 to a page: 3 + 3 + 2 pages;
    // every row spills a __metadata object the scan skips
    val rows = mkRows(20).map(_ + ("__metadata" -> """{"uri": "https://h/svc/E('1')"}"""))
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE", serverPageSize = 3,
      extraServedFields = Seq("__metadata"), rawJsonFields = Set("__metadata")).start()
    try {
      val df = read(srv)
      val t0 = System.nanoTime()
      assert(df.collect().length == 20)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // a chain's first page and its continuations carry the chain's $filter
      val dataPages = srv.requestLog.count(u =>
        Option(new java.net.URI(u).getQuery).exists(_.contains("$filter=")))
      assert(dataPages == 8, srv.requestLog.mkString("\n"))
      val m = scanOf(df).metrics
      assert(m("pages").value == dataPages)
      assert(m("rows").value == 20)
      assert(m("responseBytes").value > 0)
      assert(m("decodeMs").value >= 0 && m("decodeMs").value <= wallMs,
        s"decodeMs ${m("decodeMs").value} of a $wallMs ms action")
    } finally srv.stop()
  }

  test("end-to-end: odata scan through the reference ETL pipeline (golden shape)") {
    val srv = new ODataStubServer(mkRows(9) ++ mkRows(2), "C0CHAR_STRUCTURE").start() // dups
    try {
      val out = graft.operators.Etl.dedupRows(
        graft.operators.Etl.renameColumns(read(srv), Map(
          "TEMPLOYEE_UUID" -> "Employee", "CEMPLOYEE_UUID" -> "EmployeeID",
          "C0CHAR_STRUCTURE" -> "Structure")))
      assert(out.count() == 9) // dups dropped
      assert(out.columns.toSeq == Seq("Employee", "EmployeeID", "KCLEAVERS", "Structure"))
    } finally srv.stop()
  }
}
