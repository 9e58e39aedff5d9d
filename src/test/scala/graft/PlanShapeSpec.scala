package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Guards the scale-critical plan shapes: these assertions fail if a
  * future change silently degrades a plan (lost pushdown, lost
  * broadcast, an inequality join sneaking in). Complements dev-time
  * PlanAudit (human inspection) with CI-time checks.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution
      .explainString(FormattedMode)

  test("parquet scans push filters and prune columns (agg_pricing)") {
    val p = plan("agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter must reach the parquet scan")
    assert(!p.contains("l_comment"), "unused wide columns must be pruned")
  }

  test("OData aggregate pushdown leaves no Aggregate above the scan (odata_agg_pushdown)") {
    val df = SparkEntry.queries("odata_agg_pushdown")(spark, sf001)
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty,
      s"the aggregate must never leave the scan (complete pushdown):\n${df.queryExecution.optimizedPlan}")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("apply=groupby((O_PRIORITY),aggregate($count as agg0," +
      "O_ORDERKEY with min as agg1,O_ORDERKEY with max as agg2," +
      "O_STATUS with countdistinct as agg3))"),
      s"scan description must carry the \\$$apply translation:\n$p")
    assert(!p.contains("HashAggregate"), "no physical aggregate either")
  }

  test("OData filter+aggregate composition leaves neither Filter nor Aggregate above the scan (odata_agg_filter_pushdown)") {
    val df = SparkEntry.queries("odata_agg_filter_pushdown")(spark, sf001)
    val survivors = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a: Any
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f: Any
    }
    assert(survivors.isEmpty,
      s"the WHOLE filter+aggregate must collapse into the scan:\n${df.queryExecution.optimizedPlan}")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("apply=filter(O_STATUS eq 'O')/groupby((O_PRIORITY)," +
      "aggregate($count as agg0,O_ORDERKEY with min as agg1," +
      "O_ORDERKEY with max as agg2))"),
      s"scan description must carry the composed \\$$apply:\n$p")
    assert(!p.contains("HashAggregate"), "no physical aggregate either")
  }

  test("dimension joins broadcast (join_revenue)") {
    val p = plan("join_revenue")
    assert(p.contains("BroadcastHashJoin"), "customer/orders dims must broadcast")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
  }

  test("as-of join is one window pass, not an inequality join (join_asof)") {
    val p = plan("join_asof")
    assert(p.contains("Window"), "as-of must run as a window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must never plan a nested-loop/cartesian join")
  }

  test("range join is an equi-join on (keys, bin) (join_range)") {
    val p = plan("join_range")
    assert(p.contains("HashJoin"), "range join must be hash-joinable (equi keys)")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must never plan a nested-loop/cartesian join")
  }

  test("brute-force ANN broadcasts the query side (sim_topk)") {
    val p = plan("sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast — the corpus must not shuffle")
  }

  test("partitioned-scan restriction is a broadcast semi join (etl_partitioned_scan)") {
    val p = plan("etl_partitioned_scan")
    assert(p.contains("LeftSemi"), "key restriction must be a semi join")
    assert(p.contains("Broadcast"), "the distinct-key side must broadcast")
  }

  test("pair scoring uses the native kernels, not interpreted HOFs (dedup_embedding)") {
    val p = plan("dedup_embedding")
    assert(p.contains("dotproduct(") && p.contains("l2norm("),
      "dot/norm must be the codegen kernels")
    assert(!p.contains("aggregate(") && !p.contains("zip_with("),
      "no interpreted higher-order functions in the pair path")
  }

  test("k-means centroid numbering needs no window at all (cluster_kmeans_step)") {
    val p = plan("cluster_kmeans_step")
    assert(!p.contains("Window"),
      "centroid seeding must use the sorted-collect_list form, not a global window")
  }

  test("int8 quantization is map-only — zero shuffles") {
    val e = Tables.embeddings(spark, sf001)
    val p = graft.operators.Embeddings.quantizeInt8(e, "vec_id", "embedding")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"),
      "quantization must stream through the scan with no shuffle")
  }

  test("audio chunking is map-only — zero shuffles (mm_audio_chunks)") {
    import spark.implicits._
    val docs = graft.operators.Multimodal.withPayload(
      Tables.documents(spark, sf001), "text")
    val p = graft.operators.Multimodal.audioChunks(
        graft.operators.Multimodal.extractAudioMeta(docs, "doc_id"),
        chunkMs = 10000L, overlapMs = 2000L)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"),
      "probe + chunk explode must stream through the scan with no shuffle")
  }

  test("dedupBinary collapses identical payloads; blobs pruned before the shuffle (mm_dedup_binary)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "text")
    val inv = graft.operators.Multimodal.dedupBinary(
      graft.operators.Multimodal.withPayload(docs, "text"), "doc_id", "payload")
    val got = inv.orderBy("keeper_id")
      .select("keeper_id", "n_bytes", "n_copies", "bytes_saved")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 2L, 4L), (3L, 5L, 1L, 0L)), s"got $got")
    // the binary column must be pruned before the content aggregate:
    // the blob feeds md5/octet_length map-side and never shuffles
    val agg = inv.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.head
    assert(!agg.child.output.exists(_.name == "payload"),
      s"payload must not reach the aggregate input: ${agg.child.output}")
  }

  test("image tiling is map-only — zero shuffles (mm_image_tiles)") {
    import spark.implicits._
    val docs = graft.operators.Multimodal.withPayload(
      Tables.documents(spark, sf001), "text")
    val p = graft.operators.Multimodal.imageTiles(
        graft.operators.Multimodal.extractMeta(docs, "doc_id"),
        tileW = 256, tileH = 256, overlap = 64)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"),
      "probe + two grid explodes must stream through the scan with no shuffle")
  }

  test("bloom prefilter probes the big side before its shuffle (join_bloom_prefilter)") {
    import org.apache.spark.sql.functions._
    val urgent = Tables.orders(spark, sf001)
      .where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
    val p = graft.operators.Joins.bloomPrefilterJoin(
        Tables.lineitem(spark, sf001), "l_orderkey", urgent, "o_orderkey")
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("might_contain"),
      "the big side must carry the bloom probe as a plan filter, not a post-join residual")
    // the probe must sit under the join: filter appears in the scan-side
    // subtree, i.e. before any SortMergeJoin/ShuffledHashJoin operator id
    val probeAt = p.indexOf("might_contain")
    val joinAt = math.max(p.indexOf("SortMergeJoin"),
      math.max(p.indexOf("ShuffledHashJoin"), p.indexOf("BroadcastHashJoin")))
    assert(joinAt >= 0 && probeAt >= 0,
      s"expected a join and a probe in the plan")
  }

  test("batch BM25 ranks per query — no global sort, window keyed by query_id") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
    val qs = Seq((1L, "hash join"), (2L, "vector scan")).toDF("query_id", "qtext")
    val p = graft.operators.TextAnalysis.bm25TopKBatch(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 10)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Window"), "per-query top-k must be a rank window")
    assert(!p.contains("Exchange SinglePartition") && !p.contains("Sort [score"),
      "ranking must never collapse to a single partition or a global sort")
    assert(p.contains("hashpartitioning(query_id"),
      "the window must partition by query_id")
  }

  test("LSH ANN broadcasts the bucketed query side (sim_lsh_topk)") {
    val p = plan("sim_lsh_topk")
    assert(p.contains("BroadcastHashJoin"),
      "bucket join must broadcast the (small) query side")
  }

  test("latest-row dedup is a max-struct aggregate — no Window in the plan") {
    val p = plan("join_latest_order")
    assert(!p.contains("Window"),
      s"latest-per-key must be the argmax aggregate, not a row_number window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
           p.contains("SortAggregate"),
      "expected an aggregate carrying the max-struct payload")
  }

  test("knn-graph self-join shares one bucketed exchange; candidate dedup is id-narrow") {
    // the DIRECT operator (the gate now serves from the materialized
    // edge table — writeKnnGraph runs this plan at build time)
    val q = graft.operators.Similarity.knnGraph(
      spark.read.parquet(s"$sf001/embeddings.parquet"),
      "vec_id", "embedding", k = 3, nbits = 4, numTables = 16)
    q.collect() // AQE: exchange reuse materializes in the final plan
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      s"both sides of the (t, bucket) self-join must share one exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      "bucketed candidate generation must never degrade to a cross product")
    // the dedup aggregate must group bare ids — a vector column inside
    // the distinct means the wide rows ride the shuffle again
    assert(!"HashAggregate\\(keys=\\[[^\\]]*vec".r.findFirstIn(p).isDefined,
      s"pair dedup must not carry vector payloads:\n$p")
  }

  test("jaccard df-cut is observable in the plan (CollectMetrics), adds no shuffle") {
    val p = graft.operators.Dedup
      .jaccardPairs(Tables.load(spark, sf001, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("CollectMetrics"), "df-cut metric node must be present")
    // two aggregation shuffles (shingle postings, pair counts) + the
    // deliberate pre-explode spread — no hidden extras. Formatted
    // explain shows each node once as a "(n) Exchange" detail header.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"jaccard must stay a two-shuffle pipeline, saw $exchanges exchanges")
  }

  test("minhash shingles the corpus once: no signature aggregate, no corpus collect_set (dedup_minhash)") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpExtractAll}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectSet, Min}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    def shingles(e: Expression) = e.exists(_.isInstanceOf[RegExpExtractAll])
    val df = SparkEntry.queries("dedup_minhash")(spark, sf001)
    val opt = df.queryExecution.optimizedPlan
    val sigAggs = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists {
        case _: Min | _: CollectSet => true
        case _ => false
      }) => a
    }
    assert(sigAggs.isEmpty, s"no per-document min/collect_set aggregate:\n$opt")
    // a shingler above a semi join must be restricted to candidate ids,
    // which derive from the band keys
    def semiJoins(n: LogicalPlan) = n.collect {
      case j: Join if j.joinType == LeftSemi => j
    }
    val restricted = opt.collect {
      case n if n.expressions.exists(shingles) && semiJoins(n).nonEmpty => n
    }
    assert(restricted.nonEmpty && restricted.forall(n => semiJoins(n).forall(_.right.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[graft.plans.MinHashBandKeys]))))),
      s"verification shingles only the candidate documents:\n$opt")
    // in the executed plan, one shingler reads the unrestricted scan:
    // every other use of the banding pass is a reused exchange
    df.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val fin = df.queryExecution.executedPlan
    val corpusPasses = helper.collect(fin) {
      case n if n.expressions.exists(shingles) && helper.collect(n) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec if j.joinType == LeftSemi => j
      }.isEmpty => n
    }
    assert(corpusPasses.size == 1, s"the corpus must be shingled once:\n$fin")
  }

  test("decontamination broadcasts the benchmark gram set (text_decontaminate)") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark side must broadcast — the corpus must not shuffle for the join")
  }

  test("vocab top-k plans TakeOrdered with no global window (text_vocab)") {
    val p = plan("text_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must be per-partition top-k + k-row merge")
    assert(!p.contains("Window"),
      "ranks must come from the sorted-collect_list trick, not a global window")
  }

  test("Q6 filter predicates reach the parquet scan (agg_revenue_forecast)") {
    val p = plan("agg_revenue_forecast")
    assert(p.contains("PushedFilters: [") && p.contains("l_discount"),
      "discount/quantity predicates must push to the scan")
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "unused columns must be pruned")
  }

  test("composite training-prep plans no cartesian join (pipeline_training_prep)") {
    val p = plan("pipeline_training_prep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "quality/langid join must stay an equi-join on doc_id")
  }

  test("date-partitioned event lake prunes the scan to the filtered date range") {
    import org.apache.spark.sql.functions._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_events_lake"
    graft.operators.Events.writeDatePartitioned(Tables.events(spark, sf001), path)
    val q = spark.read.parquet(path)
      .where(col("event_date") < lit("2024-01-08").cast("date"))
      .select("event_id", "event_type")
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters: [") && p.contains("event_date"),
      s"date filter must reach the scan as a partition filter:\n$p")
    // 7 of 30 days survive the filter — the scan must see only those
    val pruned = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.selectedPartitions.partitionCount
    }
    assert(pruned.exists(n => n > 0 && n <= 7), s"expected <=7 partitions read, got $pruned")
  }

  test("CDC table delta reads prune to the affected buckets") {
    import org.apache.spark.sql.functions._
    val proj = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cdc_prune_${System.nanoTime()}"
    graft.operators.Etl.writeCdcTable(proj, "o_orderkey", path, numBuckets = 16)
    // the read applyCdcDelta issues for a delta hashing into 2 buckets
    val affected = Seq(3L, 7L)
    val q = spark.read.parquet(path).where(col("bucket").isin(affected: _*))
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters: [") && p.contains("bucket"),
      s"bucket IN filter must reach the scan as a partition filter:\n$p")
    val pruned = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.selectedPartitions.partitionCount
    }
    assert(pruned.exists(n => n > 0 && n <= 2),
      s"expected <=2 of 16 bucket partitions read, got $pruned")
  }

  test("IVF index scan partition-prunes to the probed cells") {
    val e = Tables.embeddings(spark, sf001)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ivf_prune"
    graft.operators.Similarity.writeIvfIndex(e, "vec_id", "embedding", path, numCells = 16)
    val p = graft.operators.Similarity
      .ivfTopKIndexed(path, e.where(org.apache.spark.sql.functions.col("vec_id") < 2),
        "vec_id", "embedding", 3, nprobe = 2)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters: [cell_id"),
      "probed-cell IN filter must reach the scan as a partition filter")
  }

  test("interval-overlap join is an equi-join on bucket, never a cross product") {
    val p = plan("join_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join must stay an equi-join on the bucket key:\n$p")
  }

  test("BM25 index scan partition-prunes to the query-term buckets") {
    val docs = Tables.documents(spark, sf001)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm25_prune"
    graft.operators.TextAnalysis.writeBm25Index(docs, "doc_id", "text", path,
      numBuckets = 64)
    val q = graft.operators.TextAnalysis.bm25TopKIndexed(spark, path,
      Seq("hash", "join", "vector"), k = 5, numBuckets = 64)
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters: [bucket"),
      s"bucket IN filter must reach the scan as a partition filter:\n$p")
    // ≤3 of 64 buckets survive (terms may share a bucket); the
    // pre-adaptive sparkPlan still has the raw scan nodes (AQE wraps
    // the executed plan of this multi-join query)
    val pruned = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.head.toString.contains("bm25_prune") =>
        f.selectedPartitions.partitionCount
    }.headOption
    assert(pruned.exists(n => n > 0 && n <= 3), s"expected <=3 buckets read, got $pruned")
    // indexed serve == direct serve
    val direct = graft.operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("hash", "join", "vector"), k = 5).collect().toSeq
    assert(q.collect().toSeq == direct)
  }

  test("appendBm25Delta rewrites only touched buckets; serving equals a full rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, "alpha beta gamma"), (2L, "alpha delta zeta")).toDF("doc_id", "text")
    val delta = Seq((3L, "epsilon alpha")).toDF("doc_id", "text")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm25_upsert_${System.nanoTime()}"
    graft.operators.TextAnalysis.writeBm25Index(base, "doc_id", "text", path, numBuckets = 16)
    def bucketFiles() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = bucketFiles()
    graft.operators.TextAnalysis.appendBm25Delta(delta, "doc_id", "text", path,
      numBuckets = 16)
    val after = bucketFiles()
    val deltaBuckets = Seq("epsilon", "alpha").toDF("term")
      .select(pmod(xxhash64(col("term")), lit(16))).as[Long].collect().toSet
    val untouched = before.keys
      .filter(k => !deltaBuckets.contains(k.stripPrefix("bucket=").toLong))
    assert(untouched.nonEmpty, "fixture must leave some bucket untouched")
    untouched.foreach { k =>
      assert(after(k) == before(k), s"$k files must be byte-identical (not rewritten)")
    }
    val served = graft.operators.TextAnalysis
      .bm25TopKIndexed(spark, path, Seq("alpha", "epsilon"), k = 5, numBuckets = 16)
      .collect().toSeq
    val direct = graft.operators.TextAnalysis
      .bm25TopK(base.union(delta), "doc_id", "text", Seq("alpha", "epsilon"), k = 5)
      .collect().toSeq
    assert(served == direct, "incrementally-maintained index must serve the full-corpus answer")
  }

  test("RANGE frame includes all date-tie peers; values match hand computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // customer 1: days 1, 2, 2, 40 — the day-2 rows are peers (both in
    // each other's frame); day 40 sees only itself in a 30-day window
    val o = Seq(
      (1L, 10L, "1996-01-02", 10.0), (1L, 11L, "1996-01-03", 20.0),
      (1L, 12L, "1996-01-03", 30.0), (1L, 13L, "1996-02-10", 40.0))
      .toDF("o_custkey", "o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_date(col("d"))).drop("d")
    val got = graft.operators.Analytics.trailingRevenue(o, days = 30)
      .orderBy("o_orderkey")
      .select("o_orderkey", "trail_rev", "n_trail")
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == Seq((10L, 10.0, 1L), (11L, 60.0, 3L), (12L, 60.0, 3L), (13L, 40.0, 1L)))
  }

  test("salted two-phase aggregate is bit-equal to the direct group-by") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf001)
    val direct = li.groupBy("l_returnflag")
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
              .cast("long")).cast("double") / 10000.0).as("revenue"),
           count(lit(1)).cast("long").as("n_rows"))
      .orderBy("l_returnflag").collect().toSeq
    val twoPhase = graft.operators.Analytics.skewSafeRevenue(li, salts = 16)
      .collect().toSeq
    assert(twoPhase == direct, "scaled-long partials must merge exactly")
    // and the salt really spreads: phase-1 output has >1 row per key
    val p = graft.operators.Analytics.skewSafeRevenue(li, salts = 16)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("partial_cents") || p.contains("HashAggregate"),
      "two-phase plan must show the partial aggregate stage")
  }

  test("served basket consumers scan the pair graph, never lineitem (graph_adamic_adar)") {
    val p = plan("graph_adamic_adar")
    assert(!p.contains("lineitem"),
      "a served consumer must not re-touch the source relation")
    assert(p.contains("_pairs"), "the pair-table scan must appear")
    // top-k lands in one TakeOrdered, not a global Sort+Limit
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must plan as TakeOrderedAndProject")
  }

  test("substring spans: windows hash before the shuffle; islands window keyed by doc (dedup_substring)") {
    val p = plan("dedup_substring")
    // the duplicate-window aggregate exchanges 8-byte hashes, never
    // the window STRINGS — no concat/array_join feeds an exchange key
    assert(p.contains("md5prefix64") || p.contains("Md5Prefix64")
        || p.contains("wh"),
      "window hashing must happen below the aggregate")
    // the islands window partitions by doc_id — a global (empty
    // partition spec) window would single-thread the merge
    assert(!p.contains("Window [") ||
           p.linesIterator.filter(_.contains("windowspecdefinition"))
             .forall(_.contains("doc_id")),
      "the islands window must be partitioned by doc_id")
  }

  test("cross spans broadcast the benchmark window set (dedup_substring_cross)") {
    val p = plan("dedup_substring_cross")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark window hashes must broadcast into the semi-join")
  }

  test("served kNN consumers scan the edge table, never embeddings (sim_mutual_knn)") {
    val p = plan("sim_mutual_knn")
    assert(!p.contains("embeddings.parquet"),
      "a served consumer must not re-run the bucket self-join")
    assert(p.contains("graft_knn_graph"), "the edge-table scan must appear")
  }

  test("served PCA component scans the basis, never embeddings (emb_pca)") {
    val p = plan("emb_pca")
    assert(!p.contains("embeddings.parquet"),
      "a served component must not re-run the covariance pipeline")
    assert(p.contains("graft_pca_basis"), "the basis scan must appear")
  }

  test("served ANF gate scans the profile tables, never the pair explode (graph_anf)") {
    val p = plan("graph_anf")
    assert(p.contains("graft_anf_profile"), "the HLL profile scan must appear")
    assert(p.contains("graft_anf_exact"), "the exact-slice scan must appear")
    assert(!p.contains("hll_union"),
      "a served gate must not re-run the sketch rounds")
  }

  /** The matching/kcore round shapes execute EAGERLY inside the
    * operators (per-round checkpoints), so the gate plan can't show
    * them — these pins reconstruct the exact per-round plan the
    * operators build and assert its scale-critical properties.
    */
  test("matching round shape: AQE width mechanics documented; rounds combine map-side and broadcast removals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, min}
    // Width mechanics the iterative family's build contract rests on
    // (greedyMatching scaladoc): localCheckpoint does NOT preserve
    // the logical partitioning, and AQE coalesces a by-COLUMN
    // repartition DATA-PROPORTIONALLY (~64 MB advisory target) — a
    // sub-advisory table collapses to one partition (cheapest for
    // tiny rounds; measured faster than forcing width), while a
    // 100 TB layout keeps size/advisory partitions. If either half
    // stops holding, re-audit the family's repartition choices.
    val coalesced = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("u", "v")
      .repartition(col("u")).localCheckpoint()
    assert(coalesced.rdd.getNumPartitions == 1,
      "canary drifted: AQE no longer coalesces by-column repartitions")
    // ... and the by-NUM escape hatch stays exempt from coalescing
    // (what a compute-heavy sub-advisory layout would switch to)
    val und = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("u", "v")
      .repartition(4, col("u")).localCheckpoint()
    assert(und.rdd.getNumPartitions == 4,
      "canary drifted: REPARTITION_BY_NUM no longer keeps its width")
    // the per-round min aggregate must combine map-side — only
    // post-partial rows may reach its exchange
    val agg = und.groupBy("u").agg(min(col("v")).as("c"))
      .queryExecution.explainString(FormattedMode)
    val lines = agg.linesIterator.toSeq
    val exchangeAt = lines.indexWhere(_.contains("Exchange"))
    val partialAt = lines.indexWhere(_.contains("partial_min"))
    assert(exchangeAt >= 0 && partialAt > exchangeAt,
      s"partial aggregation must run below the round exchange:\n$agg")
    // the matched-node removals: BROADCAST anti-joins, never a
    // shuffle of the edge table
    val mn = Seq("a").toDF("n")
    val anti = und
      .join(broadcast(mn), col("u") === col("n"), "left_anti")
      .join(broadcast(mn), col("v") === col("n"), "left_anti")
      .queryExecution.explainString(FormattedMode)
    assert(anti.contains("BroadcastHashJoin") && anti.contains("LeftAnti"),
      "removals must be broadcast hash anti-joins")
    assert(!anti.contains("SortMergeJoin") && !anti.contains("ShuffledHashJoin"),
      "the edge table must never re-shuffle for a removal")
  }

  test("kcore round shape: dedupe rides the repartition shuffle; peeling semi-joins broadcast the alive set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val und0 = Seq(("a", "b"), ("b", "a"), ("a", "c"))
      .toDF("src", "dst")
      .repartition(4, col("src"))
      .dropDuplicates("src", "dst")
    // HashPartitioning(src) satisfies the (src, dst) clustering — the
    // dedupe must add NO second exchange
    val build = und0.queryExecution.explainString(FormattedMode)
    assert(build.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) == 1,
      s"edge build must shuffle exactly once:\n$build")
    val und = und0.localCheckpoint()
    val alive = Seq("a", "b").toDF("node")
    val round = und
      .join(broadcast(alive.withColumnRenamed("node", "src")), Seq("src"), "left_semi")
      .join(broadcast(alive.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .queryExecution.explainString(FormattedMode)
    assert(round.contains("BroadcastHashJoin") && round.contains("LeftSemi"),
      "survival filters must broadcast the alive set")
    assert(!round.contains("SortMergeJoin") && !round.contains("ShuffledHashJoin"),
      "the edge table must never re-shuffle inside a peel round")
  }

  test("consistent-hash assignment keeps the corpus map-only (etl_consistent_shards)") {
    val p = plan("etl_consistent_shards")
    // both ring lookups are broadcast range joins; the corpus never
    // shuffles and never self-joins
    assert(p.contains("BroadcastNestedLoopJoin"),
      "ring interval lookup must be a broadcast range join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side must not shuffle into a join")
    assert(p.contains("doc_id:bigint") && !p.contains("text:string"),
      "the scan must prune everything but the key")
  }

  test("epoch shuffle ranks inside hash-range buckets, offsets broadcast (sample_shuffle)") {
    val p = plan("sample_shuffle")
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row bucket-offset table must broadcast")
    assert(p.contains("windowspecdefinition(bucket"),
      "the rank window must partition by the hash-range bucket")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no corpus-level merge join belongs in a rank assignment")
  }

  test("bloom probe broadcasts the bit set; the probe corpus never shuffles into a join (dedup_bloom_upsert)") {
    val p = plan("dedup_bloom_upsert")
    assert(p.contains("BroadcastHashJoin"),
      "the <= mBits position table must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the probe side must stay map-only up to its per-doc aggregate")
  }

  test("HBOS bins off one broadcast min/max row; score fold never sees a window (profile_hbos)") {
    val p = plan("profile_hbos")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "the 1-row min/max scalar and the bin-count table must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-level merge join belongs in a two-scan screen")
  }

  test("raking rounds touch only the bounded cell table (sample_raking)") {
    val p = plan("sample_raking")
    // the one corpus aggregate feeds category-sized joins; no round
    // may re-scan the events table through a merge join
    assert(!p.contains("SortMergeJoin"),
      "Sinkhorn rounds must run on the broadcastable cell table")
  }

  test("mutual information is one corpus scan plus category-sized joins (profile_mutual_info)") {
    val p = plan("profile_mutual_info")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "marginal/scalar joins must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "category-sized tables must never merge-join")
  }

  test("knn communities never re-score vectors: the served edge table feeds CC (sim_knn_communities)") {
    val p = plan("sim_knn_communities")
    assert(!p.contains("cosinesim(") && !p.contains("dotproduct("),
      "the mutual filter must read stored scores, never re-run the kernels")
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      "the embeddings scan must prune to the id column")
  }

  test("image stats decode once per distinct shape and broadcast back (mm_image_stats)") {
    val p = plan("mm_image_stats")
    assert(p.contains("BroadcastHashJoin"),
      "the 143-shape stats table must broadcast onto the id stream")
    assert(!p.contains("SortMergeJoin"),
      "payload bytes must never shuffle into a merge join")
  }

  test("JS drift is two token aggregates and scalar broadcasts (text_js_drift)") {
    val p = plan("text_js_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row totals must broadcast onto the vocabulary join")
    assert(!p.contains("CartesianProduct"),
      "scalar attachment must be a broadcast, never a cartesian")
  }

  test("WAV decode runs once per distinct shape and broadcasts back (mm_audio_decode)") {
    val p = plan("mm_audio_decode")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤110-shape decoded table must broadcast onto the id stream")
    assert(!p.contains("SortMergeJoin"),
      "payload bytes must never shuffle into a merge join")
  }

  test("tf-idf kNN pairs join on the term key — no cartesian, per-doc rank window (text_tfidf_knn)") {
    val p = plan("text_tfidf_knn")
    // the only nested-loop is the 1-row n_docs scalar broadcast; the
    // PAIR generator must be a term-keyed equi-join, never a cartesian
    assert(!p.contains("CartesianProduct"),
      "the pair generator must be the term-keyed equi-join")
    assert(p.contains("[doc_a"), // Window partition spec carries doc_a
      "ranking must stay per-doc, never a global window")
  }

  test("filtered ANN prunes cells and cuts candidates id-width before scoring (sim_filtered_topk)") {
    val p = plan("sim_filtered_topk")
    assert(p.contains("cell_id IN") || p.contains("PartitionFilters"),
      "the probed-cell cut must prune index partitions")
    assert(p.contains("LeftSemi"),
      "the predicate must apply as a semi-join before the score join")
  }

  test("staleness audit projects to bare ids on both sides (sim_index_staleness)") {
    val p = plan("sim_index_staleness")
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      "the corpus scan must prune to the id column")
    assert(p.contains("LeftAnti"), "missing/orphaned counts are anti-joins")
  }

  test("G.711 decode runs once per distinct shape and broadcasts back (mm_g711_decode)") {
    val p = plan("mm_g711_decode")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤90-shape decoded table must broadcast onto the id stream")
    assert(!p.contains("SortMergeJoin"),
      "companded payload bytes must never shuffle into a merge join")
  }

  test("AVI decode runs once per distinct shape and broadcasts back (mm_video_decode, mm_video_scenes)") {
    for (name <- Seq("mm_video_decode", "mm_video_scenes")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the ≤120-shape decoded table must broadcast onto the id stream")
      assert(!p.contains("SortMergeJoin"),
        s"$name: container bytes must never shuffle into a merge join")
    }
    // scene windows stay per-doc — never a global (empty-key) window
    val sc = plan("mm_video_scenes")
    assert(sc.contains("[doc_id"),
      "scene lag/cumsum windows must partition by doc")
  }

  test("spatial join is a hash equi-join on the grid cell, never a theta nested loop (join_spatial_grid)") {
    val p = plan("join_spatial_grid")
    assert(p.contains("BroadcastHashJoin"),
      "the rect-cell side must broadcast into a hash equi-join on (cx, cy)")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment must be a residual filter, never the join condition")
  }

  test("rect-rect overlap is a hash equi-join on the shared cell, never a theta join (join_spatial_overlap)") {
    val p = plan("join_spatial_overlap")
    assert(p.contains("HashJoin"),
      "both cell covers must meet in a hash equi-join on (cx, cy)")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the separating-axis test must be a residual, never the join condition")
  }

  test("grid kNN is a hash equi-join on the probe cell, never a distance theta join (join_spatial_knn)") {
    val p = plan("join_spatial_knn")
    assert(p.contains("BroadcastHashJoin"),
      "the 9-cell query probe side must broadcast into a hash equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the distance test must be a residual, never the join condition")
  }

  test("IR metrics join qrels on (query, corpus) keys — no cartesian (sim_ir_metrics)") {
    val p = plan("sim_ir_metrics")
    // the only nested-loop is the broadcast query side of the
    // brute-force ranking; the qrels/metrics joins are all hash joins
    assert(!p.contains("CartesianProduct"),
      "qrels must join on keys, never a cartesian")
  }
}
