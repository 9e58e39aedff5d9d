package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design (100 TB): the corpus side NEVER shuffles on vector
  * content. Brute force broadcasts the (small) query set and streams
  * the corpus once — a map-only stage plus a per-query top-k
  * aggregate. The LSH and IVF variants prune the corpus scan to
  * matching buckets/cells first. Exact top-k re-ranking always runs on
  * candidates only.
  */
object Similarity {

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    // rank on rounded score with id tie-break → deterministic result
    // set even under float jitter; window is per-query, so the sort is
    // a bounded per-key top-k (Spark optimizes rank<=k windows).
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("corpus_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rnk"))
  }

  /** Exact brute-force cosine top-k: corpus ⨯ (broadcast) queries.
    * One pass over the corpus, no corpus shuffle except the per-query
    * top-k aggregate (tiny: ≤ |queries|·k rows after the window
    * filter's partial evaluation).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // raw float vectors: the codegen'd kernels widen per element, so
    // no interpreted cast pass, and join/shuffle rows are half as wide
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** One 32-bit word of a sign binarization: bit i set iff
    * vec[lo+i] > 0. Built as a FLAT 32-term codegen ladder — the
    * [[graft.operators.Sampling]] bootstrap lesson: a higher-order
    * `aggregate` here would interpret its lambda per row on the
    * hot corpus scan.
    */
  private[graft] def signPack32(vec: Column, lo: Int): Column =
    (0 until 32).map(i =>
      when(element_at(vec, lo + i + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Binary sign-hash retrieval (Charikar hyperplane sketch at its
    * degenerate-but-standard "axis hyperplanes" operating point): each
    * 64-dim vector compresses to TWO 32-bit sign words — 1 bit per
    * dimension, 32× smaller than floats — and similarity becomes
    * Hamming distance, two codegen'd `bit_count(xor)` kernels per
    * pair instead of 64 multiply-adds. The cheapest re-rank funnel
    * stage there is: integer-exact (no rounding contract needed at
    * all), SIMD-friendly, and the sketch column is small enough to
    * cache corpus-resident at 100 TB. Wider dims generalize by adding
    * words. Ties rank by (hamming, corpus_id) — fully deterministic.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      signPack32(col(vecCol), 0).as("c_lo"),
      signPack32(col(vecCol), 32).as("c_hi"))
    val q = queries.select(col(idCol).as("query_id"),
      signPack32(col(vecCol), 0).as("q_lo"),
      signPack32(col(vecCol), 32).as("q_hi"))
    val w = Window.partitionBy("query_id").orderBy(asc("hamming"), asc("corpus_id"))
    c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("c_hi").bitwiseXOR(col("q_hi")))).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("hamming"), col("rnk"))
  }

  /** Maximum-inner-product top-k (MIPS) — the recommendation-scoring
    * retrieval: user × item affinity is a RAW dot product, where
    * cosine would erase the item-popularity signal carried by vector
    * NORM (a long vector that points the same way should outrank a
    * short one; cosine calls them equal). Same brute shape as
    * [[bruteForceTopK]] minus the normalization.
    *
    * Scale path (documented, spec-proven on [[mipsViaCosineAugmentation]]):
    * MIPS reduces to cosine search by augmenting each corpus vector
    * with √(M² − ‖c‖²) (M = max corpus norm) and queries with 0 —
    * augmented norms are constant, so cosine order = dot order and
    * the whole LSH/IVF machinery applies unchanged.
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("score", round(dotD(col("cvec"), col("qvec")), 6))
    topKPerQuery(scored, k)
  }

  /** The MIPS→cosine reduction itself (Bachrach et al. / Shrivastava–
    * Li asymmetric transform, exact variant): corpus vectors gain one
    * coordinate √(M² − ‖c‖²) so every augmented corpus norm is exactly
    * M; queries gain 0. cos(aug c, aug q) = ⟨c,q⟩/(M·‖q‖), monotone in
    * ⟨c,q⟩ per query — so ranking by augmented COSINE equals ranking
    * by dot, and the bucketed ANN machinery (LSH/IVF) applies to MIPS
    * unchanged. The spec pins result equality with [[mipsTopK]].
    */
  def mipsViaCosineAugmentation(corpus: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String,
                                k: Int): DataFrame = {
    val base = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("nrm2", dotD(col("cvec"), col("cvec")))
    val m2 = base.agg(max(col("nrm2")).as("m2"))
    val caug = base.crossJoin(broadcast(m2))
      .select(col("corpus_id"),
        concat(col("cvec"),
          array(sqrt(greatest(col("m2") - col("nrm2"), lit(0.0))).cast("float")))
          .as("cvec"))
    val qaug = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .select(col("query_id"),
        concat(col("qvec"), array(lit(0.0f))).as("qvec"))
    val cn = caug.withColumn("cnrm", l2Norm(col("cvec")))
    val qn = qaug.withColumn("qnrm", l2Norm(col("qvec")))
    val scored = cn.join(broadcast(qn), col("corpus_id") =!= col("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN top-k: corpus and queries bucket by the same
    * deterministic hyperplane function (numTables independent tables);
    * candidates = same (table, bucket); exact cosine re-rank on
    * candidates. Recall < 1 by construction; raise numTables / lower
    * nbits to trade cost for recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nbits: Int = 8, numTables: Int = 4): DataFrame =
    topKPerQuery(
      lshScoredCandidates(corpus, queries, idCol, vecCol, nbits, numTables), k)

  /** Hard-negative mining for contrastive / embedding training: per
    * anchor, the top-k most-similar corpus vectors whose LABEL
    * differs — the near-misses a triplet/InfoNCE loss learns most
    * from (easy negatives are already far; these sit just across the
    * decision boundary). Same brute shape as [[bruteForceTopK]] with
    * the label-mismatch predicate fused into the broadcast join, so
    * cross-label pairs never materialize scores; swap in the LSH/IVF
    * candidate generators for the 100 TB path exactly as for top-k.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"),
        col(labelCol).as("clab"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("qlab"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = c.join(broadcast(q),
        col("corpus_id") =!= col("query_id") && col("clab") =!= col("qlab"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    // labels ride the scored rows (no back-join against the corpus);
    // the rank<=k window is the bounded per-key top-k as everywhere
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("corpus_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("qlab").as("anchor_label"),
        col("clab").as("neg_label"), col("score"), col("rnk"))
  }

  /** Ranking-quality evaluation of an approximate retrieval run
    * against exact ground truth: per query, nDCG@k (binary relevance
    * = membership in the true top-k) and reciprocal rank of the
    * first relevant hit — the standard ANN operating-point metrics
    * beyond plain recall (recall counts hits; nDCG penalizes putting
    * them LOW; MRR reads time-to-first-good-result).
    *
    * Determinism: position discounts 1/log₂(i+1) and 1/i are
    * precomputed ×1e9-scaled LITERAL longs per rank (irrational
    * logs never hit engine math), so DCG and RR accumulate as exact
    * integer sums; IDCG is the constant Σ_{i≤k} discount. Scale
    * shape: one (query,corpus)-keyed equi-join of two ≤|Q|·k-row
    * rankings, one per-query aggregate — trivially distributed.
    *
    * `approx`/`truth`: (query_id, corpus_id, rnk) as produced by the
    * top-k family; every truth query reports even if approx returned
    * nothing for it (nDCG 0, rr 0).
    */
  def rankingEval(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val dcgC = (1 to k).map(i =>
      i -> math.round(1e9 / (math.log(i + 1) / math.log(2)))).toMap
    val rrC = (1 to k).map(i => i -> math.round(1e9 / i)).toMap
    // flat codegen'd when-ladders (the bootstrap lesson: no
    // interpreted HOF in a per-row position lookup)
    val dcgAt = (1 to k).foldLeft(lit(0L)) { (acc, i) =>
      when(col("rnk") === i, lit(dcgC(i))).otherwise(acc) }
    val rrAt = (1 to k).foldLeft(lit(0L)) { (acc, i) =>
      when(col("rnk") === i, lit(rrC(i))).otherwise(acc) }
    val idcg = (1 to k).map(dcgC).sum
    val rel = truth.select(col("query_id"), col("corpus_id"), lit(1).as("rel"))
    val perQ = approx.where(col("rnk") <= k)
      .join(rel, Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("rel").isNotNull, lit(1)).otherwise(lit(0))).as("n_hits"),
        sum(when(col("rel").isNotNull, dcgAt).otherwise(lit(0L))).as("dcg"),
        max(when(col("rel").isNotNull, rrAt).otherwise(lit(0L))).as("rr_s"))
    truth.select("query_id").distinct()
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
        round(coalesce(col("dcg"), lit(0L)).cast("double") / lit(idcg.toDouble), 6)
          .as("ndcg"),
        round(coalesce(col("rr_s"), lit(0L)).cast("double") / 1e9, 6).as("rr"))
  }

  /** IR METRICS AGAINST LABELED QRELS — precision@k, recall@k and hit
    * counts of a retrieval run against a LABELED relevance table,
    * the form every retrieval benchmark (TREC/BEIR-style) actually
    * consumes: [[rankingEval]] grades approx-vs-exact SYSTEM
    * agreement; this grades against ground-truth relevance judgments.
    * `qrels` is (query_id, corpus_id) relevant pairs; `retrieved` is
    * any ranked (query_id, corpus_id, rnk) frame from the top-k
    * family.
    *
    * precision@k divides by k (the retrieval budget, even when fewer
    * rows came back — the standard convention), recall@k by the
    * query's judged-relevant count. Every query with qrels reports,
    * even if retrieval returned nothing for it (both metrics 0).
    *
    * Scale shape: one (query,corpus)-keyed equi-join of the ≤|Q|·k
    * ranking against qrels, one per-query aggregate on each side —
    * trivially distributed; qrels never broadcast-explodes (it is
    * query-keyed, co-partitioned with the ranking).
    *
    * `onDegenerate` is the unjudged-query posture (the connector's
    * `failFast` pattern): a retrieved query with NO qrels row has no
    * denominator for recall — `"null"` (default) omits it from the
    * report (the judged-queries-only convention retrieval benchmarks
    * use); `"fail"` raises naming the first unjudged query, for
    * pipelines where an unjudged query means the qrels join key is
    * broken, not that judging is sparse.
    */
  def irMetrics(retrieved: DataFrame, qrels: DataFrame, k: Int,
                onDegenerate: String = "null"): DataFrame = {
    require(onDegenerate == "null" || onDegenerate == "fail",
      s"onDegenerate must be 'null' or 'fail', got '$onDegenerate'")
    val nrel = qrels.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val perQ = retrieved.where(col("rnk") <= k)
      .join(qrels.select(col("query_id"), col("corpus_id"), lit(1).as("rel")),
        Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("rel").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_hits"))
    // "fail": a FULL join keeps unjudged retrieved queries visible so
    // the raise_error fires on the first null n_rel; "null" keeps the
    // left join, which drops them (the documented default)
    val joined =
      if (onDegenerate == "fail")
        nrel.join(perQ, Seq("query_id"), "full")
          .withColumn("n_rel", when(col("n_rel").isNull, raise_error(concat(
            lit("irMetrics: query '"), col("query_id").cast("string"),
            lit("' has retrieved results but no qrels judgment"))))
            .otherwise(col("n_rel")))
      else nrel.join(perQ, Seq("query_id"), "left")
    joined
      .select(col("query_id"),
        coalesce(col("n_retrieved"), lit(0L)).cast("long").as("n_retrieved"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
        col("n_rel").cast("long").as("n_rel"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("precision_at_k"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_rel").cast("double"), 6).as("recall_at_k"))
  }

  /** LSH RANGE search: ALL corpus neighbors with cosine ≥ `threshold`
    * of each query — the fixed-radius sibling of [[lshTopK]] (same
    * buckets, same exact re-rank, a threshold filter instead of a
    * rank cut). The result-set size follows the data, not a k, which
    * is what near-duplicate sweeps and dense-region diagnostics
    * need. Recall characteristics are lshTopK's; the oracle replays
    * the buckets, so the gate is exact.
    */
  def lshRangeSearch(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, threshold: Double,
                     nbits: Int = 8, numTables: Int = 4): DataFrame =
    lshScoredCandidates(corpus, queries, idCol, vecCol, nbits, numTables)
      .where(col("score") >= threshold)
      .select("query_id", "corpus_id", "score")

  /** Shared candidate scoring for [[lshTopK]] / [[lshRangeSearch]]:
    * bucket both sides with the same deterministic hyperplane tables,
    * join on (table, bucket), dedup candidates, exact round-6 cosine.
    */
  private def lshScoredCandidates(corpus: DataFrame, queries: DataFrame,
                                  idCol: String, vecCol: String,
                                  nbits: Int, numTables: Int): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(
        col("*"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("t"), hyperplaneBucket(col(vec), nbits, seed = 7 + t).as("bucket"))): _*)).as("tb"))
        .withColumn("t", col("tb.t")).withColumn("bucket", col("tb.bucket")).drop("tb")

    val c = bucketed(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
        .withColumn("cnrm", l2Norm(col("cvec"))), "corpus_id", "cvec")
    val q = bucketed(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
        .withColumn("qnrm", l2Norm(col("qvec"))), "query_id", "qvec")
    c.as("c").join(broadcast(q).as("q"),
        col("c.t") === col("q.t") && col("c.bucket") === col("q.bucket") &&
          col("c.corpus_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("c.corpus_id").as("corpus_id"),
              col("c.cvec").as("cvec"), col("q.qvec").as("qvec"),
              col("c.cnrm").as("cnrm"), col("q.qnrm").as("qnrm"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
  }

  /** Brute-force cosine top-k over int8-quantized vectors: both sides
    * quantize per-vector (scale = 127 / max|vᵢ|, qᵢ = ⌊vᵢ·scale+0.5⌋ —
    * the [[Embeddings.quantizeInt8]] arithmetic), then search runs
    * directly on the integer vectors. Cosine is scale-invariant, so
    * the per-vector scale CANCELS — no dequantization pass exists,
    * and because integer dots and squared norms are exact in double,
    * the score is bit-deterministic (unlike float-sum ANN, the
    * accumulation order cannot perturb it). All-zero vectors (scale
    * undefined) are dropped, as in quantizeInt8.
    *
    * 100 TB rationale: the quantized corpus is 4× smaller on disk and
    * in scan, which at vector-corpus scale is the difference between
    * a memory-resident index and not; recall loss is bounded by the
    * quantization error (≤ 0.5/scale per component) — the
    * `sim_int8_recall` gate pins the measured number.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    def quant(df: DataFrame, outId: String, outVec: String): DataFrame =
      df.select(col(idCol).as(outId), col(vecCol).as("v"))
        .withColumn("maxabs",
          greatest(array_max(col("v")).cast("double"), -array_min(col("v")).cast("double")))
        .where(col("maxabs") > 0)
        .withColumn(outVec,
          transform(col("v"),
            x => floor(x.cast("double") * (lit(127.0) / col("maxabs")) + 0.5).cast("double")))
        .drop("v", "maxabs")
    val c = quant(corpus, "corpus_id", "cvec").withColumn("cnrm", l2Norm(col("cvec")))
    val q = quant(queries, "query_id", "qvec").withColumn("qnrm", l2Norm(col("qvec")))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** Product-quantization ANN: the vector splits into `m` contiguous
    * subvectors; each subspace gets a `ksub`-entry codebook (the
    * deterministic md5-seeded sample — the [[seedCentroids]] idea per
    * subspace, engine-neutral so the whole operator is
    * oracle-checkable); every corpus vector is encoded as m small
    * codes (argmax subspace dot, rounded to 6 before the argmax, ties
    * to the greatest code). Queries score against the RECONSTRUCTED
    * corpus vector (concat of its m subcentroids) with one
    * left-to-right cosine — chosen over summing per-subspace ADC
    * partials because the single fixed-order dot is bit-reproducible
    * cross-engine, while a partial-sum aggregation order is not; the
    * scores are mathematically identical.
    *
    * 100 TB rationale: the stored corpus shrinks from dim floats to
    * m·log₂(ksub) BITS per vector (the defaults: 64×4B → 8×6b = 6B,
    * ~42×); the codebook (m·ksub rows) broadcasts everywhere, and
    * scoring scans codes, never raw vectors. Recall is bounded by
    * quantization coarseness — `sim_pq_recall` pins the measured
    * number (≈0.3 on the weak-neighbor test corpus; sampled codebooks
    * are the trainIters=0 analogue — per-subspace Lloyd refinement is
    * the quality path, exactly as with the IVF coarse quantizer).
    *
    * @param dim vector dimensionality (must divide by m; codebook
    *            slices are plan-time constants)
    * @param trainIters per-subspace Lloyd iterations refining the
    *            seeded codebooks before encoding (the IVF
    *            `trainIters` idea, independently per subspace; means
    *            round to 6 at iteration boundaries so the chain is
    *            oracle-replayable; codes that lose all members
    *            disappear, in both engines alike)
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ksub: Int = 64, dim: Int = 64,
             trainIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subLen = dim / m
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    // per-subspace codebooks from ONE seed set: the ksub corpus
    // vectors with the smallest md5(id), sliced per subspace
    val seeds = c
      .withColumn("h", graft.functions.TextFunctions.md5Prefix64(col("corpus_id").cast("string")))
      .orderBy("h").limit(ksub)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("h"), col("cvec")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("code"), col("x.cvec").as("seedvec"))
    var codebook = seeds
      .select(col("code"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("seedvec"), s * subLen + 1, subLen).as("subc"))): _*)).as("sc"))
      .select(col("sc.sub").as("sub"), col("code"), col("sc.subc").as("subc"))
    // subvector frame: m rows per corpus vector, sliced once — every
    // training iteration and the final encode join against it on the
    // subspace id (ksub-way fanout, the codebook broadcasts)
    val csub = c
      .select(col("corpus_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("cvec"), s * subLen + 1, subLen).as("subvec"))): _*)).as("sv"))
      .select(col("corpus_id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))
    for (_ <- 0 until trainIters) {
      // one Lloyd step per subspace, all subspaces in one plan: argmax
      // assignment (round 6 before the argmax, ties to the greatest
      // code), then per-(sub, code, dim) means rounded to 6
      val asg = csub.join(broadcast(codebook), Seq("sub"))
        .withColumn("d", round(dot(col("subvec"), col("subc")), 6))
        .groupBy(col("corpus_id"), col("sub"))
        .agg(max(struct(col("d"), col("code"))).getField("code").as("code"),
             first(col("subvec")).as("subvec"))
      codebook = asg
        .select(col("sub"), col("code"), posexplode(col("subvec")))
        .groupBy(col("sub"), col("code"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg(col("col").cast("double")), 6).as("mean_val"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("dm"))
        .select(col("sub"), col("code"),
                transform(col("dm"), x => x.getField("mean_val")).as("subc"))
    }
    // encode: per (vector, subspace) the argmax-dot code — a hash
    // aggregate, not a window (the ivfTopK argument: corpus-sized
    // row_number windows sort tiny partitions; max(struct) shuffles
    // once with partial aggregation)
    val enc = csub
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d", round(dot(col("subvec"), col("subc")), 6))
      .groupBy(col("corpus_id"), col("sub"))
      .agg(max(struct(col("d"), col("code"))).getField("code").as("code"))
    // reconstruct: m subcentroids concatenated in subspace order; the
    // collect_list is bounded at m elements per vector
    val rec = enc
      .join(broadcast(codebook), Seq("sub", "code"))
      .groupBy("corpus_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("subc")))),
        x => x.getField("subc"))).as("rvec"))
      .withColumn("rnrm", l2Norm(col("rvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = rec.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("rvec"), col("qvec")), col("rnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** Deterministic centroid seeding shared by k-means and IVF: the
    * `numCells` vectors with the smallest engine-neutral md5-derived
    * hash of their id, numbered 1..numCells in hash order.
    *
    * No global window: `orderBy().limit()` plans as
    * TakeOrderedAndProject, and the ≤ numCells survivors collapse into
    * ONE collect_list aggregate sorted by hash — so the bench log
    * carries no `WindowExec: No Partition Defined` noise and a real
    * single-partition window can't hide behind cosmetic ones.
    *
    * Input df must expose (idCol, vec, nrm); output is
    * (cell_id: long, centroid, ctrnrm).
    */
  private[graft] def seedCentroids(c: DataFrame, idCol: String, numCells: Int): DataFrame =
    c.withColumn("h", graft.functions.TextFunctions.md5Prefix64(col(idCol).cast("string")))
      .orderBy("h").limit(numCells)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("h"), col("vec"), col("nrm")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("cell_id"),
              col("x.vec").as("centroid"), col("x.nrm").as("ctrnrm"))

  /** One deterministic Lloyd (k-means) iteration over an embedding
    * corpus: seed centroids = the numCells vectors with the smallest
    * md5(id) (engine-neutral, so the whole step is oracle-checkable),
    * assign every vector to its max-cosine centroid, emit the new
    * per-cell per-dimension means. Iterating = re-calling with the
    * produced centroids; one call is the audited unit.
    *
    * Scale shape: centroids broadcast; assignment is map-only +
    * an argmax aggregate keyed by id; the mean update is posexplode →
    * one hash aggregate on (cell, dim) — numCells·dim output rows
    * regardless of corpus size.
    */
  def kmeansIteration(corpus: DataFrame, idCol: String, vecCol: String,
                      numCells: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val centroids = seedCentroids(c, "id", numCells)
    // argmax cell per vector; cosine rounds to 6 BEFORE the argmax so
    // the choice (not just the score) is reproducible cross-engine;
    // ties go to the greatest cell_id (max struct = row_number DESC)
    val assigned = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy(col("id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("vec")).as("vec"))
    assigned
      .select(col("cell_id"), posexplode(col("vec")))
      .groupBy(col("cell_id"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 6).as("mean_val"))
  }

  /** n deterministic Lloyd iterations (the multi-step driver over
    * [[kmeansIteration]]'s audited single step): per iteration, assign
    * every vector to its max-cosine centroid (cosine rounded to 6
    * BEFORE the argmax) and replace centroids with the per-cell
    * per-dimension means rounded to 6 — the rounding at iteration
    * boundaries is what keeps the whole chain reproducible
    * cross-engine (the oracle replays it as iterated CTEs). Cells
    * that lose all members disappear, in both engines alike. Output =
    * the final (cell_id, dim, mean_val) table.
    *
    * Scale shape: each iteration is one broadcast join + an argmax
    * hash-aggregate + a (cell, dim) hash-aggregate — centroid state
    * stays ≤ numCells·dim rows regardless of corpus size. The lazy
    * plan deepens linearly with iters, so every `checkpointEvery`
    * iterations the (tiny, ≤ numCells rows) centroid table
    * materializes eagerly and cuts its lineage — deep runs keep
    * near-constant plan depth.
    */
  def kmeansIterations(corpus: DataFrame, idCol: String, vecCol: String,
                       numCells: Int = 8, iters: Int = 2,
                       checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    var centroids = seedCentroids(c, "id", numCells)
    var cut = centroids // the last materialized centroid table
    var means: DataFrame = null
    var it = 0
    for (_ <- 0 until iters) {
      val (m, next) = lloydStep(c, centroids)
      means = m
      centroids = next
      it += 1
      if (it % checkpointEvery == 0 && it < iters) {
        centroids = Rounds.materialize(centroids)
        Rounds.release(cut) // read only by the chain just materialized
        cut = centroids
      }
    }
    means
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity pass a RAG retriever runs AFTER
    * similarity search: greedily pick k results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so near-duplicate
    * hits can't crowd the result list. Candidates = exact top-`depth`
    * per query; each greedy round is a join over that BOUNDED set
    * (|Q|·depth rows, the pairwise sim table |Q|·depth² — all
    * control-plane sized and localCheckpointed once, so the k−1
    * rounds never recompute the corpus scan).
    *
    * Determinism: rel and pairwise sims are round-6 cosines SCALED TO
    * 1e6 LONGS, λ is expressed in tenths, and the MMR score is the
    * EXACT INTEGER λ₁₀·rel₆ − (10−λ₁₀)·sim₆ (×1e7-scaled) — a
    * round-6 float score here would sit on the .5 boundary of its
    * 7th decimal for EVERY candidate (6-decimal rel × 1-decimal λ)
    * and the engines' rounding modes diverge there; integers cannot.
    * The displayed mmr is the single exact division score/1e7. The
    * oracle unrolls the greedy rounds as CTEs over the same set.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, depth: Int,
                lambdaTenths: Int = 7): DataFrame = {
    require(lambdaTenths > 0 && lambdaTenths < 10, "lambda in (0,1) tenths")
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, depth)
      .select(col("query_id"), col("corpus_id"),
        col("score").as("rel"),
        round(col("score") * 1e6, 0).cast("long").as("rel6"))
      .localCheckpoint()
    val vecs = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val cv = cand.select(col("query_id"), col("corpus_id"))
      .join(vecs, col("corpus_id") === col("cid")).drop("cid")
    val ca = cv.select(col("query_id"), col("corpus_id").as("a"),
      col("cvec").as("va"), col("cnrm").as("na"))
    val cb = cv.select(col("query_id"), col("corpus_id").as("b"),
      col("cvec").as("vb"), col("cnrm").as("nb"))
    val sims = ca.join(cb, Seq("query_id")).where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(round(cosineFromParts(dot(col("va"), col("vb")),
          col("na"), col("nb")), 6) * 1e6, 0).cast("long").as("sim6"))
      .localCheckpoint()
    val w = Window.partitionBy("query_id").orderBy(desc("mmr_i"), asc("corpus_id"))
    val top = cand
      .withColumn("mmr_i", lit(lambdaTenths.toLong) * col("rel6"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("rnk"),
        col("rel"), col("mmr_i"))
      .localCheckpoint()
    val selected = Rounds.iterate(top, k - 1) { (selected, i) =>
      val j = i + 1 // round i picks rank j
      val div = sims
        .join(selected.select(col("query_id"), col("corpus_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("corpus_id"))
        .agg(max(col("sim6")).as("dv6"))
      val pick = cand
        .join(selected.select("query_id", "corpus_id"),
          Seq("query_id", "corpus_id"), "left_anti")
        .join(div, Seq("query_id", "corpus_id"))
        .withColumn("mmr_i",
          lit(lambdaTenths.toLong) * col("rel6")
            - lit((10 - lambdaTenths).toLong) * col("dv6"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("query_id"), col("corpus_id"), lit(j.toLong).as("rnk"),
          col("rel"), col("mmr_i"))
      selected.union(pick)
    }
    selected.select(col("query_id"), col("corpus_id"), col("rnk"), col("rel"),
      (col("mmr_i") / 1e7).as("mmr"))
  }

  /** Spherical k-means (Dhillon & Modha 2001) — the k-means variant
    * text-embedding clustering actually wants: assignment maximizes
    * COSINE (as [[lloydStep]] already does) and the centroid update
    * projects the per-cell mean back onto the UNIT SPHERE, so the
    * next round's assignment is a pure direction comparison — the
    * mean's length (cell density) stops biasing it. Returns the
    * iterated unit centroids (cell_id, centroid, ctrnrm ≈ 1).
    *
    * Determinism: means are round-6 as in [[lloydStep]]; the
    * normalizing length accumulates Σ mean² as 1e12-scaled exact
    * longs (order-independent) before one IEEE sqrt — sqrt is
    * correctly rounded per IEEE-754, unlike the transcendentals —
    * and each unit component re-rounds to 6.
    */
  private[graft] def sphericalCentroids(c: DataFrame, numCells: Int,
                                        iters: Int): DataFrame = {
    var centroids = seedCentroids(c, "id", numCells)
    for (_ <- 1 to iters) {
      val assigned = c.join(broadcast(centroids), lit(true))
        .withColumn("csim", round(
          cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
        .groupBy(col("id"))
        .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
             first(col("vec")).as("vec"))
      val means = assigned
        .select(col("cell_id"), posexplode(col("vec")))
        .groupBy(col("cell_id"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg(col("col").cast("double")), 6).as("mean_val"))
      val norms = means.groupBy("cell_id")
        .agg(sqrt(sum(round(col("mean_val") * col("mean_val") * 1e12, 0)
          .cast("long")) / 1e12).as("mnrm"))
      centroids = means.join(norms, "cell_id")
        .select(col("cell_id"), col("dim"),
          round(col("mean_val") / col("mnrm"), 6).as("uv"))
        .groupBy("cell_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("uv")))).as("dm"))
        .select(col("cell_id"),
          transform(col("dm"), x => x.getField("uv")).as("centroid"))
        .withColumn("ctrnrm", l2Norm(col("centroid")))
    }
    centroids
  }

  /** Per-cell readout of [[sphericalCentroids]]: final max-cosine
    * assignment, then cell size and COHESION (mean cosine of members
    * to their unit centroid, via 1e6-scaled longs) — the
    * cluster-quality number a topic-discovery pass reports. Cells
    * that captured no member in the final assignment are absent.
    */
  def sphericalKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                      numCells: Int = 8, iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val centroids = sphericalCentroids(c, numCells, iters)
    val fin = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy(col("id"))
      .agg(max(struct(col("csim"), col("cell_id"))).as("mx"))
      .select(col("mx").getField("cell_id").as("cell_id"),
              col("mx").getField("csim").as("csim"))
    fin.groupBy("cell_id")
      .agg(count(lit(1)).as("n_members"),
           round(sum(round(col("csim") * 1e6, 0).cast("long")) / 1e6
             / count(lit(1)), 6).as("cohesion"))
  }

  /** k-means|| (scalable k-means++, Bahmani et al., VLDB 2012)
    * seeding: instead of k sequential driver-round-trip k-means++
    * draws, each of `rounds` passes samples ~`l` new candidates IN
    * PARALLEL with probability l·d(x,C)/Σd — far points oversampled —
    * then the candidate set is weighted by how many points each
    * candidate captures and the k heaviest (weight desc, id asc — a
    * deterministic variant of the usual "recluster the candidates"
    * finale) become the seeds for [[kmeansIterations]].
    *
    * Engine-exact by the repo's standard discipline: distances are
    * round-6 cosine distances scaled to exact longs (so Σd is
    * order-independent), the Bernoulli draw u(id) < l·d/Σd uses the
    * md5-uniform (`Sampling` twin: `('0x' || substr(md5(id), 1,
    * 8))::BIGINT / 2^32`), and every round re-materializes — the
    * DuckDB oracle replays round-for-round. Already-chosen candidates
    * have d = 0 and can never be redrawn. Σ(scaled d) must stay under
    * 2^53 for the double compare to be exact — holds to ~10^9 rows at
    * scale 1e6; larger corpora pass a smaller distance scale.
    *
    * Scale shape: per round one broadcast of the (small) candidate
    * set, one argmax aggregate keyed by id, one 1-row total
    * broadcast — the corpus shuffles ZERO times; candidates stay
    * O(l·rounds) rows on the driver-free path end to end.
    *
    * Returns min(k, |candidate pool|) rows — the pool holds ~l·rounds
    * candidates in expectation (the standard ≥ k w.h.p. guarantee);
    * size l·rounds comfortably above k.
    */
  def kmeansParallelInit(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, l: Int = 4, rounds: Int = 3): DataFrame =
    kmeansPPSeeds(corpus, idCol, vecCol, l, rounds)
      .where(col("rnk") <= k)
      .select(col("rnk"), col("id").as("center_id"), col("weight"))

  /** [[kmeansParallelInit]] with the seed VECTORS retained and the
    * FULL ranked candidate pool returned — (rnk, id, vec, nrm,
    * weight) — so [[kmeansParallelRefine]] can cut the top-k as
    * centroids and [[kmeansWeightedConsensus]] can recluster the
    * whole pool by capture weight.
    */
  private def kmeansPPSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                            l: Int, rounds: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
      .localCheckpoint() // re-joined every round — scan once
    val md5u = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val firstCenter = c
      .withColumn("h", graft.functions.TextFunctions.md5Prefix64(col("id").cast("string")))
      .orderBy("h").limit(1)
      .select("id", "vec", "nrm")
    val cand = Rounds.iterate(firstCenter.localCheckpoint(), rounds) { (prev, _) =>
      val d = c.join(broadcast(prev.select(col("vec").as("cvec"), col("nrm").as("cnrm"))),
          lit(true))
        .withColumn("csim", round(
          cosineFromParts(dot(col("vec"), col("cvec")), col("nrm"), col("cnrm")), 6))
        .groupBy("id")
        .agg(first(col("vec")).as("vec"), first(col("nrm")).as("nrm"),
             max(col("csim")).as("best"))
        .withColumn("dl", round((lit(1.0) - col("best")) * 1e6, 0).cast("long"))
      val tot = d.agg(sum(col("dl")).as("D"))
      val drawn = d.crossJoin(broadcast(tot))
        .where(md5u * col("D") < lit(l.toDouble) * col("dl"))
        .select("id", "vec", "nrm")
      prev.unionByName(drawn)
    }
    val weights = c.join(broadcast(
        cand.select(col("id").as("cand_id"), col("vec").as("cvec"),
                    col("nrm").as("cnrm"))), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("cvec")), col("nrm"), col("cnrm")), 6))
      .groupBy("id")
      .agg(max(struct(col("csim"), col("cand_id"))).getField("cand_id").as("cand_id"))
      .groupBy("cand_id").agg(count(lit(1)).as("weight"))
    // constant-size window: |candidates| = O(l·rounds) rows
    val w = Window.orderBy(desc("weight"), asc("cand_id"))
    // c and the final cand stay materialized — the caller consumes the
    // returned plan lazily; superseded rounds were released above and
    // the ContextCleaner reaps these two with the plan
    weights
      .withColumn("rnk", row_number().over(w).cast("long"))
      .join(cand.select(col("id").as("cand_id"), col("vec"), col("nrm")), Seq("cand_id"))
      .select(col("rnk"), col("cand_id").as("id"), col("vec"), col("nrm"),
              col("weight"))
  }

  /** Close the seeding→Lloyd loop: the k [[kmeansParallelInit]] seeds
    * become the initial centroids (cell_id = seed rank) and `iters`
    * audited [[lloydStep]]s refine them — the full scalable-k-means
    * pipeline (seed in parallel, refine in parallel) with no stage
    * depending on driver-side RNG. Output = the final per-(cell, dim)
    * means, the [[kmeansIterations]] contract; the oracle replays the
    * seeding CTEs and the Lloyd rounds back to back.
    */
  def kmeansParallelRefine(corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int, l: Int = 4, rounds: Int = 3,
                           iters: Int = 1): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    var centroids = kmeansPPSeeds(corpus, idCol, vecCol, l, rounds)
      .where(col("rnk") <= k)
      .select(col("rnk").as("cell_id"), col("vec").as("centroid"),
              col("nrm").as("ctrnrm"))
    var means: DataFrame = null
    for (_ <- 0 until iters) {
      val (m, next) = lloydStep(c, centroids)
      means = m
      centroids = next
    }
    means
  }

  /** Bahmani's FINAL step, done honestly: recluster the whole
    * oversampled candidate pool down to k by WEIGHTED Lloyd rounds,
    * where each candidate's weight is its capture count (how many
    * corpus points it was nearest to) — so a candidate that "speaks
    * for" 500 points pulls the centroid 500× harder than a singleton.
    * [[kmeansParallelRefine]] instead just keeps the top-k by weight;
    * this is the missing consensus stage of scalable k-means||
    * (k-means++ on the weighted pool, here as deterministic weighted
    * Lloyd seeded by that same top-k cut).
    *
    * Scale shape: after seeding, the corpus is never touched again —
    * every consensus round runs on the O(l·rounds)-row pool
    * (broadcast joins only, no shuffle of anything corpus-sized).
    * That is the whole point of the algorithm: the expensive
    * consensus clustering collapses onto a bounded summary.
    *
    * Determinism: assignment is the round-6 argmax-cosine with ties
    * to the greatest cell_id (the [[lloydStep]] contract); the
    * weighted mean is exact — elements scale to long (round-6·1e6),
    * multiply by the integer weight, sum exactly, and divide once —
    * so aggregation order cannot move a bit and the DuckDB oracle
    * replays seeding + both weighted rounds CTE-for-CTE. Cells
    * that capture no candidate disappear (lloydStep's convention).
    */
  def kmeansWeightedConsensus(corpus: DataFrame, idCol: String, vecCol: String,
                              k: Int, l: Int = 4, rounds: Int = 3,
                              iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val pool = kmeansPPSeeds(corpus, idCol, vecCol, l, rounds)
      .localCheckpoint() // O(l·rounds) rows, consumed every round
    var centroids = pool.where(col("rnk") <= k)
      .select(col("rnk").as("cell_id"), col("vec").as("centroid"),
              col("nrm").as("ctrnrm"))
    var means: DataFrame = null
    for (_ <- 0 until iters) {
      val assigned = pool.join(broadcast(centroids), lit(true))
        .withColumn("csim", round(
          cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
        .groupBy(col("id"))
        .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
             first(col("vec")).as("vec"), first(col("weight")).as("weight"))
      means = assigned
        .select(col("cell_id"), col("weight"), posexplode(col("vec")))
        .withColumn("xl", round(col("col").cast("double") * 1e6, 0).cast("long"))
        .groupBy(col("cell_id"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(sum(col("weight") * col("xl")).cast("double")
                   / (lit(1e6) * sum(col("weight")).cast("double")), 6).as("mean_val"))
      centroids = means
        .groupBy("cell_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("dm"))
        .select(col("cell_id"),
                transform(col("dm"), x => x.getField("mean_val")).as("centroid"))
        .withColumn("ctrnrm", l2Norm(col("centroid")))
    }
    // pool stays materialized — the caller consumes the returned plan
    // lazily (the kmeansPPSeeds convention); ContextCleaner reaps it
    means
  }

  /** One Lloyd step over `c` (id, vec, nrm): argmax-cosine assignment
    * (rounded to 6 BEFORE the argmax, ties to the greatest cell_id) →
    * per-(cell, dim) means rounded to 6 → rebuilt centroid table.
    * The iteration-boundary rounding keeps the chain reproducible
    * cross-engine; shared by [[kmeansIterations]] and IVF training so
    * both paths are the SAME audited arithmetic. Returns
    * (means(cell_id, dim, mean_val), centroids(cell_id, centroid,
    * ctrnrm)); cells that lose all members disappear from both.
    */
  private def lloydStep(c: DataFrame, centroids: DataFrame): (DataFrame, DataFrame) = {
    val assigned = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy(col("id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("vec")).as("vec"))
    val means = assigned
      .select(col("cell_id"), posexplode(col("vec")))
      .groupBy(col("cell_id"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 6).as("mean_val"))
    // rebuild centroid vectors from the (cell, dim) means — numCells
    // rows, so the collect_list aggregate is constant-size
    val next = means
      .groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("dm"))
      .select(col("cell_id"),
              transform(col("dm"), x => x.getField("mean_val")).as("centroid"))
      .withColumn("ctrnrm", l2Norm(col("centroid")))
    (means, next)
  }

  /** IVF-style ANN: deterministic coarse quantizer (centroids = a
    * seeded hash-sample of the corpus), assign every vector to its
    * nearest centroid cell, probe the `nprobe` nearest cells per
    * query, exact re-rank inside probed cells.
    *
    * At 100 TB: centroid table is tiny (broadcast both ways); the
    * corpus is written partitioned by cell_id, so a query touches
    * nprobe partitions — the parquet-partition-pruning analogue for
    * vector search.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    // Deterministic "centroids": the numCells corpus vectors with the
    // smallest md5-derived id hash — a seeded uniform sample without
    // RNG state, engine-neutral so the whole op is oracle-checkable.
    val centroids = seedCentroids(
      c.select(col("corpus_id").as("id"), col("cvec").as("vec"), col("cnrm").as("nrm")),
      "id", numCells)

    // corpus assignment: argmax via max(struct) hash aggregate — a
    // row_number window here would sort |corpus| single-digit-row
    // partitions; the aggregate is one partial-agg shuffle. Group key
    // is the id alone (first() carries the vector) — grouping by the
    // vector would hash/compare a wide array per pair. Cosine rounds
    // to 6 BEFORE the argmax so the cell choice is cross-engine
    // reproducible; ties go to the greatest cell_id.
    val cCells = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("cvec"), col("centroid")), col("cnrm"), col("ctrnrm")), 6))
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("cvec")).as("cvec"), first(col("cnrm")).as("cnrm"))

    // query side is small by construction — the top-nprobe window is fine
    val qAll = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("qvec"), col("centroid")), col("qnrm"), col("ctrnrm")), 6))
    val qw = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell_id"))
    val qCells = qAll
      .withColumn("crnk", row_number().over(qw))
      .where(col("crnk") <= nprobe)
      .drop("centroid", "ctrnrm", "csim", "crnk")
    val scored = cCells.join(broadcast(qCells), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("score", round(
        cosineFromParts(dot(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** IVF-PQ: the standard big-corpus ANN composition — a coarse
    * quantizer assigns every vector to a cell ([[ivfTopK]]'s seeded
    * centroids), and the RESIDUAL (vector − cell centroid) is
    * product-quantized ([[pqTopK]]'s seeded subspace codebooks over
    * the residual space). Queries probe the `nprobe` nearest cells
    * and score against centroid + reconstructed residual. Residuals
    * concentrate near zero, so a PQ codebook spends its codes where
    * the mass is — the reason IVF-PQ beats flat PQ at equal bits.
    *
    * All arithmetic is the audited deterministic kit: subtraction and
    * addition happen in double AFTER explicit widening (float-op-
    * then-widen would diverge from the oracle's `::DOUBLE[]` path),
    * argmaxes round to 6 first, ties to the greatest id.
    *
    * 100 TB shape: cell assignment partitions the corpus (the
    * materialized form would `partitionBy(cell_id)` exactly like
    * [[writeIvfIndex]]); stored bytes per vector = one cell id +
    * m·log₂(ksub) bits; a query touches nprobe cells of codes, never
    * raw vectors; centroids and codebooks broadcast.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                numCells: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 64, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subLen = dim / m
    val minus = (a: Column, b: Column) => zip_with(a, b, (x, y) => x - y)
    val plus  = (a: Column, b: Column) => zip_with(a, b, (x, y) => x + y)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val centroids = seedCentroids(
      c.select(col("corpus_id").as("id"), col("cvec").as("vec"), col("cnrm").as("nrm")),
      "id", numCells)
    // coarse assignment (identical to ivfTopK), residual in double
    val cCells = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("cvec"), col("centroid")), col("cnrm"), col("ctrnrm")), 6))
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("cvec")).as("cvec"))
    val res = cCells.join(broadcast(centroids), Seq("cell_id"))
      .withColumn("rvec", minus(toDoubleVec(col("cvec")), toDoubleVec(col("centroid"))))
      .select(col("corpus_id"), col("cell_id"), col("rvec"))
    // PQ codebooks over the residual space, seeded by md5(id)
    val seeds = res
      .withColumn("h", graft.functions.TextFunctions.md5Prefix64(col("corpus_id").cast("string")))
      .orderBy("h").limit(ksub)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("h"), col("rvec")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("code"), col("x.rvec").as("seedvec"))
    val codebook = seeds
      .select(col("code"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("seedvec"), s * subLen + 1, subLen).as("subc"))): _*)).as("sc"))
      .select(col("sc.sub").as("sub"), col("code"), col("sc.subc").as("subc"))
    val rsub = res
      .select(col("corpus_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("rvec"), s * subLen + 1, subLen).as("subvec"))): _*)).as("sv"))
      .select(col("corpus_id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))
    val enc = rsub
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d", round(dot(col("subvec"), col("subc")), 6))
      .groupBy(col("corpus_id"), col("sub"))
      .agg(max(struct(col("d"), col("code"))).getField("code").as("code"))
    // approximate vector = centroid + reconstructed residual
    val approx = enc
      .join(broadcast(codebook), Seq("sub", "code"))
      .groupBy("corpus_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("subc")))),
        x => x.getField("subc"))).as("reconres"))
      .join(cCells.select("corpus_id", "cell_id"), Seq("corpus_id"))
      .join(broadcast(centroids.select("cell_id", "centroid")), Seq("cell_id"))
      .withColumn("avec", plus(toDoubleVec(col("centroid")), col("reconres")))
      .withColumn("anrm", l2Norm(col("avec")))
      .select(col("corpus_id"), col("cell_id"), col("avec"), col("anrm"))
    // query side: probe the nprobe nearest cells (identical to ivfTopK)
    val qAll = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("qvec"), col("centroid")), col("qnrm"), col("ctrnrm")), 6))
    val qw = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell_id"))
    val qCells = qAll
      .withColumn("crnk", row_number().over(qw))
      .where(col("crnk") <= nprobe)
      .drop("centroid", "ctrnrm", "csim", "crnk")
    val scored = approx.join(broadcast(qCells), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("score", round(
        cosineFromParts(dotD(col("avec"), col("qvec")), col("anrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** Two-stage retrieval: [[ivfPqTopK]] generates `kCand` candidates
    * per query from the compressed (cell id + PQ codes)
    * representation, then ONLY those candidates' raw float vectors
    * are fetched and exactly re-ranked to the final `k` — the
    * faiss `IndexRefineFlat` / production-ANN standard. PQ
    * reconstruction error costs recall at the top of the list; the
    * refine step buys it back while still touching `kCand` (not
    * |corpus|) raw vectors per query.
    *
    * 100 TB shape: stage 1 never reads raw vectors (nprobe cells of
    * 6 B codes); stage 2 is a semi-join-sized fetch — |queries|·kCand
    * id lookups against the (id-partitioned) vector store, then a
    * bounded per-query window. The refine join keys on corpus_id, so
    * it shuffles candidate ids, never the corpus.
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      kCand: Int = 50, numCells: Int = 16, nprobe: Int = 4,
                      m: Int = 8, ksub: Int = 64, dim: Int = 64): DataFrame = {
    val cand = ivfPqTopK(corpus, queries, idCol, vecCol, kCand,
        numCells, nprobe, m, ksub, dim)
      .select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = cand
      .join(c, Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** PQ-only two-stage retrieval: [[pqTopK]] candidates at depth
    * `kCand`, exact float re-rank to `k` — the flat-refine variant of
    * [[ivfPqRerankTopK]] for corpora small enough to scan every code
    * (no coarse quantizer, so no probe-miss recall loss; the whole
    * corpus's 6 B/vector codes are scanned, but raw vectors are only
    * fetched for the |queries|·kCand candidate ids).
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   kCand: Int = 50, m: Int = 8, ksub: Int = 64,
                   dim: Int = 64): DataFrame = {
    val cand = pqTopK(corpus, queries, idCol, vecCol, kCand, m, ksub, dim)
      .select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = cand
      .join(c, Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** Materialize the IVF index: the corpus written to parquet
    * PARTITIONED BY cell_id (same deterministic assignment as
    * [[ivfTopK]]), centroids in a SIBLING `<path>_centroids` directory
    * (inside the index dir they'd be skipped but still warn on every
    * partitioned read). This is the 100 TB shape: the expensive
    * assignment runs ONCE at write time, and every query afterwards
    * touches only its nprobe cell directories — the
    * parquet-partition-pruning analogue of an ANN index.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, numCells: Int = 16,
                    trainIters: Int = 0): Unit = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val trainC = c.select(col("corpus_id").as("id"), col("cvec").as("vec"),
                          col("cnrm").as("nrm"))
    // hash-seeded centroids are a SAMPLE, not a quantizer: recall at
    // scale hinges on cell quality, so `trainIters` Lloyd iterations
    // (the same audited [[lloydStep]] arithmetic as kmeansIterations,
    // oracle-replayable as iterated CTEs) refine them before the
    // one-time assignment. trainIters=0 keeps the seeded quantizer.
    var centroids = seedCentroids(trainC, "id", numCells)
    for (_ <- 0 until trainIters) centroids = lloydStep(trainC, centroids)._2
    assignToCells(c, centroids)
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    centroids.write.mode("overwrite").parquet(s"${path}_centroids")
  }

  /** Assign `(corpus_id, cvec, cnrm)` rows to their nearest centroid
    * cell with the rounded-argmax arithmetic both the initial build
    * and the incremental upsert must share: cosine rounds to 6 BEFORE
    * the max(struct) so the cell choice is cross-engine reproducible,
    * ties to the greatest cell_id. This IS the frozen-quantizer
    * contract — an index is consistent iff its content equals
    * `assignToCells(full corpus, stored centroids)` (the
    * [[appendIvfDelta]] invariant, spec-checked).
    */
  private[graft] def assignToCells(c: DataFrame, centroids: DataFrame): DataFrame =
    c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("cvec"), col("centroid")), col("cnrm"), col("ctrnrm")), 6))
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("cvec")).as("cvec"), first(col("cnrm")).as("cnrm"))

  /** [[writeIvfIndex]] only if the index isn't already on disk (same
    * `_SUCCESS`-marker convention as any Spark output): the index is a
    * deterministic function of (corpus, numCells), so re-callers —
    * bench warm runs, repeated queries in one job — measure the READ
    * path, which is the steady state an index exists for. Delete the
    * directory to force a rebuild.
    */
  def ensureIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     path: String, numCells: Int = 16,
                     trainIters: Int = 0): Unit = {
    if (!Markers.exists(s"${path}_centroids/_SUCCESS")) writeIvfIndex(corpus, idCol, vecCol, path, numCells, trainIters)
  }

  /** INDEX-STALENESS report — the serving-hygiene check every ANN
    * deployment runs between [[appendIvfDelta]] upserts: how much of
    * the CURRENT corpus the materialized index actually covers.
    * Reports exact corpus/index cardinalities, ids the corpus has
    * but the index is missing (not yet upserted — these queries
    * silently lose recall), ids the index holds that left the corpus
    * (deletions the upsert path cannot express — rebuild debt), and
    * the fresh share. The number that decides between "upsert now"
    * and "rebuild tonight".
    *
    * Scale shape: both sides project to bare ids before anything
    * wide; two left-anti joins on the id hash + one 1-row aggregate
    * — id-width work regardless of vector dimension.
    */
  def indexStalenessReport(spark: org.apache.spark.sql.SparkSession,
                           path: String, corpus: DataFrame,
                           idCol: String): DataFrame = {
    require(Markers.exists(s"${path}_centroids/_SUCCESS"),
      s"IVF index at $path has no commit marker; rebuild with ensureIvfIndex")
    def d(c: Column) = c.cast("double")
    val cIds = corpus.select(col(idCol).cast("long").as("id"))
    val iIds = spark.read.parquet(path)
      .select(col("corpus_id").cast("long").as("id"))
    val missing = cIds.join(iIds, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_missing"))
    val orphaned = iIds.join(cIds, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_orphaned"))
    cIds.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(broadcast(iIds.agg(count(lit(1)).as("n_indexed"))))
      .crossJoin(broadcast(missing))  // 1-row scalars
      .crossJoin(broadcast(orphaned))
      .select(col("n_corpus"), col("n_indexed"), col("n_missing"),
        col("n_orphaned"),
        round((d(col("n_corpus")) - d(col("n_missing")))
          / d(col("n_corpus")), 6).as("fresh_share"))
  }

  /** UPSERT a vector delta into a [[writeIvfIndex]] index WITHOUT
    * rebuilding it. The stored centroids are a FROZEN quantizer (the
    * FAISS discipline: retraining is a rebuild, not an upsert), so
    * delta vectors are assigned to the EXISTING cells with the same
    * rounded-argmax arithmetic as the initial build. Affected cells =
    * cells of the delta's new assignments ∪ cells still holding a
    * re-ingested id's OLD row (a changed vector can migrate between
    * cells — missing the old cell would leave a stale duplicate); a
    * DYNAMIC partition overwrite rewrites ONLY those cells, with
    * re-ingested ids' old rows anti-joined away before the merge.
    * Untouched cells keep their files byte-for-byte. Cells emptied by
    * a migration are deleted explicitly (dynamic overwrite skips
    * partitions absent from the written data). Serving afterwards is
    * hash-identical to an index rebuilt from the full corpus against
    * the same frozen centroids — insert or re-ingest alike.
    *
    * Crash safety: the `_centroids/_SUCCESS` marker (the
    * [[ensureIvfIndex]] marker) is removed before the first mutation
    * and restored after the last, so a crash mid-upsert leaves a
    * marker-less index that [[ivfTopKIndexed]] refuses to serve and
    * [[ensureIvfIndex]] rebuilds from scratch — self-healing, never
    * silently stale.
    *
    * Cost: one column-pruned (corpus_id, cell_id) scan of the index
    * to find stale-row cells, plus the rewrite of the affected cells;
    * only the ≤ numCells cell-id list ever reaches the driver (the
    * probed-cells discipline).
    */
  def appendIvfDelta(delta: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit = {
    val spark = delta.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"${path}_centroids/_SUCCESS")
    val centroids = spark.read.parquet(s"${path}_centroids")
    val d = delta.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cnrm", l2Norm(col("cvec")))
    val dCells = assignToCells(d, centroids)
      .localCheckpoint() // consumed three times below (cells, merge, ids)
    val deltaIds = dCells.select("corpus_id").distinct()
    // partition columns read back under inference — cast to long
    // explicitly rather than relying on union widening
    val staleCells = spark.read.parquet(path)
      .select(col("corpus_id"), col("cell_id").cast("long").as("cell_id"))
      .join(deltaIds, Seq("corpus_id"), "left_semi")
      .select("cell_id").distinct()
    val affected = dCells.select("cell_id").distinct()
      .union(staleCells).distinct()
      .collect().map(_.getLong(0)).sorted
    val oldAffected = spark.read.parquet(path)
      .where(col("cell_id").isin(affected: _*))
      .select(col("corpus_id"), col("cvec"), col("cnrm"),
              col("cell_id").cast("long").as("cell_id"))
      .join(deltaIds, Seq("corpus_id"), "left_anti") // drop re-ingested ids' old rows
      .localCheckpoint() // materialize BEFORE overwriting what we read
    val merged = oldAffected
      .unionByName(dCells.select("corpus_id", "cvec", "cnrm", "cell_id"))
      .localCheckpoint()
    if (fs.exists(marker)) fs.delete(marker, false) // index now in-flux
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell_id").parquet(path)
    val mergedCells = merged.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSet
    affected.filterNot(mergedCells).foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/cell_id=$c")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    fs.create(marker, true).close() // commit: index consistent again
    Rounds.release(dCells, oldAffected, merged)
  }

  /** ANN top-k against a materialized [[writeIvfIndex]] index: rank
    * the nprobe nearest cells per query against the stored centroids,
    * then scan ONLY those cell partitions (the probed-cell set — ≤
    * numCells ints — is collected on the driver, a control-plane
    * lookup like JDBC partition bounds, and becomes a literal IN
    * filter so Catalyst partition-prunes the read). Result is
    * identical to [[ivfTopK]] on the same corpus/params.
    */
  def ivfTopKIndexed(path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    // the _SUCCESS marker doubles as the commit marker for
    // appendIvfDelta — absent means a maintenance op crashed midway
    // and the on-disk cells may be inconsistent; rebuild, don't serve
    require(Markers.exists(s"${path}_centroids/_SUCCESS"),
      s"IVF index at $path has no commit marker (crashed maintenance?); " +
        "rebuild it with writeIvfIndex/ensureIvfIndex")
    val centroids = spark.read.parquet(s"${path}_centroids")
    val qAll = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("qvec"), col("centroid")), col("qnrm"), col("ctrnrm")), 6))
    val qw = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell_id"))
    val qCells = qAll
      .withColumn("crnk", row_number().over(qw))
      .where(col("crnk") <= nprobe)
      .drop("centroid", "ctrnrm", "csim", "crnk")
    // ≤ numCells longs — control-plane collect, not a data collect
    val probedCells = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = spark.read.parquet(path)
      .where(col("cell_id").isin(probedCells: _*))
    val scored = pruned.join(broadcast(qCells), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("score", round(
        cosineFromParts(dot(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** FILTERED ANN retrieval — [[ivfTopKIndexed]] under a metadata
    * predicate (the production "nearest English documents", "nearest
    * in-stock items" shape): the caller pre-applies the predicate to
    * its metadata table and passes the surviving id set; candidates
    * are cut by an id-width semi-join BEFORE any dot product runs —
    * PRE-filtering, so the returned k are the true filtered top-k of
    * the probed cells (post-filtering an unfiltered top-k loses
    * recall exactly when the filter is selective). The classic
    * filtered-ANN caveat applies and is the caller's dial: as
    * selectivity rises, raise `nprobe` — the probed-cell candidate
    * pool thins by the filter rate.
    *
    * Scale shape: identical to [[ivfTopKIndexed]] (partition-pruned
    * cell scan, broadcast query cells) plus one semi-join of the
    * pruned cells against the allowed ids — id-hash work; the wide
    * vectors never move for rows the filter drops.
    */
  def ivfTopKFiltered(path: String, queries: DataFrame,
                      idCol: String, vecCol: String,
                      allowedIds: DataFrame, allowedIdCol: String,
                      k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    require(Markers.exists(s"${path}_centroids/_SUCCESS"),
      s"IVF index at $path has no commit marker (crashed maintenance?); " +
        "rebuild it with writeIvfIndex/ensureIvfIndex")
    val centroids = spark.read.parquet(s"${path}_centroids")
    val qAll = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("qvec"), col("centroid")), col("qnrm"), col("ctrnrm")), 6))
    val qw = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell_id"))
    val qCells = qAll
      .withColumn("crnk", row_number().over(qw))
      .where(col("crnk") <= nprobe)
      .drop("centroid", "ctrnrm", "csim", "crnk")
    val probedCells = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted // ≤ numCells — control-plane
    val pruned = spark.read.parquet(path)
      .where(col("cell_id").isin(probedCells: _*))
      .join(allowedIds.select(col(allowedIdCol).as("corpus_id")),
        Seq("corpus_id"), "left_semi")
    val scored = pruned.join(broadcast(qCells), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("score", round(
        cosineFromParts(dot(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** k-NN graph over the WHOLE corpus via the LSH buckets: every
    * vector's top-k neighbors among its bucket-mates — the input
    * graph for semantic clustering, mutual-kNN dedup, and
    * graph-based diversity sampling. Unlike [[lshTopK]] the query
    * side IS the corpus, so nothing broadcasts: the bucketed table
    * self-joins co-partitioned on (table, bucket) — the two sides
    * share one exchange (ReuseExchange) and hot buckets spread
    * across `numTables`·2^nbits partitions. Raise `nbits` with
    * corpus size to bound the per-bucket pair fan-out (the
    * [[graft.operators.Dedup.embeddingPairsLsh]] discipline).
    *
    * Recall is the LSH bargain (bucket-mates only); determinism is
    * exact — same hyperplanes, round-6 cosine, (score, id) tiebreak
    * — so the DuckDB oracle replays buckets and ranks bit-for-bit.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               nbits: Int = 4, numTables: Int = 16, dim: Int = 64): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    // candidate pairs stay NARROW (two ids): the (t, bucket) self-join
    // and the cross-table dedup shuffle 16-byte rows, and the wide
    // vectors attach AFTERWARDS by id-join — shuffling both vectors
    // through the dedup was the dominant cost (and at 100 TB would
    // move the corpus |tables|× through the wire)
    val b = base
      .select(col("id"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("t"),
                 hyperplaneBucket(col("vec"), nbits, seed = 7 + t, dim = dim).as("bucket"))): _*))
          .as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
      .repartition(col("t"), col("bucket"))
    val pairs = b.as("x").join(b.as("y"), Seq("t", "bucket"))
      .where(col("x.id") =!= col("y.id"))
      .select(col("x.id").as("query_id"), col("y.id").as("corpus_id"))
      .distinct()
    val qv = base.select(col("id").as("query_id"),
      col("vec").as("qvec"), col("nrm").as("qnrm"))
    val cv = base.select(col("id").as("corpus_id"),
      col("vec").as("cvec"), col("nrm").as("cnrm"))
    val scored = pairs.join(cv, Seq("corpus_id")).join(qv, Seq("query_id"))
      .withColumn("score", round(
        cosineFromParts(dotD(col("cvec"), col("qvec")), col("cnrm"), col("qnrm")), 6))
    topKPerQuery(scored, k)
  }

  /** Mutual-kNN edge list from [[knnGraph]]: keep only pairs where
    * EACH vector ranks inside the other's top-k — the standard
    * precision filter before clustering a kNN graph (one-directional
    * edges are usually hub artifacts: a generic vector appears in
    * everyone's top-k without reciprocating). Canonical (id_a <
    * id_b) edges with the shared round-6 score.
    *
    * Scale shape: the kNN result is |V|·k rows; the reciprocity
    * check is a self-join on the reversed pair key — tiny next to
    * the bucket join that produced it. In a real pipeline
    * materialize [[knnGraph]] once and run this on the table; here
    * the lineage recomputes it (gate queries are self-contained).
    */
  /** Leave-one-out kNN label-coherence evaluation: classify every
    * vector by the majority label of its [[knnGraph]] neighbors and
    * report per-class accuracy — the embedding-quality eval that
    * needs no held-out model ("do same-label points actually sit
    * together in this space?"). Run it before trusting the space for
    * retrieval or clustering; a class whose accuracy sits at chance
    * is not separable in this embedding.
    *
    * Determinism: the kNN graph is the deterministic bucketed join;
    * the vote winner is max votes with MIN-LABEL tie-break via one
    * min-struct aggregate (no window); counts are exact and accuracy
    * divides exact longs factor-first, round 6.
    *
    * Scale shape: everything after the bucket join is |V|·k rows —
    * two label joins keyed by id (broadcast when labels fit), one
    * vote aggregate, one |classes|-row report.
    */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, k: Int,
                  nbits: Int = 4, numTables: Int = 16, dim: Int = 64): DataFrame = {
    def d(c: Column) = c.cast("double")
    val g = knnGraph(corpus, idCol, vecCol, k, nbits, numTables, dim)
    val lab = corpus.select(col(idCol).as("corpus_id"),
                            col(labelCol).as("nbr_label"))
    val truth = corpus.select(col(idCol).as("query_id"),
                              col(labelCol).as("true_label"))
    val pred = g.join(lab, Seq("corpus_id"))
      .groupBy("query_id", "nbr_label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(min(struct((-col("votes")).as("nv"), col("nbr_label")))
        .getField("nbr_label").as("pred_label"))
    truth.join(pred, Seq("query_id"), "left") // isolated vectors: no neighbors
      .groupBy("true_label")
      .agg(count(lit(1)).as("n"),
           sum((col("pred_label") === col("true_label")).cast("long"))
             .as("n_correct"))
      .select(col("true_label"), col("n"), col("n_correct"),
        round(d(col("n_correct")) / d(col("n")), 6).as("accuracy"))
  }

  /** Nearest-centroid (Rocchio) classification with a full confusion
    * matrix: per-label mean centroids (round-6 per-dimension means of
    * the raw components — the dimStats exactness discipline), every
    * vector assigned to its max-cosine centroid, counts per
    * (true, predicted) pair. The PROTOTYPE-based quality eval next to
    * [[knnClassify]]'s instance-based one: kNN asks "are my
    * neighbors my label", this asks "is my label's MEAN a better
    * magnet than every other label's" — a class that fails here but
    * passes kNN is multi-modal in the space.
    *
    * Determinism: centroid means round to 6 before any scoring;
    * cosine rounds to 6; the argmax is a max-struct aggregate with
    * MIN-label tie-break (no window). Scale shape: the centroid
    * table is |labels|·d — broadcast onto one map-side scoring pass
    * (corpus × |labels| fan-out, label-bounded), one argmax
    * aggregate, one confusion-matrix aggregate.
    */
  def centroidClassify(corpus: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
                             col(labelCol).as("lbl"))
    val centroids = base
      .select(col("lbl"), posexplode(col("vec")))
      .groupBy(col("lbl"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 6).as("mean_val"))
      .groupBy("lbl")
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("dm"))
      .select(col("lbl").as("cand"),
              transform(col("dm"), x => x.getField("mean_val")).as("centroid"))
    val scored = base.crossJoin(broadcast(centroids)) // label-bounded fan-out
      .withColumn("score", round(
        cosineFromParts(dotD(col("vec"), col("centroid")),
          l2Norm(col("vec")), l2Norm(col("centroid"))), 6))
      .where(col("score").isNotNull) // zero-norm vectors can't classify
    val pred = scored
      .groupBy(col("id"), col("lbl").as("true_label"))
      .agg(min(struct((-col("score")).as("ns"), col("cand")))
        .getField("cand").as("pred_label"))
    pred.groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }

  def mutualKnn(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                nbits: Int = 4, numTables: Int = 16): DataFrame =
    mutualizeKnn(knnGraph(corpus, idCol, vecCol, k, nbits, numTables))

  /** Reciprocity filter over an already-computed [[knnGraph]] edge
    * table — the shared tail of [[mutualKnn]] (direct) and
    * [[mutualKnnFromGraph]] (served).
    */
  private def mutualizeKnn(knnEdges: DataFrame): DataFrame = {
    val knn = knnEdges.select(col("query_id"), col("corpus_id"), col("score"))
    knn.as("f").join(knn.as("r"),
        col("f.query_id") === col("r.corpus_id") &&
          col("f.corpus_id") === col("r.query_id"))
      .where(col("f.query_id") < col("f.corpus_id"))
      .select(col("f.query_id").as("id_a"), col("f.corpus_id").as("id_b"),
              col("f.score").as("score"))
  }

  /** Materialize the [[knnGraph]] edge table once per corpus — the
    * `ensureClusterMap`/`ensureBasketGraph` discipline applied to the
    * kNN graph: the bucket self-join that produces the |V|·k edge
    * list is the dominant cost, and every consumer (the edge listing
    * itself, the [[mutualKnn]] reciprocity filter, downstream
    * clustering) should pay for it exactly once. The parquet
    * `_SUCCESS` is the build marker.
    */
  def writeKnnGraph(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int, nbits: Int = 4,
                    numTables: Int = 16): Unit =
    knnGraph(corpus, idCol, vecCol, k, nbits, numTables)
      .write.mode("overwrite").parquet(path)

  /** [[writeKnnGraph]] only if absent; `corpus` is by-name so the
    * bucket pipeline never evaluates on the served path.
    */
  def ensureKnnGraph(corpus: => DataFrame, idCol: String, vecCol: String,
                     path: String, k: Int, nbits: Int = 4,
                     numTables: Int = 16): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writeKnnGraph(corpus, idCol, vecCol, path, k, nbits, numTables)
  }

  /** [[mutualKnn]] served from a materialized [[writeKnnGraph]]
    * table: identical rows (the table IS the direct op's output),
    * no bucket join.
    */
  def mutualKnnFromGraph(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    require(Markers.exists(s"$path/_SUCCESS"),
      s"kNN graph at $path has no build marker; rebuild with ensureKnnGraph")
    mutualizeKnn(spark.read.parquet(path))
  }

  /** LABEL PROPAGATION over the materialized kNN graph (Zhu &
    * Ghahramani 2002, the hard-label variant) — semi-supervised data
    * labeling: a small seeded fraction carries ground-truth labels
    * and everything else takes the majority label of its labeled
    * graph neighbors, re-voted for `rounds` synchronous rounds
    * (labels flow outward one hop per round). The standard cheap
    * path from "we can only afford to label 20%" to a fully-labeled
    * training set, plus its own audit: non-seed nodes whose true
    * label is known here report `correct`, measuring the
    * propagation's accuracy the way a real pipeline would on a
    * held-out slice.
    *
    * Determinism: votes are exact neighbor counts over the served
    * edge set (symmetrized); the winner is the (count, label)
    * lexicographic argmax via one max(struct) with min-label
    * tie-break — no RNG; seeds are clamped every round; a node with
    * no labeled neighbor keeps its previous label (null until
    * reached). Sixth consumer of [[ensureKnnGraph]] — no vector
    * re-scan.
    *
    * Scale shape: per round, one |E|-row join against the labeled
    * state and two node-keyed hash aggregates (map-side combined);
    * eager per-round localCheckpoint (the
    * [[graft.operators.Graph.pageRank]] discipline). No windows.
    */
  def labelSpreadFromKnn(spark: org.apache.spark.sql.SparkSession,
                         path: String, emb: DataFrame, idCol: String,
                         labelCol: String, seedMod: Int,
                         rounds: Int): DataFrame = {
    require(Markers.exists(s"$path/_SUCCESS"),
      s"kNN graph at $path has no build marker; rebuild with ensureKnnGraph")
    require(seedMod >= 2 && rounds >= 1, s"bad params: $seedMod/$rounds")
    val e0 = spark.read.parquet(path)
      .select(col("query_id").as("u"), col("corpus_id").as("v"))
    val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v"))
      .dropDuplicates("u", "v")
      .persist()
    val base = emb.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("label_true"),
        (col(idCol) % seedMod === 0).as("is_seed"))
      .localCheckpoint()
    val state = Rounds.iterate(base.select(col("id"),
        when(col("is_seed"), col("label_true")).as("lab")), rounds) { (prev, _) =>
      val win = edges
        .join(prev.where(col("lab").isNotNull)
          .select(col("id").as("v"), col("lab")), "v")
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("n"))
        .groupBy(col("u"))
        .agg(max(struct(col("n"), (-col("lab")).as("neg"),
          col("lab").as("l"))).as("t"))
        .select(col("u").as("id"), col("t.l").as("vote"))
      base
        .join(prev.select(col("id"), col("lab").as("old")), "id")
        .join(win, Seq("id"), "left")
        .select(col("id"), when(col("is_seed"), col("label_true"))
          .otherwise(coalesce(col("vote"), col("old"))).as("lab"))
    }
    val out = Rounds.materialize(base.join(state, "id")
      .select(col("id").as("vec_id"), col("label_true"), col("is_seed"),
        col("lab").as("label_pred"),
        when(!col("is_seed") && col("lab").isNotNull,
          col("lab") === col("label_true")).as("correct")))
    Rounds.release(state, base)
    edges.unpersist(blocking = false)
    out
  }

  /** Per-cluster mean silhouette against trained k-means centroids —
    * the centroid-based simplified silhouette: a = cosine distance to
    * the OWN (nearest) centroid, b = distance to the second-nearest,
    * s = (b − a)/max(a, b) ∈ [0, 1] here (a is the min by
    * construction); near-0 clusters overlap their neighbor, near-1
    * are well separated. The cluster-quality report to read BEFORE
    * trusting cluster-based curation (per-cluster sampling, semantic
    * dedup) built on the same centroids.
    *
    * Exactness (DuckDB oracle parity): centroids come from
    * [[kmeansIterations]]' Lloyd loop (round-6 means each round —
    * already engine-exact); scoring rounds the cosine to 6, sorts the
    * per-point (csim, cell_id) pairs so own/second-best tiebreak
    * exactly like [[lloydStep]]'s argmax, rounds s to 6, and the
    * per-cluster mean goes through round-6-scaled exact longs.
    *
    * Scale shape: training never shuffles the corpus (centroids
    * broadcast each round); scoring is ONE more broadcast pass with a
    * constant-size (|cells|-element) collect_list per point, then a
    * |cells|-row aggregate. No collect, no window.
    */
  def kmeansSilhouette(corpus: DataFrame, idCol: String, vecCol: String,
                       numCells: Int = 8, iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    var centroids = seedCentroids(c, "id", numCells)
    for (_ <- 0 until iters) centroids = lloydStep(c, centroids)._2
    val arr = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("csim"), col("cell_id")))).as("arr"))
    val per = arr.select(
      element_at(col("arr"), -1).getField("cell_id").as("cell_id"),
      round(lit(1.0) - element_at(col("arr"), -1).getField("csim"), 6).as("da"),
      round(lit(1.0) - element_at(col("arr"), -2).getField("csim"), 6).as("db"))
      .withColumn("s",
        when(greatest(col("da"), col("db")) === 0, lit(0.0))
          .otherwise(round((col("db") - col("da")) / greatest(col("da"), col("db")), 6)))
    per.groupBy("cell_id")
      .agg(count(lit(1)).as("n_points"),
           round(sum(round(col("s") * 1e6, 0).cast("long")) / 1e6
                 / count(lit(1)), 6).as("mean_silhouette"))
  }

  /** Label PURITY of the trained k-means partition: per cell, the
    * majority true label's share — the external-validity companion
    * to [[kmeansSilhouette]]'s internal cohesion (a partition can be
    * geometrically tight yet semantically mixed; purity reads the
    * labels the geometry is supposed to recover). Same seeded
    * 2-round Lloyd training and round-6 argmax assignment as the
    * rest of the kmeans family; ties on the majority break to the
    * GREATEST label (max-struct ↔ ORDER BY n DESC, label DESC).
    * Exact counts; purity is one rounded division.
    */
  def kmeansPurity(corpus: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, numCells: Int = 8,
                   iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    var centroids = seedCentroids(c, "id", numCells)
    for (_ <- 0 until iters) centroids = lloydStep(c, centroids)._2
    val assigned = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy("id")
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"))
    val counts = assigned
      .join(corpus.select(col(idCol).as("id"), col(labelCol).as("label")), "id")
      .groupBy("cell_id", "label").agg(count(lit(1)).as("n"))
    counts.groupBy("cell_id")
      .agg(sum(col("n")).as("n_points"),
        max(struct(col("n"), col("label"))).getField("label").as("majority_label"),
        max(struct(col("n"), col("label"))).getField("n").as("n_majority"))
      .select(col("cell_id"), col("n_points"), col("majority_label"),
        col("n_majority"),
        round(col("n_majority") / col("n_points"), 6).as("purity"))
  }

  /** IVF quantizer health report — cell-size balance: per coarse
    * cell, its member count, corpus share, and load factor
    * (n / (N/numCells)). The number an ANN operator watches before
    * trusting nprobe latency: a load factor ≫ 1 on hot cells means
    * probes touch far more vectors than the uniform model promises,
    * and empty cells (absent rows) mean wasted quantizer capacity.
    * Same deterministic coarse quantizer as [[ivfTopK]], so this
    * audits exactly the index the search ops serve from.
    *
    * Scale shape: broadcast centroids, one argmax hash aggregate,
    * one ≤numCells-row count aggregate and a 1-row total broadcast.
    */
  def ivfCellBalance(corpus: DataFrame, idCol: String, vecCol: String,
                     numCells: Int = 16): DataFrame = {
    def d(c: Column) = c.cast("double")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val centroids = seedCentroids(c, "id", numCells)
    val cells = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy("id")
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"))
      .groupBy("cell_id").agg(count(lit(1)).as("n_points"))
    val tot = cells.agg(sum(col("n_points")).as("total"))
    cells.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("cell_id"), col("n_points"),
        round(d(col("n_points")) / d(col("total")), 6).as("share"),
        round(d(col("n_points")) * numCells / d(col("total")), 6).as("load_factor"))
  }

  /** Elbow curve — inertia vs k, the operating-point artifact for
    * choosing the cluster count (the [[kmeansSilhouette]] companion:
    * silhouette scores one k's quality, this sweeps k): for each k
    * the same seeded + `iters`-Lloyd training as every cluster op,
    * then the within-cluster sum of squared round-6 cosine distances
    * to the OWN (argmax) centroid. Inertia decreases in k; the knee
    * is the budget-quality trade.
    *
    * Determinism: per-point distances ×1e6-scale to exact longs and
    * the sum of squares accumulates as exact long products (the
    * silhouette discipline), so the curve hash-matches the oracle's
    * per-k iterated-CTE replay. Scale shape: the corpus checkpoints
    * once and each k costs the standard broadcast-join + argmax
    * aggregate — |ks| passes, centroid state never exceeds k rows.
    */
  def kmeansElbow(corpus: DataFrame, idCol: String, vecCol: String,
                  ks: Seq[Int], iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
      .localCheckpoint() // re-scanned per k and per Lloyd round
    val per = ks.map { k =>
      var centroids = seedCentroids(c, "id", k)
      for (_ <- 0 until iters) centroids = lloydStep(c, centroids)._2
      c.join(broadcast(centroids), lit(true))
        .withColumn("csim", round(
          cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
        .groupBy("id")
        .agg(max(struct(col("csim"), col("cell_id"))).getField("csim").as("best"),
          max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell"))
        .withColumn("dl", round((lit(1.0) - col("best")) * 1e6, 0).cast("long"))
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("cell")).as("n_cells"),
          sum(col("dl") * col("dl")).as("ssq"))
        .select(lit(k.toLong).as("k"), col("n_points"), col("n_cells"),
          round(col("ssq") / 1e12, 6).as("inertia"))
    }
    per.reduce(_ unionByName _)
  }

  /** Embedding-hygiene outlier screen against the trained cluster
    * structure: every vector's round-6 cosine distance to its OWN
    * (argmax-assigned) centroid, keeping the vectors whose distance
    * exceeds the corpus `pct`-quantile — the "this point fits no
    * cluster" cut that catches mojibake embeddings, encoder failures
    * and genuinely off-manifold documents before they enter training.
    * Same trained centroids as [[kmeansSilhouette]] (seeded +
    * `iters` audited [[lloydStep]]s), so the quality report and the
    * outlier screen describe the same model.
    *
    * Determinism: assignment is the round-6 argmax with ties to the
    * greatest cell_id; the threshold is one exact `percentile` over
    * round-6 distances (the agg_percentiles-proven DuckDB
    * quantile_cont pairing), broadcast as a 1-row scalar — never a
    * global sort. Result size follows the data (~(1−pct)·N rows).
    */
  def kmeansOutliers(corpus: DataFrame, idCol: String, vecCol: String,
                     numCells: Int = 8, iters: Int = 2,
                     pct: Double = 0.9): DataFrame = {
    require(pct > 0 && pct < 1, "pct must be in (0, 1)")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    var centroids = seedCentroids(c, "id", numCells)
    for (_ <- 0 until iters) centroids = lloydStep(c, centroids)._2
    val assigned = c.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy("id")
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           round(lit(1.0) - max(col("csim")), 6).as("dist"))
    val cut = assigned.agg(round(expr(s"percentile(dist, $pct)"), 6).as("cut"))
    assigned.crossJoin(broadcast(cut)) // 1-row scalar, not a cartesian
      .where(col("dist") > col("cut"))
      .select(col("id"), col("cell_id"), col("dist"))
  }

  /** Greedy k-center coreset (Gonzalez): start from the
    * md5-deterministic first point, then k−1 rounds each add the
    * point FARTHEST from the current center set — the
    * maximal-diversity sample (2-approximation to the optimal
    * k-center cover) used to pick evaluation exemplars or seed a
    * curriculum, where hash sampling gives "uniform" and this gives
    * "spread". Each center carries its selection radius (distance to
    * the set when chosen — the monotone coverage-radius sequence,
    * which is also the quality certificate: radius r at step k means
    * no point is farther than r from the first k−1 centers).
    *
    * Determinism ([[kmeansParallelInit]]'s contract): round-6 cosine
    * throughout, argmax by (radius, id) both descending, already-
    * chosen ids excluded explicitly; the DuckDB oracle replays every
    * round as MATERIALIZED CTEs.
    *
    * Scale shape: per round one broadcast of the (≤ k-row) center
    * set, one corpus-keyed max aggregate, one constant-size
    * TakeOrdered — the corpus never shuffles; k is small by
    * definition of the op.
    */
  def kcenterSample(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
      .localCheckpoint() // re-joined every round — scan once
    val seed = c
      .withColumn("h", graft.functions.TextFunctions.md5Prefix64(col("id").cast("string")))
      .orderBy("h").limit(1)
      .select(lit(1L).as("rnk"), col("id"), col("vec"), col("nrm"),
              lit(null).cast("double").as("radius"))
      .localCheckpoint()
    val chosen = Rounds.iterate(seed, k - 1) { (prev, i) =>
      val r = i + 1 // round i picks center r
      val win = c
        .join(broadcast(prev.select(col("id").as("cid"))), col("id") === col("cid"),
          "left_anti")
        .join(broadcast(prev.select(col("vec").as("cvec"), col("nrm").as("cnrm"))),
          lit(true))
        .withColumn("csim", round(
          cosineFromParts(dot(col("vec"), col("cvec")), col("nrm"), col("cnrm")), 6))
        .groupBy("id")
        .agg(first(col("vec")).as("vec"), first(col("nrm")).as("nrm"),
             max(col("csim")).as("best"))
        .withColumn("radius", round(lit(1.0) - col("best"), 6))
        .orderBy(desc("radius"), desc("id")).limit(1)
        .select(lit(r.toLong).as("rnk"), col("id"), col("vec"), col("nrm"),
                col("radius"))
      prev.unionByName(win)
    }
    chosen.select(col("rnk"), col("id").as("center_id"), col("radius"))
  }

  /** TwoNN INTRINSIC DIMENSION (Facco et al. 2017) — how many
    * degrees of freedom the embedding cloud actually uses,
    * independent of the ambient width: under a locally uniform
    * density the ratio μ = d₂/d₁ of each point's two nearest-
    * neighbor distances follows P(μ>x) = x^(−d), so the MLE is
    * d̂ = n/Σ ln μ. The representation-collapse diagnostic next to
    * [[graft.operators.Embeddings]]' participation ratio (which
    * measures variance spread, not manifold dimension). Served from
    * the materialized kNN edge table (fifth consumer of
    * ensureKnnGraph) — no vector re-scan; points whose nearest
    * neighbor sits at distance 0 (exact duplicates — no local
    * scale) or that lack a second in-bucket neighbor are dropped
    * and counted.
    *
    * Determinism: distances are the table's round-6 cosine scores;
    * each ln μ round-6-scales to an exact long before the sum (the
    * zipfFit discipline); the estimator is one division at the end.
    */
  def intrinsicDimFromKnn(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame = {
    require(Markers.exists(s"$path/_SUCCESS"),
      s"kNN graph at $path has no build marker; rebuild with ensureKnnGraph")
    def d(c: Column) = c.cast("double")
    val top2 = spark.read.parquet(path).where(col("rnk") <= 2)
      .groupBy("query_id").agg(
        max(when(col("rnk") === 1, col("score"))).as("s1"),
        max(when(col("rnk") === 2, col("score"))).as("s2"))
      .where(col("s2").isNotNull)
    val dd = top2.select(col("query_id"),
      round(lit(1.0) - col("s1"), 6).as("d1"),
      round(lit(1.0) - col("s2"), 6).as("d2"))
    val used = dd.where(col("d1") > 0)
      .select(round(log(col("d2") / col("d1")) * 1e6, 0).cast("long").as("li"))
    val nAll = dd.agg(count(lit(1)).as("n_pairs")) // 1-row scalar
    used.agg(count(lit(1)).as("n_used"), sum("li").as("sli"))
      .crossJoin(broadcast(nAll))
      .select(col("n_pairs"), col("n_used"),
        when(col("sli") > 0, round(d(col("n_used"))
          / (d(col("sli")) / 1e6), 6)).as("intrinsic_dim"))
  }

  /** DBSCAN (Ester et al. 1996) — the density classic next to the
    * kmeans family: a point with ≥ `minPts` neighbors inside cosine
    * distance `eps` (self included) is CORE; clusters are the
    * connected components of the core-core ε-graph (the
    * [[graft.operators.Dedup]] large-star/small-star machinery —
    * O(log n) rounds); a non-core point inside ε of a core joins the
    * MINIMUM core cluster among its neighbors (deterministic border
    * rule); the rest is NOISE. No k to guess, arbitrary-shape
    * clusters, and the noise bucket is exactly what a curation
    * pipeline routes to manual review.
    *
    * Input convention: the ε-graph here is the exhaustive pair
    * matrix, so callers pass a BOUNDED point set (slice / centroid
    * table / per-cell sample — the [[hierSingleLinkage]] contract).
    * At corpus scale the candidate pairs come from the LSH-bucket /
    * IVF-cell generators instead ([[graft.operators.Dedup
    * .embeddingPairs]]-style: only within-bucket pairs, recall
    * documented) — the density rule and the CC are unchanged.
    *
    * Determinism: round-6 distances before any comparison; border
    * assignment by min cluster id; components labeled by component
    * minimum.
    */
  def dbscan(points: DataFrame, idCol: String, vecCol: String,
             eps: Double, minPts: Int): DataFrame = {
    require(eps >= 0 && minPts >= 1, s"bad dbscan params: eps=$eps minPts=$minPts")
    val pts = points.select(col(idCol).cast("long").as("p"), col(vecCol).as("v"))
    val pd = epsGraph(points, idCol, vecCol, eps)
      .localCheckpoint() // the ε-graph serves three consumers
    dbscanFromPairs(pts.select("p"), pd, eps, minPts)
  }

  /** The exhaustive bounded-input ε-GRAPH [[dbscan]] consumes: both
    * orientations of every pair within round-6 cosine distance
    * `maxEps`. Materialized via [[ensureEpsGraph]] it is a RANGE
    * INDEX: any dbscan run with `eps <= maxEps` is a filter cut of
    * this table — the n² vector-distance compute (the dominant cost)
    * runs once per (corpus, slice), not per query.
    */
  def epsGraph(points: DataFrame, idCol: String, vecCol: String,
               maxEps: Double): DataFrame = {
    val pts = points.select(col(idCol).cast("long").as("p"), col(vecCol).as("v"))
    pts.select(col("p").as("pa"), col("v").as("va"))
      .join(pts.select(col("p").as("pb"), col("v").as("vb")),
        col("pa") =!= col("pb"))
      .select(col("pa"), col("pb"),
        round(lit(1.0) - cosine(col("va"), col("vb")), 6).as("dist"))
      .where(col("dist") <= maxEps)
  }

  /** Materialize [[epsGraph]] once per (corpus, slice, maxEps) — the
    * [[ensureKnnGraph]] discipline for the density family; parquet
    * `_SUCCESS` is the build marker.
    */
  def writeEpsGraph(points: DataFrame, idCol: String, vecCol: String,
                    path: String, maxEps: Double): Unit =
    epsGraph(points, idCol, vecCol, maxEps).write.mode("overwrite").parquet(path)

  /** [[writeEpsGraph]] only if absent; `points` is by-name so the n²
    * distance pipeline never evaluates on the served path.
    */
  def ensureEpsGraph(points: => DataFrame, idCol: String, vecCol: String,
                     path: String, maxEps: Double): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writeEpsGraph(points, idCol, vecCol, path, maxEps)
  }

  /** [[dbscan]] served from a materialized [[writeEpsGraph]] table:
    * identical output (the table holds every pair the direct op
    * computes, cut to `eps` by a pushed-down parquet filter), no
    * vector re-scan. `ids` is the full point list (1 long column) —
    * isolated points carry no ε-graph row yet must report as noise.
    */
  def dbscanFromGraph(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, idCol: String,
                      eps: Double, minPts: Int): DataFrame = {
    require(Markers.exists(s"$path/_SUCCESS"),
      s"eps graph at $path has no build marker; rebuild with ensureEpsGraph")
    dbscanFromPairs(ids.select(col(idCol).cast("long").as("p")),
      spark.read.parquet(path), eps, minPts)
  }

  /** Materialize the CORE-GRAPH cluster map for one (eps, minPts)
    * off a served [[writeEpsGraph]] table — the
    * [[Dedup.ensureClusterMap]] discipline applied to dbscan's only
    * iterative piece: the core set and core-core edges are
    * deterministic cuts of the ε-graph, so the O(log n) CC rounds run
    * once per (fixture, eps, minPts) and [[dbscanServed]] afterwards
    * is three non-iterative joins. The path should encode the params
    * (a map is only valid for the cut that built it).
    */
  def ensureDbscanMap(spark: org.apache.spark.sql.SparkSession,
                      epsPath: String, mapPath: String,
                      eps: Double, minPts: Int): Unit = {
    require(Markers.exists(s"$epsPath/_SUCCESS"),
      s"eps graph at $epsPath has no build marker; rebuild with ensureEpsGraph")
    val pd = spark.read.parquet(epsPath).where(col("dist") <= eps)
    val core = pd.groupBy(col("pa").as("p")).agg(count(lit(1)).as("n"))
      .where(col("n") + 1 >= minPts).select("p")
    val ce = pd
      .join(core.select(col("p").as("pa")), Seq("pa"), "left_semi")
      .join(core.select(col("p").as("pb")), Seq("pb"), "left_semi")
      .select(col("pa").as("doc_a"), col("pb").as("doc_b"))
    Dedup.ensureClusterMap(core.select(col("p")), "p", ce, mapPath)
  }

  /** [[dbscanFromGraph]] with the CC ALSO served (from
    * [[ensureDbscanMap]]): identical output, no iterative rounds —
    * steady state is two parquet reads and the role/border joins.
    */
  def dbscanServed(spark: org.apache.spark.sql.SparkSession,
                   epsPath: String, mapPath: String,
                   ids: DataFrame, idCol: String,
                   eps: Double, minPts: Int): DataFrame = {
    require(Markers.exists(s"$epsPath/_SUCCESS"),
      s"eps graph at $epsPath has no build marker; rebuild with ensureEpsGraph")
    require(Markers.exists(s"$mapPath/_SUCCESS"),
      s"dbscan map at $mapPath has no build marker; rebuild with ensureDbscanMap")
    val cl = spark.read.parquet(mapPath)
      .select(col("doc_id").as("p"), col("cluster_id"))
    dbscanAssemble(ids.select(col(idCol).cast("long").as("p")),
      spark.read.parquet(epsPath).where(col("dist") <= eps), cl, eps, minPts)
  }

  /** The density core shared by [[dbscan]] (direct) and
    * [[dbscanFromGraph]] (served): `pts` = one `p` column of all
    * point ids, `pairs` = (pa, pb, dist) in both orientations.
    */
  private def dbscanFromPairs(pts: DataFrame, pairs: DataFrame,
                              eps: Double, minPts: Int): DataFrame = {
    require(eps >= 0 && minPts >= 1, s"bad dbscan params: eps=$eps minPts=$minPts")
    val pd = pairs.where(col("dist") <= eps)
    val core = pd.groupBy(col("pa").as("p")).agg(count(lit(1)).as("n"))
      .where(col("n") + 1 >= minPts).select("p")
    val ce = pd
      .join(core.select(col("p").as("pa")), Seq("pa"), "left_semi")
      .join(core.select(col("p").as("pb")), Seq("pb"), "left_semi")
      .select(col("pa").as("doc_a"), col("pb").as("doc_b"))
    val cl = Dedup.connectedClusters(core, "p", ce)
      .select(col("doc_id").as("p"), col("cluster_id"))
    dbscanAssemble(pts, pd, cl, eps, minPts)
  }

  /** Assembly tail shared by the direct and fully-served paths:
    * density counts, role classification, min-cluster border rule.
    * `cl` = the core-graph cluster map (from live CC or a served
    * artifact); everything here is plain joins, no iteration.
    */
  private def dbscanAssemble(pts: DataFrame, pd: DataFrame, cl: DataFrame,
                             eps: Double, minPts: Int): DataFrame = {
    require(eps >= 0 && minPts >= 1, s"bad dbscan params: eps=$eps minPts=$minPts")
    val nEps = pts.select("p")
      .join(pd.groupBy(col("pa").as("p")).agg(count(lit(1)).as("n")),
        Seq("p"), "left")
      .select(col("p"), (coalesce(col("n"), lit(0L)) + 1).as("n_eps"))
    val core = nEps.where(col("n_eps") >= minPts).select("p")
    val border = pd
      .join(core.select(col("p").as("pa")), Seq("pa"), "left_anti")
      .join(cl.select(col("p").as("pb"), col("cluster_id").as("bc")), Seq("pb"))
      .groupBy(col("pa").as("p")).agg(min(col("bc")).as("b_cluster"))
    nEps
      .join(cl, Seq("p"), "left")
      .join(border, Seq("p"), "left")
      .select(col("p"), col("n_eps"),
        when(col("cluster_id").isNotNull, lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster_id"), col("b_cluster")).as("cluster_id"))
  }

  /** Agglomerative SINGLE-LINKAGE clustering — the dendrogram classic
    * the kmeans family can't give (no k to guess; nested structure
    * falls out as the merge log). Starts from singletons; every round
    * merges the two clusters with the smallest round-6 cosine
    * distance between their CLOSEST members (min-linkage), labels
    * surviving as the smaller cluster id. Returns the merge log —
    * (step, cluster_a, cluster_b, dist, n_clusters) — which IS the
    * dendrogram: cut it at any dist threshold to read off a flat
    * clustering.
    *
    * Exhaustive-input convention (the dedup_jaccard_exhaustive
    * precedent): linkage needs the full pair matrix, so the input is
    * a BOUNDED point set (a slice, a centroid table, a per-cell
    * sample) — n² pairs and n−1 driver-paced rounds are the honest
    * cost of exact single linkage; at corpus scale the route is
    * kmeans cells first, hierarchy over the bounded centroid table.
    * Rounds localCheckpoint (the BPE lesson) so round r's plan does
    * not replay rounds 1..r−1; every per-round frame is ≤n² rows.
    *
    * Determinism: distances round to 6 before ANY comparison; the
    * merge pick orders by (dist, cluster_a, cluster_b) — ties are
    * impossible to draw differently across engines.
    */
  def hierSingleLinkage(points: DataFrame, idCol: String, vecCol: String,
                        rounds: Int): DataFrame = {
    val pts = points.select(col(idCol).cast("long").as("p"), col(vecCol).as("v"))
    val n = pts.count() // bounded control-plane scalar
    require(rounds >= 1 && rounds < n,
      s"rounds must fit the point count: rounds=$rounds n=$n")
    val pd = pts.select(col("p").as("pa"), col("v").as("va"))
      .join(pts.select(col("p").as("pb"), col("v").as("vb")),
        col("pa") < col("pb"))
      .select(col("pa"), col("pb"),
        round(lit(1.0) - cosine(col("va"), col("vb")), 6).as("dist"))
      .localCheckpoint()
    val logs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val merged = Rounds.iterate(pts.select(col("p"), col("p").as("c")).localCheckpoint(),
        rounds) { (m, r) =>
      val cd = pd
        .join(m.select(col("p").as("pa"), col("c").as("ca0")), "pa")
        .join(m.select(col("p").as("pb"), col("c").as("cb0")), "pb")
        .where(col("ca0") =!= col("cb0"))
        .groupBy(least(col("ca0"), col("cb0")).as("ca"),
          greatest(col("ca0"), col("cb0")).as("cb"))
        .agg(min(col("dist")).as("dist"))
      val pick = cd.orderBy("dist", "ca", "cb").limit(1).localCheckpoint()
      logs += pick.select(lit(r.toLong).as("step"), col("ca").as("cluster_a"),
        col("cb").as("cluster_b"), col("dist"))
      val pk = pick.select(col("ca"), col("cb"))
      m.join(broadcast(pk), m("c") === pk("cb"), "left")
        .select(col("p"), coalesce(col("ca"), col("c")).as("c"))
    }
    Rounds.release(merged) // the merge log reads only the picks
    logs.reduce(_ unionByName _)
      .withColumn("n_clusters", lit(n) - col("step"))
  }
}
