package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication for large-scale training-data pipelines.
  *
  * Scale design (100 TB): the only safe join key is a *bucket* —
  * exact dedup buckets by content hash; near-dup buckets by MinHash
  * band, SimHash band, or hyperplane LSH. All-pairs comparison happens
  * only *within* buckets (candidate pairs), never globally. Hot-bucket
  * skew is the known failure mode; the controls differ per operator:
  * the Jaccard inverted index caps posting lists with `maxDocFreq`
  * (observable df-cut — see [[jaccardPairs]]); the MinHash/SimHash
  * band keys derive from 60-bit signatures, so a hot band means a
  * genuine near-dup clique (the quadratic cost IS the answer's size).
  * MinHash pairs come from one posting list per (band, key); the
  * SimHash band self-join leaves moderate residual skew to AQE's
  * skew-join at runtime.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id, report
    * multiplicity. One hash-aggregate shuffle on a 128-bit key —
    * optimal at any scale (map-side partial agg shrinks the shuffle to
    * ~|distinct| rows).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, corpus form: the input rows minus all-but-first of
    * each content group (keep = smallest id). What a training-data
    * pipeline actually materializes; [[exact]] is the report form.
    * One window over the 128-bit content hash — same single shuffle
    * as the aggregate, but rows survive with all their columns.
    */
  def keepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** LAYERED-DEDUP YIELD REPORT (the "onion" every curation pipeline
    * publishes): run the cheap exact layer first, the sketch-based
    * near-dup layer on its survivors, and report per layer how much
    * of the corpus each peel removed — the number that justifies (or
    * kills) each layer's compute budget. Layer 1 = [[keepFirst]]
    * exact content dedup; layer 2 = MinHash near-dup with the
    * ONE-SHOT doc_b drop policy: a doc drops iff it appears as the
    * higher id in ANY MinHash pair — i.e. it is a near-duplicate of
    * any lower-id doc, survivor or not (chain A–B, B–C drops BOTH B
    * and C; the sequential greedy that re-checks survivorship would
    * keep C). This is the single anti-join convention production
    * pipelines run between full CC rebuilds — one pass, no
    * iteration; [[connectedClusters]] + reps is the exact transitive
    * alternative this report deliberately is not.
    *
    * Scale shape: layer 1 is one content-hash window; layer 2's pair
    * generation is the banded [[minHashPairs]] (never all-pairs) and
    * the keep policy is one id-width anti-join; every count is a
    * 1-row aggregate crossed into the bounded 2-row report.
    */
  def onionReport(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, numBands: Int = 16,
                  rowsPerBand: Int = 4, threshold: Double = 0.6): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val n0 = docs.agg(count(lit(1)).as("n")) // 1-row scalar
    val l1 = keepFirst(docs.select(col(idCol), col(textCol)), idCol, textCol)
      .localCheckpoint() // consumed by the count AND the pair layer
    val n1 = l1.agg(count(lit(1)).as("n"))
    val pairs = minHashPairs(l1, idCol, textCol, shingleN, numBands,
      rowsPerBand, threshold)
    val l2 = l1.join(pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val n2 = l2.agg(count(lit(1)).as("n"))
    def layer(name: String, nin: DataFrame, nout: DataFrame) =
      nin.select(col("n").as("n_in"))
        .crossJoin(broadcast(nout.select(col("n").as("n_out")))) // 1-row
        .select(lit(name).as("layer"), col("n_in"),
          (col("n_in") - col("n_out")).as("n_removed"), col("n_out"),
          round((d(col("n_in")) - d(col("n_out"))) / d(col("n_in")), 6)
            .as("removal_rate"))
    layer("1_exact", n0, n1).unionByName(layer("2_near_dup", n1, n2))
  }

  /** Word-shingle Jaccard near-dup pairs, exact via an inverted
    * index: posting list per shingle hash, ordered doc pairs from
    * each list, count co-occurrences, Jaccard = |∩| / (|A|+|B|−|∩|).
    *
    * Docs carry their shingle count into the posting lists, so no
    * sizes-table joins: the whole op is two shuffles (groupBy shingle,
    * groupBy pair) plus a spread-repartition. Quadratic cost
    * concentrates in high-document-frequency shingles; `maxDocFreq`
    * drops them (a shingle shared by >maxDocFreq docs is a
    * stopword-shingle carrying ~zero similarity signal — standard
    * df-cut). The default is 200: a single hot shingle at df=10000
    * would explode into C(10000,2) ≈ 5·10⁷ pairs — the op that falls
    * over first at 100×. The cut is NOT silent: the posting-list stage
    * carries an `observe` metric (`jaccard_df_cut_<n>`, unique per
    * invocation so plans composing several jaccard ops stay
    * analyzable: dropped_shingles / max_doc_freq_seen) readable via
    * QueryExecutionListener. The cut is part of the operator's
    * SEMANTICS, not an approximation — correctness oracles replicate
    * it (HAVING df BETWEEN 2 AND maxDocFreq); the 100 TB path is
    * [[minHashPairs]] (same answer shape, LSH candidates only).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double, maxDocFreq: Int = 200): DataFrame = {
    // shingles carry their 64-bit hash, not the string: smaller
    // shuffle and long-vs-long compares; intersection counts are
    // unchanged short of a 2^-64 collision. Each doc's shingle count
    // rides along in the posting lists, so Jaccard needs no
    // sizes-table joins — the whole op is exactly two shuffles
    // (groupBy shingle, groupBy pair).
    // n_sh is projected BEFORE the explode so the shingle array does
    // not ride through the Generate (copied into every exploded row)
    val sh = shingleHashRows(docs, idCol, wordShinglesFast(col(textCol), n))
    jaccardFromShingleHashes(sh, docs, threshold, maxDocFreq)
  }

  /** Char n-gram Jaccard near-dup pairs — same exact inverted-index
    * pipeline as [[jaccardPairs]] over character shingles
    * (charShinglesFast): robust to tokenization differences /
    * whitespace mangling that word shingles miss. Char grams are
    * denser, so thresholds run higher than word-shingle thresholds.
    */
  def jaccardPairsChar(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double, maxDocFreq: Int = 200): DataFrame = {
    val sh = shingleHashRows(docs, idCol, charShinglesFast(col(textCol), n))
    jaccardFromShingleHashes(sh, docs, threshold, maxDocFreq)
  }

  /** (doc, n_sh, h) rows: one codegen'd regex pass + explode + one
    * codegen'd string hash per (doc, shingle). n_sh is projected
    * BEFORE the explode so the shingle array does not ride through the
    * Generate (copied into every exploded row).
    */
  private def shingleHashRows(docs: DataFrame, idCol: String, shingles: Column): DataFrame =
    docs
      .select(col(idCol).as("doc"), shingles.as("shs"))
      .select(col("doc"), size(col("shs")).as("n_sh"), col("shs"))
      .select(col("doc"), col("n_sh"), explode(col("shs")).as("s"))
      .select(col("doc"), col("n_sh"), xxhash64(col("s")).as("h"))

  /** Observed-metric names must be unique per query plan; a counter
    * suffix lets one plan compose several jaccard ops (word + char,
    * or the same op twice) without an analysis failure.
    */
  private val dfCutMetricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def jaccardFromShingleHashes(sh: DataFrame, docs: DataFrame,
                                       threshold: Double, maxDocFreq: Int): DataFrame = {
    // posting list per shingle: the aggregation is simultaneously the
    // inverted index, the sizes carrier, and the df-cut (lists longer
    // than maxDocFreq are stopword-shingles — dropped). Multi-doc
    // lists are a small fraction of the corpus, so AQE would coalesce
    // them onto few tasks; the pair explode amplifies C(df,2)-fold,
    // so spread lists across full parallelism BEFORE exploding.
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val postings = sh.groupBy("h")
      .agg(collect_list(struct(col("doc"), col("n_sh"))).as("ds"))
      // no silent cap: CollectMetrics is a free pass-through aggregate
      // (no extra job); listeners see how many shingles the df-cut
      // dropped and the hottest df observed
      .observe(s"jaccard_df_cut_${dfCutMetricSeq.incrementAndGet()}",
        sum(when(size(col("ds")) > maxDocFreq, 1L).otherwise(0L)).as("dropped_shingles"),
        max(size(col("ds"))).as("max_doc_freq_seen"))
      .where(size(col("ds")).between(2, maxDocFreq))
      .repartition(nPart)
    // ordered pairs via codegen'd double-explode (no join, no
    // interpreted higher-order functions in the hot path).
    // r14 length-ratio prune (guide §2.3 — shuffle fewer bytes):
    // J(A,B) = |∩|/(|A|+|B|−|∩|) ≤ min(|A|,|B|)/max(|A|,|B|) (the
    // intersection is at most the smaller set), so a pair whose size
    // ratio cannot reach the threshold is dropped BEFORE the pair
    // aggregate's exchange — the standard exact length filter of the
    // prefix-filtering literature. Lossless even under the round(·,6)
    // output: round(j,6) ≥ t implies j ≥ t − 5·10⁻⁷, so pruning only
    // ratio < t − 10⁻⁶ can never drop a reportable pair.
    val pairs = postings
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .where(col("a.doc") < col("b.doc") &&
        least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
          (lit(threshold) - lit(1e-6)) *
            greatest(col("a.n_sh"), col("b.n_sh")).cast("double"))
      .select(col("a.doc").as("doc_a"), col("a.n_sh").as("n_a"),
              col("b.doc").as("doc_b"), col("b.n_sh").as("n_b"))
    pairs
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Modulus of the MinHash permutation family, the Mersenne prime
    * 2^31−1 ([[graft.plans.MinHashBandKeys.P]]). The identical
    * arithmetic runs in plain SQL, which is what lets [[minHashPairs]]
    * carry a FULL DuckDB oracle (the oracle reproduces the banding, so
    * both engines compute the same candidate set by construction, not
    * by recall luck).
    */
  private[graft] val MinHashP: Long = graft.plans.MinHashBandKeys.P

  /** Affine-permutation multipliers/offsets over mod-[[MinHashP]]
    * ([[graft.plans.MinHashBandKeys.consts]]).
    */
  private[graft] def minHashConsts(n: Int, seed: Long): IndexedSeq[(Long, Long)] =
    graft.plans.MinHashBandKeys.consts(n, seed)

  /** MinHash signature from a pre-hashed shingle column: the
    * numHashes permutation mins of the native kernel
    * (graft.plans.MinHashBandKeys) with one row per band — a
    * one-row band key is the min itself. Raw xxhash64 values are fine
    * (the kernel reduces them with pmod). Pure column expression, no
    * driver state — a doc's signature is computable in isolation, so
    * this runs identically in batch and streaming. An array with no
    * hash gives an empty signature; a null array gives null.
    */
  def minHashSignature(hashes: Column, numHashes: Int): Column =
    minHashBandKeys(hashes, numHashes, 1)

  private def minHashBandKeys(hashes: Column, numBands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.MinHashBandKeys(
      org.apache.spark.sql.graft.ColumnBridge.expression(hashes), numBands, rowsPerBand))

  /** MinHash + LSH banding near-dup pairs (the scale path).
    *
    * per document: shingle hashes → band keys (one native kernel:
    * numBands·rowsPerBand permutation mins, each band's slice folded to
    * one key) → (band, key) posting lists → candidate pairs → exact
    * Jaccard verification on candidates only. P(candidate | J=s) =
    * 1 − (1 − s^r)^b; with the 16×4 defaults that is ≈0.89 at J=0.6
    * and ≈1 at J≥0.9 — recall is structural only well above the
    * banding design point. The DuckDB oracle therefore REPLAYS the
    * banding (same hashes, same permutations, same band keys) instead
    * of assuming recall=1 against exact Jaccard.
    *
    * The corpus is shingled once, in a narrow per-document projection
    * with no aggregate; the posting-list aggregate shuffles 8-byte keys
    * and ids. Verification shingles again only the documents that
    * appear in a candidate pair (a semi-join on their ids), so the
    * candidate set, not the corpus, pays the intersection cost.
    * `idCol` must be a key of `docs`.
    */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numBands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.6,
                   engineNeutralHash: Boolean = true): DataFrame = {
    def docTable(d: DataFrame) = minHashDocTable(d, idCol, textCol, shingleN, engineNeutralHash)
    val candidates = bucketPairs(bandKeyTable(docTable(docs), numBands, rowsPerBand))
    val ids = candidates.select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    // the exchange materializes the candidate docs' shingles once for
    // both sides of every pair, and gives AQE their size to plan by
    val shingleTable = docTable(docs.join(ids, Seq(idCol), "left_semi"))
      .repartition(col("doc"))
    verifyJaccard(candidates, shingleTable, shingleTable, threshold)
  }

  /** Cross-corpus MinHash contamination report: near-dup (corpus,
    * probe) pairs — the doc-LEVEL benchmark-decontamination companion
    * to [[TextAnalysis]]'s n-gram overlap check. Identical band-key
    * kernel and verification as [[minHashPairs]] (the DuckDB oracle
    * replays it the same way); the only structural difference is that
    * band keys join ACROSS the two tables instead of forming posting
    * lists, so cost is |corpus buckets| ⋈ |probe buckets| — the probe
    * side (a benchmark) is typically tiny and its banded table
    * broadcasts. Each side is shingled once for banding, and again
    * only for its documents in a candidate pair. Pairs where both
    * sides carry the same id are excluded (callers probing a corpus
    * against its own slice).
    */
  def minHashCrossPairs(corpus: DataFrame, probe: DataFrame, idCol: String,
                        textCol: String, shingleN: Int = 3,
                        numBands: Int = 16, rowsPerBand: Int = 4,
                        threshold: Double = 0.6,
                        engineNeutralHash: Boolean = true): DataFrame = {
    def docTable(d: DataFrame) = minHashDocTable(d, idCol, textCol, shingleN, engineNeutralHash)
    // explicit hint: the probe side is a benchmark (small) by
    // contract, and auto-broadcast can't size a kernel+explode plan
    // reliably — without the hint a mis-estimate shuffles the full
    // corpus banded table instead
    val candidates = bandKeyTable(docTable(corpus), numBands, rowsPerBand).as("a")
      .join(broadcast(bandKeyTable(docTable(probe), numBands, rowsPerBand)).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(candidates,
      docTable(corpus.join(candidates.select(col("doc_a").as(idCol)), Seq(idCol), "left_semi")),
      docTable(probe.join(candidates.select(col("doc_b").as(idCol)), Seq(idCol), "left_semi")),
      threshold)
  }

  /** Exact cross-corpus containment: for every (corpus doc, probe
    * doc) pair, the fraction of the PROBE doc's shingles found in the
    * corpus doc — the quote/superset contamination metric Jaccard
    * misses when the training doc is much longer than the benchmark
    * doc it swallowed. No banding and no sketch: the probe side is a
    * benchmark (small), so its shingle rows broadcast and the join is
    * exact — recall 1.0 by construction, where MinHash-based
    * containment would under-recall exactly the long-doc case it
    * exists for. A corpus-side df-cut (shingles in > maxDocFreq
    * corpus docs are boilerplate) bounds the join fan-out; the tiny
    * hot-shingle set broadcasts as an anti-join. The cut is part of
    * the semantics and the oracle replicates it.
    *
    * Metric bias (by design — tune `minContainment` accordingly): the
    * df-cut removes hot shingles from the intersection NUMERATOR
    * while the probe doc's FULL shingle count stays the denominator,
    * so the score reads LOW versus true containment for probe docs
    * dominated by boilerplate shingles — a probe doc whose shingles
    * are all hot can never reach any positive threshold. That is the
    * conservative direction for contamination screening (boilerplate
    * overlap is exactly what the metric should not reward), but
    * callers comparing against an uncut containment number must
    * expect the gap. `informativeDenominator = true` removes the
    * bias by normalizing over only the probe shingles that SURVIVE
    * the df-cut ("containment among informative shingles" — the
    * numerator and denominator then share the same universe): a
    * probe doc that is 90% boilerplate plus a fully-contained quote
    * scores 1.0 instead of 0.1. A probe doc whose every shingle is
    * hot has an empty denominator and is ABSENT from the output
    * (there is nothing informative to measure).
    */
  def crossContainment(corpus: DataFrame, probe: DataFrame, idCol: String,
                       textCol: String, shingleN: Int = 3,
                       minContainment: Double = 0.5,
                       maxDocFreq: Int = 1000,
                       informativeDenominator: Boolean = false): DataFrame = {
    val cSh = shingleHashRows(corpus, idCol, wordShinglesFast(col(textCol), shingleN))
    val pSh = shingleHashRows(probe, idCol, wordShinglesFast(col(textCol), shingleN))
    val hot = cSh.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)
      .select("h")
    val cut = cSh.join(broadcast(hot), Seq("h"), "left_anti")
    if (!informativeDenominator) {
      cut
        .join(broadcast(pSh.select(col("h"), col("doc").as("pdoc"),
                                   col("n_sh").as("p_n"))), "h")
        .groupBy(col("doc").as("doc_a"), col("pdoc").as("doc_b"), col("p_n"))
        .agg(count(lit(1)).as("n_common"))
        .withColumn("containment", round(col("n_common") / col("p_n"), 6))
        .where(col("containment") >= minContainment)
        .select("doc_a", "doc_b", "containment")
    } else {
      // denominator = the probe doc's shingles NOT hot in the corpus
      // (same universe as the numerator); both sides of the ratio are
      // exact counts off the cut tables, so the score stays
      // oracle-replayable
      val pCut = pSh.join(broadcast(hot), Seq("h"), "left_anti")
      val pDen = pCut.groupBy(col("doc").as("pdoc"))
        .agg(count(lit(1)).as("p_n"))
      cut
        .join(broadcast(pCut.select(col("h"), col("doc").as("pdoc"))), "h")
        .groupBy(col("doc").as("doc_a"), col("pdoc").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(pDen), col("doc_b") === col("pdoc"))
        .withColumn("containment", round(col("n_common") / col("p_n"), 6))
        .where(col("containment") >= minContainment)
        .select("doc_a", "doc_b", "containment")
    }
  }

  /** (doc, sh): each document's distinct shingle hashes, one narrow
    * per-document projection — no aggregate, no shuffle.
    *
    * One codegen'd regex pass yields the doc's distinct shingles and
    * each is hashed once. The default md5 hash (60 bits, like simhash)
    * keeps the ENTIRE pipeline — permutations, band keys, verification
    * intersections — engine-neutral, so the DuckDB oracle replays it
    * exactly; engineNeutralHash=false swaps in xxhash64 (~2× cheaper
    * string hash, same pipeline, same recall characteristics) for
    * production callers that don't need a SQL twin. The fast path keeps
    * the RAW 64-bit xxhash64: verification intersects these values, and
    * reducing them mod 2^31−1 first would raise false-collision odds
    * from ~2^-64 to ~2^-31 per pair; the band-key kernel reduces them
    * with pmod itself. The hashes are made distinct (two shingles that
    * collide count once), so `size(sh)` is the set size verification
    * divides by. A doc with no shingle has an empty `sh`, hence no
    * band keys.
    */
  private def minHashDocTable(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, engineNeutralHash: Boolean): DataFrame = {
    val shingleHash: Column => Column =
      if (engineNeutralHash) md5Prefix64 else s => xxhash64(s)
    docs.select(col(idCol).as("doc"),
      array_distinct(transform(wordShinglesFast(col(textCol), shingleN), shingleHash)).as("sh"))
  }

  /** (doc, band, key) rows of a [[minHashDocTable]]: the band-key
    * kernel per document, exploded with the band index. The shingle
    * arrays do not ride along — only 8-byte keys reach the banding
    * shuffle. A cross-band key collision only adds a candidate that
    * exact verification then filters — in BOTH engines alike.
    */
  private def bandKeyTable(docTable: DataFrame, numBands: Int,
                           rowsPerBand: Int): DataFrame =
    docTable.select(col("doc"),
      posexplode(minHashBandKeys(col("sh"), numBands, rowsPerBand)).as(Seq("band", "key")))

  /** Distinct (doc_a < doc_b) pairs sharing a bucket of a
    * [[bandKeyTable]]: one posting list per (band, key), pairs from
    * every list of two or more docs. The banded table is read once —
    * a self-join would recompute it for each side.
    */
  private def bucketPairs(banded: DataFrame): DataFrame =
    banded.groupBy("band", "key").agg(collect_list(col("doc")).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()

  /** LSH banding calibration sweep — the [[minHashPairs]] tuning
    * artifact: for each (bands, rows) split of the SAME signature
    * width, the theoretical s-curve midpoint s₅₀ = (1/b)^(1/r), the
    * measured candidate-pair count, how many candidates survive
    * exact-Jaccard verification at `verifyThreshold`, and the
    * resulting precision. More bands → lower s₅₀ → more candidates
    * and lower precision: this table is how you pick the banding
    * before paying for a corpus-scale run (the MinHash twin of the
    * IVF nprobe sweep).
    *
    * One materialized shingle-hash table is shared by every
    * configuration (the signature width is the configs' common
    * product — enforced); each arm pays only its own band-key kernel,
    * posting lists and verification. Candidate tables are materialized
    * once (consumed by both the count and the verification).
    */
  def minHashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3,
                         configs: Seq[(Int, Int)] = Seq((16, 2), (8, 4), (4, 8)),
                         verifyThreshold: Double = 0.12): DataFrame = {
    def d(c: Column) = c.cast("double")
    val numHashes = configs.head._1 * configs.head._2
    require(configs.forall { case (b, r) => b * r == numHashes },
      s"all configs must split the same signature width $numHashes")
    val docTable = minHashDocTable(docs, idCol, textCol, shingleN,
      engineNeutralHash = true).localCheckpoint()
    configs.map { case (b, r) =>
      val cands = bucketPairs(bandKeyTable(docTable, b, r))
        .localCheckpoint() // consumed twice: count + verification
      val nCand = cands.agg(count(lit(1)).as("n_candidates"))
      val nVer = verifyJaccard(cands, docTable, docTable, verifyThreshold)
        .agg(count(lit(1)).as("n_verified"))
      val s50 = BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      nCand.crossJoin(broadcast(nVer)) // 1-row scalars
        .select(lit(b.toLong).as("num_bands"), lit(r.toLong).as("rows_per_band"),
          lit(s50).as("s50"), col("n_candidates"), col("n_verified"),
          when(col("n_candidates") > 0,
            round(d(col("n_verified")) / d(col("n_candidates")), 6))
            .as("precision"))
    }.reduce(_ unionByName _)
  }

  /** Exact Jaccard verification of candidate pairs against the two
    * sides' (doc, sh) shingle-set tables — only the candidate set
    * (never the corpus) pays the intersection cost.
    */
  private def verifyJaccard(candidates: DataFrame, left: DataFrame,
                            right: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(left.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(right.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("n_common") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** SimHash of a token multiset: bit j of the signature is the sign
    * of Σ_tokens (bit j of hash(token) ? +1 : −1). Per-row HOF fold —
    * shuffle-free but interpreted; prefer [[simHashTable]] for
    * corpus-scale signature computation (same hash, same bits).
    */
  def simHash(tokensCol: Column): Column = {
    val counts = aggregate(
      tokensCol,
      array_repeat(lit(0L), SimHashBits),
      (acc, t) => {
        val h = md5Prefix64(t)
        zip_with(acc, sequence(lit(0), lit(SimHashBits - 1)),
          (a, j) => a + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      }
    )
    aggregate(
      zip_with(counts, sequence(lit(0), lit(SimHashBits - 1)),
        (c, j) => when(c >= 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), _.bitwiseOR(_))
  }

  /** Signature width: 60 bits = 15 md5 hex chars. md5 (not xxhash64)
    * keeps the token hash engine-neutral, so the ENTIRE simhash
    * pipeline — signatures, banding, hamming — is reproducible in
    * plain SQL and carries a full DuckDB oracle (pigeonhole banding
    * is exact, not lossy: every pair within the radius is found).
    * 60 divides evenly into the (maxHamming+1)=4 bands of 15 bits.
    */
  val SimHashBits = 60

  /** Corpus SimHash signatures via explode + ONE typed aggregate:
    * token rows hash once (codegen'd md5 + conv), then a single
    * `Aggregator` accumulates all per-bit ±1 counts in one primitive
    * long[60] buffer (graft.functions.Aggregators.SimHashSig) with
    * map-side partial aggregation — versus the previous 60 separate
    * SUM(CASE…) columns, this is one aggregate expression and one
    * array-typed partial instead of 60 wide long columns. ~20× faster
    * than the per-row HOF fold; bit semantics unchanged (bit j set iff
    * Σ±1 ≥ 0), so the DuckDB oracle's 60 bit-sum columns still match.
    * Docs with no tokens produce no signature.
    */
  def simHashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("tk"))
      .withColumn("h", md5Prefix64(col("tk")))
    tok.groupBy(col("doc"))
      .agg(graft.functions.Aggregators.simhashSig(col("h"), SimHashBits).as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Banding by pigeonhole: split the signature into (maxHamming+1)
    * bands — any pair within distance k agrees exactly on ≥1 band, so
    * the candidate set is COMPLETE (this is a partition-pruning
    * technique, not a lossy sketch). Join on (band, bandBits), verify
    * with bit_count(xor). Same bucket-join-verify shape as MinHash;
    * signatures are 8 bytes, so the shuffle is tiny even at 100 TB.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val banded = simHashBanded(simHashTable(docs, idCol, textCol), maxHamming)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** EDIT-DISTANCE near-dup pairs: [[simHashPairs]] candidates
    * verified by exact Levenshtein distance ≤ `maxDist` — the
    * strictest near-dup predicate in the family (Jaccard and SimHash
    * are bag-of-tokens views; edit distance sees ORDER and catches
    * small in-place edits while rejecting shuffled bags with the
    * same vocabulary). The classic two-stage shape: cheap complete
    * candidates (pigeonhole banding), expensive exact verify — the
    * O(len²) DP runs only on banded pairs, never corpus-quadratic,
    * and Spark's thresholded `levenshtein` abandons a pair as soon
    * as the running distance exceeds `maxDist` (the oracle computes
    * the full distance and filters — same kept set and identical
    * distances within the threshold).
    *
    * Caveat (documented contract): Spark counts CODEPOINTS while the
    * DuckDB twin counts bytes — identical on ASCII corpora (the
    * fixture; spec-pinned), divergent on multi-byte text. Candidate
    * completeness is [[simHashPairs]]' pigeonhole bound: an edit
    * within `maxDist` chars can still flip > maxHamming signature
    * bits for SHORT docs (few tokens), so the pair set is complete
    * w.r.t. the SimHash ball, not the raw edit ball — the standard
    * two-stage trade, stated rather than hidden.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, maxDist: Int = 6): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val cand = simHashPairs(docs, idCol, textCol, maxHamming)
    val txt = docs.select(col(idCol).as("doc"), col(textCol).as("txt"))
    cand
      .join(txt.select(col("doc").as("doc_a"), col("txt").as("ta")), "doc_a")
      .join(txt.select(col("doc").as("doc_b"), col("txt").as("tb")), "doc_b")
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .where(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select("doc_a", "doc_b", "hamming", "edit_dist")
  }

  /** The pigeonhole band explode over a `(doc, sig)` signature table —
    * shared by the self-join ([[simHashPairs]]) and the probe-join
    * ([[simHashPairsAgainst]]) forms.
    */
  private def simHashBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = SimHashBits / nBands
    sigs.select(
      col("doc"), col("sig"),
      explode(transform(sequence(lit(0), lit(nBands - 1)),
        b => struct(b.as("band"),
          call_function("shiftrightunsigned", col("sig"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("key")))).as("bk"))
      .select(col("doc"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** SimHash near-dup pairs BETWEEN a probe signature set and a corpus
    * signature set (probe ⊆ corpus allowed): every returned pair
    * touches a probe doc, normalized to `doc_a < doc_b`. This is the
    * incremental-ingest shape — only the NEW docs' band keys probe the
    * accumulated signature store, so per-batch cost follows the batch,
    * not the corpus. Completeness is the same pigeonhole argument as
    * [[simHashPairs]]; signatures come from [[simHashTable]] and are
    * append-only (a doc's signature never changes), which is what
    * makes the store maintainable by plain parquet appends.
    */
  def simHashPairsAgainst(probeSigs: DataFrame, corpusSigs: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    val pa = simHashBanded(probeSigs, maxHamming)
    val ca = simHashBanded(corpusSigs, maxHamming)
    pa.as("a")
      .join(ca.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
              greatest(col("a.doc"), col("b.doc")).as("doc_b"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected components over a near-dup pair graph: every doc gets
    * `cluster_id` = the smallest doc id reachable through pairs
    * (singletons cluster with themselves). This is what a dedup
    * pipeline actually materializes — keep `doc_id == cluster_id`, or
    * pick per-cluster representatives by any policy.
    *
    * Algorithm: while the edge set is larger than a fixed bound (2^20
    * edges, which bounds one task's memory), alternating
    * large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the standard
    * distributed CC. They converge in O(log n) rounds regardless of
    * component DIAMETER; min-label propagation (the naive alternative)
    * needs O(diameter) rounds, pathological for chain-shaped duplicate
    * graphs (templated docs where each revision pairs only with its
    * neighbors). Each round is two join+aggregate passes over the edge
    * set, and edges only ever re-point toward smaller ids. Once the
    * edge count is at or below the bound (before the first round, on
    * any input that small), a single task finishes: union-find over
    * the edges read as one partition. Either way every non-root ends
    * up pointing DIRECTLY at its component minimum — the label lookup
    * is then one left join.
    *
    * Fault tolerance: pass `checkpointDir` to cut lineage with
    * RELIABLE `checkpoint()` writes (survive executor loss — the right
    * mode on a real cluster) of the input edges, of every round above
    * the bound and of the single task's result; the default
    * `localCheckpoint` (executor-local blocks) is the low-overhead
    * local-mode stand-in. Either way executor storage stays
    * O(|edges|), not O(rounds·|edges|) ([[Rounds.release]]).
    */
  def connectedClusters(vertices: DataFrame, idCol: String, pairs: DataFrame,
                        checkpointDir: Option[String] = None): DataFrame = {
    val ids = vertices.select(col(idCol).as("doc_id"))
    val stars = starEdges(inducedPairs(ids, pairs), checkpointDir)._1
    ids
      .join(stars.select(col("u").as("doc_id"), col("v").as("root")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** The terminal dedup step: keep ONE document per connected
    * near-dup cluster (the minimum id — any deterministic policy
    * works), dropping every other cluster member. The star edges of
    * [[connectedClusters]] name exactly the non-root members (every
    * `u` is a member whose cluster minimum is smaller), so the corpus
    * is one left anti-join against their `u` column; rows with a null
    * id are dropped, as no cluster holds them. The join's build side
    * is O(|docs in pairs|), not O(|docs|): singletons never enter it.
    */
  def keepClusterRepresentatives(docs: DataFrame, idCol: String,
                                 pairs: DataFrame,
                                 checkpointDir: Option[String] = None): DataFrame = {
    val stars = starEdges(inducedPairs(docs.select(col(idCol).as("doc_id")), pairs),
      checkpointDir)._1
    docs.where(col(idCol).isNotNull)
      .join(stars.select(col("u").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The pair graph INDUCED on a vertex set (`ids`' `doc_id`): edges
    * touching ids outside it are dropped, so every cluster minimum is
    * a member id (a pair endpoint filtered out of the corpus upstream
    * must not become a phantom cluster minimum that no representative
    * filter can match).
    */
  private def inducedPairs(ids: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")

  /** Materialize the near-dup cluster map (doc_id → cluster_id) to
    * parquet. The map is the artifact a real dedup pipeline serves
    * from: the expensive pair graph + connected components runs ONCE
    * at write time, and every consumer afterwards — representative
    * keeping, cluster-size stats, audit joins — is a plain scan of a
    * two-column table (tiny relative to the corpus). The
    * [[writeIvfIndex]]/[[TextAnalysis.writeBm25Index]] discipline
    * applied to dedup.
    */
  def writeClusterMap(docs: DataFrame, idCol: String, pairs: DataFrame,
                      path: String,
                      checkpointDir: Option[String] = None): Unit =
    connectedClusters(docs, idCol, pairs, checkpointDir)
      .write.mode("overwrite").parquet(path)

  /** [[writeClusterMap]] only if the map isn't already on disk (the
    * `_SUCCESS`-marker convention). `pairs` is a lazy plan — when the
    * map exists, nothing of the pair pipeline is ever evaluated, so
    * repeated callers (cluster listing AND representative keeping in
    * one job) pay for clustering exactly once.
    */
  def ensureClusterMap(docs: DataFrame, idCol: String, pairs: => DataFrame,
                       path: String,
                       checkpointDir: Option[String] = None): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writeClusterMap(docs, idCol, pairs, path, checkpointDir)
  }

  /** UPSERT a document delta into a materialized [[writeClusterMap]]
    * map WITHOUT recomputing the old corpus's pair graph — the
    * [[Similarity.appendIvfDelta]] discipline applied to clustering.
    * The old map IS a compressed, connectivity-preserving form of the
    * old pair graph (each non-root points at its component minimum),
    * so components of (old star edges ∪ delta pairs) over (old ids ∪
    * new ids) equal components of the FULL pair graph — and since
    * every old root is its component's minimum id, the merged
    * components' labels come out identical to a from-scratch rebuild.
    * The caller supplies `newPairs` = every near-dup pair TOUCHING a
    * new doc (new-new and new-old alike; at scale that's a banding
    * probe of the new docs against the corpus index, not a corpus
    * self-join).
    *
    * Merges can relabel members of any old component a new doc
    * bridges, so the map rewrites whole — it is two columns of ids,
    * compressed-tiny relative to the corpus; what the upsert avoids
    * is the corpus-sized pair GENERATION, which dwarfs it. The
    * rewrite localCheckpoints before overwriting the path it read
    * (the self-overwrite hazard), and the parquet `_SUCCESS` the
    * overwrite drops doubles as the [[ensureClusterMap]] marker —
    * a crash mid-rewrite leaves a marker-less map that ensure
    * rebuilds from scratch.
    *
    * Append-only contract: a RE-INGESTED doc whose text changed would
    * need its old pairs invalidated, which a pair-less map cannot
    * express — rebuild for that case (documented, like the frozen IVF
    * quantizer).
    */
  def appendClusterDelta(newDocs: DataFrame, idCol: String,
                         newPairs: DataFrame, path: String,
                         checkpointDir: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val oldMap = spark.read.parquet(path)
    val vertices = oldMap.select(col("doc_id"))
      .union(newDocs.select(col(idCol).as("doc_id")))
      .distinct()
    val oldStars = oldMap.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val next = connectedClusters(vertices, "doc_id",
        oldStars.unionByName(newPairs.select(col("doc_a"), col("doc_b"))),
        checkpointDir)
      .localCheckpoint() // materialize BEFORE overwriting what we read
    next.write.mode("overwrite").parquet(path)
    Rounds.release(next)
  }

  /** Representative keeping served FROM a materialized
    * [[writeClusterMap]] map: one semi-join of the corpus against the
    * map's roots (`doc_id == cluster_id`). No pair computation, no
    * components — the map already holds the answer; the join shuffles
    * ids, not documents.
    */
  def keepRepresentativesFromMap(docs: DataFrame, idCol: String,
                                 mapPath: String): DataFrame = {
    val clusters = docs.sparkSession.read.parquet(mapPath)
    docs.join(
      clusters.where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Keep the BEST document per cluster by an arbitrary score column
    * — the production dedup policy (keep the highest-quality copy,
    * not the smallest id), served from a materialized
    * [[writeClusterMap]] map like [[keepRepresentativesFromMap]]:
    * one equi-join of the scored corpus against the tiny map, then a
    * rank window PARTITIONED BY cluster_id (per-cluster work, never a
    * global sort). Ties break on the id, so the winner is
    * deterministic on rounded scores.
    */
  def keepBestFromMap(scoredDocs: DataFrame, idCol: String, scoreCol: String,
                      mapPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = scoredDocs.sparkSession.read.parquet(mapPath)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val w = Window.partitionBy("cluster_id").orderBy(desc(scoreCol), col(idCol))
    scoredDocs.join(clusters, Seq(idCol))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Soft dedup for training mixes (the SemDeDup/D4 weighting idea):
    * instead of DROPPING near-duplicates, every doc keeps weight
    * 1/|its cluster| from the materialized cluster map, so each
    * near-dup GROUP contributes one doc-equivalent of training mass
    * and no information is discarded outright. The downstream sampler
    * consumes the weight column directly. Third consumer of the
    * cluster-map artifact (with representative- and best-keeping) —
    * one map-sized join, no recompute of the pair pipeline.
    */
  def duplicationWeightsFromMap(spark: org.apache.spark.sql.SparkSession,
                                mapPath: String): DataFrame = {
    val clusters = spark.read.parquet(mapPath).select(col("doc_id"), col("cluster_id"))
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** CONTRASTIVE-PAIR dataset construction off the materialized
    * cluster map — the embedding-model training feed: positives are
    * the near-dup cluster-mate pairs (the map's whole point: pairs a
    * human would call "the same document"), and each distinct anchor
    * draws ONE deterministic negative — the doc sitting half an
    * epoch away in the [[Sampling.epochShuffle]] order (a seeded
    * pseudo-random partner both engines can replay), DROPPED if it
    * lands in the anchor's own cluster (a "negative" that's actually
    * a near-dup would poison the loss). Fourth consumer of the
    * cluster-map artifact.
    *
    * Scale shape: positives are a map-sized self-join keyed by
    * cluster; negatives ride the shuffle's rank machinery plus two
    * map-sized lookups; nothing re-touches text or signatures.
    */
  def contrastivePairsFromMap(spark: org.apache.spark.sql.SparkSession,
                              docs: DataFrame, idCol: String,
                              mapPath: String, seed: String): DataFrame = {
    val cl = spark.read.parquet(mapPath).select("doc_id", "cluster_id")
    val pos = cl.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca"))
      .join(cl.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")),
        col("ca") === col("cb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val shuf = Sampling.epochShuffle(docs, idCol, seed)
    val neg = pos.select(col("doc_a")).distinct()
      .join(shuf.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .crossJoin(broadcast(shuf.agg(count(lit(1)).as("n")))) // 1-row scalar
      .withColumn("tp", expr("(position + n div 2) % n"))
      .join(shuf.select(col("position").as("tp"), col("doc_id").as("doc_b")),
        "tp")
      .join(cl.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")),
        "doc_a")
      .join(cl.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")),
        "doc_b")
      .where(col("ca") =!= col("cb"))
      .select(col("doc_a"), col("doc_b"))
    pos.withColumn("label", lit("pos"))
      .unionByName(neg.withColumn("label", lit("neg")))
  }

  /** The edge count at or below which [[starEdges]] finishes in one
    * task: union-find holds every node of the edge set in that task's
    * memory (about 2^21 ids at most).
    */
  private val LocalEdges = 1L << 20

  /** Connected components as star edges (every edge (u, v) has v = u's
    * component minimum, one edge per non-minimum node) and the number
    * of large-star/small-star rounds run before a single task finished
    * — exposed so tests can assert the logarithmic round count on
    * high-diameter graphs (with `localEdges` = 0, rounds only).
    */
  private[graft] def starEdges(pairs: DataFrame, checkpointDir: Option[String],
                               maxRounds: Int = 64,
                               localEdges: Long = LocalEdges): (DataFrame, Int) = {
    var edges = Rounds.materialize(
      pairs.select(greatest(col("doc_a"), col("doc_b")).as("u"),
                   least(col("doc_a"), col("doc_b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct(),
      checkpointDir)
    var nEdges = edges.count()
    var rounds = 0
    var done = nEdges == 0L
    while (!done && nEdges > localEdges && rounds < maxRounds) {
      val next = Rounds.materialize(smallStar(largeStar(edges)), checkpointDir)
      val nNext = next.count()
      // set equality = equal cardinality + (next \ edges) empty; the
      // anti-join probe (a limit-1 job, not a data collect) only runs
      // when the cardinality matched — a changed count is already
      // proof of non-convergence, so non-final rounds pay one job less
      done = nNext == nEdges && next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      Rounds.release(edges)
      edges = next
      nEdges = nNext
      rounds += 1
    }
    if (!done && nEdges <= localEdges) {
      val stars = Rounds.materialize(unionFindStars(edges), checkpointDir)
      Rounds.release(edges)
      edges = stars
      done = true
    }
    // the alternating algorithm provably converges in O(log n) rounds;
    // maxRounds is a runaway backstop — hitting it means a bug, and a
    // silent non-converged label table would be WRONG clusters
    if (!done) throw new IllegalStateException(
      s"connected components did not converge in $maxRounds rounds ($nEdges edges)")
    (edges, rounds)
  }

  /** Star edges of a small (u, v) edge set in ONE task: union-find by
    * the smaller root, with path compression, so every root is its
    * component's minimum; every other node emits (node, root). Ids
    * keep their own type and are ordered by Spark's ordering for it,
    * the one `least`/`greatest` use.
    */
  private def unionFindStars(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val schema = edges.schema
    val idType = schema("u").dataType
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
    val stars = edges.queryExecution.toRdd.coalesce(1).mapPartitions { rows =>
      val index = new java.util.HashMap[Any, Integer]
      val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
      var parent = new Array[Int](1024)
      def node(id: Any): Int = {
        val known = index.get(id)
        if (known != null) known
        else {
          val n = ids.length
          val owned = InternalRow.copyValue(id) // input rows are reused
          index.put(owned, n)
          ids += owned
          if (n == parent.length) parent = java.util.Arrays.copyOf(parent, 2 * n)
          parent(n) = n
          n
        }
      }
      def find(x: Int): Int = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var y = x
        while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
        root
      }
      rows.foreach { r =>
        val a = find(node(r.get(0, idType)))
        val b = find(node(r.get(1, idType)))
        if (a != b) {
          if (ord.lt(ids(a), ids(b))) parent(b) = a else parent(a) = b
        }
      }
      Iterator.range(0, ids.length).flatMap { i =>
        val root = find(i)
        if (root == i) None
        else Some(new GenericInternalRow(Array[Any](ids(i), ids(root))): InternalRow)
      }
    }
    org.apache.spark.sql.graft.ColumnBridge.dataFrame(edges.sparkSession, stars, schema)
  }

  /** Large-star: every node re-points its LARGER neighbors at the
    * minimum of its closed neighborhood. Keeps the (u > v) edge
    * orientation. One union + one aggregate + one equi-join — NO
    * distinct: duplicate (u, v) rows (two sources re-pointing the same
    * node at the same minimum) don't perturb [[smallStar]]'s min
    * aggregates, and smallStar's own distinct canonicalizes the round's
    * output, so deduping here would only add a shuffle per round.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u").as("a"), col("v").as("b"))
      .union(edges.select(col("v").as("a"), col("u").as("b")))
    val mins = nbrs.groupBy("a").agg(least(col("a"), min(col("b"))).as("m"))
    nbrs.join(mins, "a")
      .where(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
  }

  /** Small-star: every node links its SMALLER neighbors (and itself)
    * to the minimum among them. Input and output are (u > v)-oriented.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
    edges.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Embedding near-dup: exact cosine ≥ threshold over all pairs of a
    * (pre-filtered) set. Exact and quadratic — callers restrict the
    * input (correctness oracle) or use [[embeddingPairsLsh]].
    */
  def embeddingPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", round(
        cosineFromParts(dotD(col("a.vec"), col("b.vec")), col("a.nrm"), col("b.nrm")), 6))
      // Spark orders NaN ABOVE every number, so a NaN-poisoned vector
      // would pass `cos >= threshold`; degenerate vectors never pair
      // (matching the streaming twin and emb_quality's guidance)
      .where(!isnan(col("cos")) && col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into k-means
    * cells, compare pairs only WITHIN a cell, connect the
    * above-threshold pairs, and label every vector with its
    * component's minimum id — the semantic cluster map whose
    * non-representative members a curation pipeline drops.
    *
    * Determinism contract (what makes the map oracle-checkable):
    * centroids are the [[Similarity.seedCentroids]] md5-seeded
    * sample; assignment is argmax cosine ROUNDED to 6 before the
    * argmax with ties to the greatest cell — the identical audited
    * arithmetic as `cluster_kmeans_step` / IVF, so the oracle reuses
    * that replay. Pair acceptance rounds to 6 and excludes NaN
    * (degenerate vectors never pair), matching
    * [[embeddingPairsExact]].
    *
    * Scale shape: centroid table broadcasts (numCells rows);
    * assignment is map-only + one argmax aggregate; the pair join is
    * an equi-join ON cell_id — within-cell quadratic is the
    * ALGORITHM's contract (SemDeDup picks numCells so cells stay
    * bounded: cost ~ n²/numCells; at 100 TB you raise numCells, not
    * the join shape), and the components run on the already-proven
    * O(log n) large-star/small-star machinery.
    */
  def semanticClusters(emb: DataFrame, idCol: String, vecCol: String,
                       numCells: Int, threshold: Double): DataFrame =
    connectedClusters(emb.select(col(idCol)), idCol,
      semanticPairs(emb, idCol, vecCol, numCells, threshold))

  /** The pair half of [[semanticClusters]], exposed so the cluster
    * map can be MATERIALIZED per corpus through [[ensureClusterMap]]
    * (the simhash/minhash map discipline — SemDeDup is just a third
    * pair generator feeding the same artifact): kmeans-cell
    * assignment bounds the quadratic, exact round-6 cosine within
    * cells only.
    */
  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                    numCells: Int, threshold: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val centroids = Similarity.seedCentroids(v, "id", numCells)
    val assigned = v.join(broadcast(centroids), lit(true))
      .withColumn("csim", round(
        cosineFromParts(dot(col("vec"), col("centroid")), col("nrm"), col("ctrnrm")), 6))
      .groupBy(col("id"))
      .agg(max(struct(col("csim"), col("cell_id"))).getField("cell_id").as("cell_id"),
           first(col("vec")).as("vec"), first(col("nrm")).as("nrm"))
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.id") < col("b.id"))
      .withColumn("cos", round(
        cosineFromParts(dotD(col("a.vec"), col("b.vec")), col("a.nrm"), col("b.nrm")), 6))
      .where(!isnan(col("cos")) && col("cos") >= threshold)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
  }

  /** Embedding near-dup at scale: hyperplane-LSH bucket join, exact
    * cosine verification within buckets only. Multiple independent
    * bucket tables (numTables) recover recall lost to bit boundaries.
    */
  def embeddingPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nbits: Int = 12,
                        numTables: Int = 4): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val bucketed = v.select(
      col("id"), col("vec"), col("nrm"),
      explode(array((0 until numTables).map(t =>
        struct(lit(t).as("t"), hyperplaneBucket(col("vec"), nbits, seed = 7 + t).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("vec"), col("nrm"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.vec").as("va"), col("b.vec").as("vb"),
              col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", round(
        cosineFromParts(dotD(col("va"), col("vb")), col("na"), col("nb")), 6))
      // NaN excluded explicitly (Spark's NaN > everything ordering
      // would otherwise admit it) — agrees with the streaming twin
      .where(!isnan(col("cos")) && col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Exact-substring duplicate SPANS — the Lee et al. ExactSubstr
    * primitive ("Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): per document, the MAXIMAL contiguous regions
    * whose every `windowTokens`-token window also appears in at least
    * `minDocs` distinct documents. The shingle families
    * ([[jaccardPairs]], [[TextAnalysis.duplicatedNgrams]]) find that
    * duplication EXISTS; this finds WHERE it starts and ends, which
    * is what a surgical span-removal pass (cut the quote, keep the
    * doc) needs.
    *
    * Restriction vs the paper (documented): Lee et al. build a suffix
    * array over the byte-level corpus concat; this runs on
    * word-boundary windows of a fixed token width, so spans resolve
    * to token granularity and sub-window-length duplicates are
    * invisible — the standard trade for a shuffle-native formulation.
    * A shared region of L ≥ `windowTokens` tokens yields exactly
    * L − windowTokens + 1 consecutive duplicated windows, so the
    * maximal span reconstructs exactly: span_tokens = n_windows +
    * windowTokens − 1.
    *
    * Cross-doc contract: a window must appear in ≥ `minDocs`
    * DISTINCT docs — a phrase repeated only inside one doc is
    * repetition ([[TextAnalysis]] text_repetition's business), not
    * corpus duplication.
    *
    * Exactness: windows key by the engine-neutral 60-bit md5 prefix
    * (the [[simHashPairs]] signature contract — the oracle replays
    * the same hash, so parity holds bit-for-bit; a 60-bit collision
    * would only merge two windows in BOTH engines identically).
    *
    * Scale shape: one posexplode (L windows per doc), windows
    * immediately compressed to 8-byte hashes so the shuffle never
    * moves window STRINGS; dup-window detection is one hash aggregate
    * over per-doc-distinct (hash, doc) rows; the run merge is a
    * gaps-and-islands window PARTITIONED BY doc (per-doc work,
    * bounded by doc length — never a global sort). The equivalent
    * suffix-array construction would need a repartitionByRange global
    * sort + boundary exchange; the fixed window width is what lets a
    * hash shuffle replace it.
    */
  /** (doc_id, pos, wh) — every `windowTokens`-token window of every
    * doc, keyed by the engine-neutral 60-bit hash; the shared head of
    * the [[duplicatedSpans]] family. MUST be the multiset form
    * ([[wordNgramsFast]], not the distinct shingle form): `pos` is a
    * TOKEN position, and a doc that repeats a window internally would
    * otherwise shift every later position and mis-place its spans —
    * caught by the PropertySpec brute-force reference.
    */
  private def windowHashRows(docs: DataFrame, idCol: String, textCol: String,
                             windowTokens: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(wordNgramsFast(lower(col(textCol)), windowTokens))
          .as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5Prefix64(col("w")).as("wh"))

  /** Gaps-and-islands merge of marked window positions into maximal
    * spans — per-doc window, never a global sort; the shared tail of
    * the [[duplicatedSpans]] family.
    */
  private def maximalSpans(marked: DataFrame, windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wI = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("isl", col("pos") - row_number().over(wI))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"),
        (col("n_windows") + (windowTokens - 1)).as("span_tokens"),
        col("n_windows"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 8, minDocs: Long = 2): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(minDocs >= 2, "minDocs < 2 would mark every window duplicated")
    val g = windowHashRows(docs, idCol, textCol, windowTokens)
    val dup = g.select("wh", "doc_id").distinct()
      .groupBy("wh").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select("wh")
    maximalSpans(g.join(dup, Seq("wh"), "left_semi"), windowTokens)
  }

  /** CROSS-corpus [[duplicatedSpans]] — the contamination-span
    * report: for every TRAINING doc, the maximal contiguous regions
    * whose every window also appears somewhere in the benchmark
    * corpus. [[crossContainment]] scores how MUCH of a benchmark doc
    * a training doc contains; this answers WHERE the shared text
    * sits in the training doc, which is what a span-level
    * decontamination pass (cut the leaked benchmark quote, keep the
    * doc — [[removeDuplicatedSpans]]'s cross cousin) operates on.
    *
    * Scale shape: the benchmark side is small by contract, so its
    * DISTINCT window-hash set broadcasts into a semi-join against the
    * corpus windows (the [[crossContainment]] probe shape); the rest
    * is the per-doc islands merge. Within-corpus duplication alone
    * does NOT mark a window — only benchmark overlap does.
    */
  def crossDuplicatedSpans(corpus: DataFrame, probe: DataFrame, idCol: String,
                           textCol: String,
                           windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    val g = windowHashRows(corpus, idCol, textCol, windowTokens)
    val probeWh = windowHashRows(probe, idCol, textCol, windowTokens)
      .select("wh").distinct()
    maximalSpans(g.join(broadcast(probeWh), Seq("wh"), "left_semi"),
      windowTokens)
  }

  /** The Lee et al. REMOVAL step on [[duplicatedSpans]]: cut every
    * maximal duplicated span out of each document and keep the rest —
    * "remove the quote, keep the doc", the surgical alternative to
    * dropping whole near-dup documents (which loses their unique
    * text). Output is one row per input doc: token counts before and
    * after plus the cleaned text (docs with no spans pass through
    * unchanged; a fully-duplicated doc comes out empty, which a
    * downstream min-length filter then drops — composition, not
    * special-casing).
    *
    * Span positions come from LOWERCASED tokens (the
    * [[duplicatedSpans]] contract) but apply to the ORIGINAL-case
    * token stream — whitespace tokenization is case-invariant, so
    * positions align by construction.
    *
    * Scale shape: the span table is tiny (only docs with duplication
    * appear) and joins back LEFT onto the corpus by doc id; removal
    * is a per-row indexed-filter HOF bounded by doc length × span
    * count — map-only, no extra shuffle. For adversarial span counts
    * per doc, the explode + range-anti-join form trades the HOF for
    * one more shuffle; corpora where that wins are rare (it means
    * most of the corpus is duplicated spans).
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            windowTokens: Int = 8, minDocs: Long = 2): DataFrame =
    removeSpans(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, windowTokens, minDocs))

  /** Span-level DECONTAMINATION — [[removeDuplicatedSpans]]' cross
    * cousin and the surgical alternative to [[crossContainment]]-
    * driven whole-doc dropping (text_decontaminate's policy): cut
    * every region of a training doc that [[crossDuplicatedSpans]]
    * finds shared with the benchmark corpus, keep everything else.
    * The benchmark loses its leak; the training doc keeps its unique
    * text.
    */
  def removeCrossDuplicatedSpans(corpus: DataFrame, probe: DataFrame,
                                 idCol: String, textCol: String,
                                 windowTokens: Int = 8): DataFrame =
    removeSpans(corpus, idCol, textCol,
      crossDuplicatedSpans(corpus, probe, idCol, textCol, windowTokens))

  /** Cut `spans` (doc_id, span_start, span_tokens) out of `docs` —
    * the shared removal core: spans aggregate per doc (tiny — only
    * docs with duplication appear), join back LEFT, and a per-row
    * indexed-filter HOF keeps the tokens outside every span.
    */
  private def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                          spans: DataFrame): DataFrame = {
    val spanSets = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        (col("span_start") + col("span_tokens")).as("e"))).as("spans"))
    val kept = when(col("spans").isNull, col("toks"))
      .otherwise(filter(col("toks"), (_, i) =>
        !exists(col("spans"), sp =>
          i.cast("long") >= sp.getField("s") && i.cast("long") < sp.getField("e"))))
    // empty/whitespace-only text splits to [""] — filter it so such
    // docs report n_tokens = 0, not 1. For non-empty trimmed text a
    // \s+ split never yields an empty token, so span positions
    // (computed on the unfiltered array) are unaffected.
    docs.select(col(idCol).as("doc_id"),
        filter(tokens(col(textCol)), t => length(t) > 0).as("toks"))
      .join(spanSets, Seq("doc_id"), "left")
      .withColumn("kept", kept)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** BLOOM-FILTER cross-corpus membership (Bloom 1970; the Broder
    * et al. web-dedup pre-filter): a bit array built from the
    * training corpus' content hashes answers "possibly seen /
    * definitely new" for every probe doc in O(k) hash probes — the
    * constant-memory first gate a 100 TB ingest runs BEFORE paying
    * for an exact [[crossContainment]] join on the survivors. The
    * report carries the ground truth next to the filter's answer
    * (`exact_hit` via the real hash join) so the false-positive rate
    * is measured, not assumed — no false negatives by construction
    * (spec-pinned).
    *
    * Determinism: bit positions are md5-derived (pos_j = 32-bit
    * md5(content_hash ∥ "_bj") mod `mBits`) — no RNG, identical on
    * any cluster, replayable in SQL. The bit array is represented as
    * the distinct-position table (≤ mBits rows, broadcast) — the
    * semantics of the packed bitmap without engine-specific binary
    * state; a physical deployment would fold the same positions into
    * `spark.util.sketch.BloomFilter` bytes.
    *
    * Scale shape: building is one distinct + k-way position explode
    * + distinct (all map-side-combined); probing is a broadcast join
    * against the ≤ mBits position table (map-only over the probe
    * corpus). Only the exact-truth join shuffles, and only to audit
    * the filter — the production path drops it.
    */
  /** CROSS-SOURCE NEAR-DUP MATRIX — the provenance question behind a
    * dup rate: WHICH sources copy from which (mirrors, scrapes of
    * scrapes, syndication) — per ordered source pair (a ≤ b), how
    * many near-dup DOC PAIRS the corpus holds across them. Counted
    * WITHOUT materializing pairs: a cluster with per-source member
    * counts c_s contributes c_a·c_b cross pairs and C(c_s, 2) same-
    * source pairs, so the whole matrix is linear in |docs| off the
    * served cluster map — never quadratic in cluster size (the giant-
    * cluster hazard every pairwise formulation hits).
    *
    * Exactness: counts are exact longs folded as decimal(38,0) (one
    * 10⁹-member cluster alone overflows a long's C(c,2)); output is
    * the bounded |sources|² matrix.
    */
  def sourceMatrixFromMap(clusterMap: DataFrame, docs: DataFrame,
                          idCol: String, sourceCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cs = clusterMap.select(col("doc_id"), col("cluster_id"))
      .join(docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source")), "doc_id")
      .groupBy("cluster_id", "source").agg(count(lit(1)).as("c"))
    val same = cs.where(col("c") >= 2)
      .groupBy(col("source").as("source_a"))
      .agg(sum((col("c").cast(dec) * (col("c") - 1).cast(dec)) / 2)
        .cast("long").as("n_pairs"))
      .select(col("source_a"), col("source_a").as("source_b"),
        col("n_pairs"))
    val cross = cs.as("x").join(cs.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"),
        col("y.source").as("source_b"))
      .agg(sum(col("x.c").cast(dec) * col("y.c").cast(dec))
        .cast("long").as("n_pairs"))
    same.unionByName(cross).where(col("n_pairs") > 0)
  }

  /** The k md5-derived bit positions of one content hash — the one
    * audit point for the bloom family's position formula (the
    * DuckDB twin is `('0x' || substr(md5(h || '_bj'), 1, 8))::BIGINT
    * % mBits`).
    */
  private def bloomPositions(h: Column, mBits: Int, kHashes: Int): Column =
    array((1 to kHashes).map(j =>
      conv(substring(md5(concat(h, lit(s"_b$j"))), 1, 8), 16, 10)
        .cast("long") % mBits): _*)

  def bloomCrossMembership(train: DataFrame, probe: DataFrame,
                           idCol: String, textCol: String,
                           mBits: Int = 32768, kHashes: Int = 3): DataFrame = {
    require(mBits >= 2 && kHashes >= 1, s"bad bloom params: $mBits/$kHashes")
    val th = train.select(md5(col(textCol)).as("h")).distinct()
    val bits = th
      .select(explode(bloomPositions(col("h"), mBits, kHashes)).as("p"))
      .distinct()
      .withColumn("in_filter", lit(1))
    val ph = probe.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
    val probed = ph
      .select(col("doc_id"), col("h"),
        explode(bloomPositions(col("h"), mBits, kHashes)).as("p"))
      .dropDuplicates("doc_id", "p") // k probes may collide within a key
      .join(broadcast(bits), Seq("p"), "left")
      .groupBy("doc_id", "h")
      .agg(count(lit(1)).as("n_pos"), count(col("in_filter")).as("n_found"))
    probed
      .join(th.withColumn("exact_hit", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        (col("n_found") === col("n_pos")).as("bloom_hit"),
        coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
      .withColumn("is_false_positive", col("bloom_hit") && !col("exact_hit"))
  }

  /** Materialize a [[bloomCrossMembership]]-style filter as a
    * lakehouse artifact — the seen-content gate of a CONTINUOUS
    * ingest, following the house lifecycle (build / `ensure*` serve /
    * delta upsert / streaming ingest — the BM25/IVF/cluster-map/
    * basket-graph discipline). Two tables under `path`: `_bits`
    * (the distinct set positions — the packed bitmap's semantics in
    * ≤ mBits rows, engine-neutral and SQL-replayable) and `_meta`
    * (m_bits, k_hashes), written LAST as the commit marker.
    *
    * The bloom bit array is a UNION monoid — OR of two filters over
    * the same (m, k) equals the filter of the unioned key sets — so
    * [[appendBloomDelta]]'s distinct-union merge is bit-identical to
    * a from-scratch rebuild (the additive-merge law the upsert gate
    * proves), and deletion is impossible by construction (rebuild on
    * retraction — the standard bloom trade).
    */
  def writeBloomFilter(train: DataFrame, textCol: String, path: String,
                       mBits: Int = 32768, kHashes: Int = 3): Unit = {
    require(mBits >= 2 && kHashes >= 1, s"bad bloom params: $mBits/$kHashes")
    val spark = train.sparkSession
    train.select(md5(col(textCol)).as("h")).distinct()
      .select(explode(bloomPositions(col("h"), mBits, kHashes)).as("p"))
      .distinct()
      .write.mode("overwrite").parquet(s"${path}_bits")
    spark.range(1)
      .select(lit(mBits.toLong).as("m_bits"), lit(kHashes.toLong).as("k_hashes"))
      .write.mode("overwrite").parquet(s"${path}_meta") // commit marker
  }

  /** [[writeBloomFilter]] only if absent; `train` is by-name so the
    * build pipeline never evaluates on the served path.
    */
  def ensureBloomFilter(train: => DataFrame, textCol: String, path: String,
                        mBits: Int = 32768, kHashes: Int = 3): Unit =
    if (!Markers.exists(s"${path}_meta/_SUCCESS"))
      writeBloomFilter(train, textCol, path, mBits, kHashes)

  /** Absorb a document delta into a materialized bloom filter: the
    * delta's positions (under the STORED m/k — the filter geometry is
    * frozen at build, the FAISS-quantizer discipline) distinct-union
    * into `_bits`. Single-writer contract as [[Graph
    * .appendBasketDelta]]: the marker drops before the `_bits`
    * rewrite and the `_meta` rewrite recreates it — a crash between
    * the two leaves a marker-less filter that [[ensureBloomFilter]]
    * rebuilds rather than serving half-merged bits.
    */
  def appendBloomDelta(delta: DataFrame, textCol: String,
                       path: String): Unit = {
    val spark = delta.sparkSession
    require(Markers.exists(s"${path}_meta/_SUCCESS"),
      s"bloom filter at $path has no commit marker; rebuild with writeBloomFilter")
    val meta = spark.read.parquet(s"${path}_meta").head()
    val (m, k) = (meta.getAs[Long]("m_bits").toInt,
      meta.getAs[Long]("k_hashes").toInt)
    val merged = spark.read.parquet(s"${path}_bits")
      .union(delta.select(md5(col(textCol)).as("h")).distinct()
        .select(explode(bloomPositions(col("h"), m, k)).as("p")))
      .distinct()
      .localCheckpoint() // materialize BEFORE overwriting what we read
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"${path}_meta/_SUCCESS")
    if (fs.exists(marker)) fs.delete(marker, false) // filter now in-flux
    merged.write.mode("overwrite").parquet(s"${path}_bits")
    spark.range(1)
      .select(lit(m.toLong).as("m_bits"), lit(k.toLong).as("k_hashes"))
      .write.mode("overwrite").parquet(s"${path}_meta") // commit point
    Rounds.release(merged)
  }

  /** Probe a materialized bloom filter — the PRODUCTION membership
    * path ([[bloomCrossMembership]] with the ground-truth audit
    * dropped: the filter is all a deployed pre-gate keeps). Broadcast
    * of the ≤ mBits position table, map-only over the probe corpus.
    */
  def bloomProbeFromFilter(spark: org.apache.spark.sql.SparkSession,
                           path: String, probe: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    require(Markers.exists(s"${path}_meta/_SUCCESS"),
      s"bloom filter at $path has no commit marker; rebuild with writeBloomFilter")
    val meta = spark.read.parquet(s"${path}_meta").head()
    val (m, k) = (meta.getAs[Long]("m_bits").toInt,
      meta.getAs[Long]("k_hashes").toInt)
    val bits = spark.read.parquet(s"${path}_bits")
      .withColumn("in_filter", lit(1))
    probe.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
      .select(col("doc_id"), explode(bloomPositions(col("h"), m, k)).as("p"))
      .dropDuplicates("doc_id", "p")
      .join(broadcast(bits), Seq("p"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"), count(col("in_filter")).as("n_found"))
      .select(col("doc_id"),
        (col("n_found") === col("n_pos")).as("bloom_hit"))
  }
}
