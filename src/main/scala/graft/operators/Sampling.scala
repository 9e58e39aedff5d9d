package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted sampling for training-mix curation. The hash-rate /
  * stratified / split samplers live in the gate layer as one-line
  * filters; this hosts the samplers that need real machinery.
  *
  * Determinism: the "random" uniform is md5-derived from the row id,
  * so kept sets are reproducible across runs, engines, and cluster
  * sizes (no rand() reseeding hazards), and a SQL oracle can replay
  * every draw exactly.
  */
object Sampling {

  /** Deterministic uniform from 32 bits of md5(id). `halfOpen` gives
    * u ∈ [0, 1) (Bernoulli `u < rate` filters); otherwise u ∈ (0, 1]
    * (safe under ln). One audit point for the formula — the DuckDB
    * twin is `('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT
    * [+ 1] / 4294967296.0`. Division by 2^32 is exact.
    */
  private def md5Uniform(idCol: String, halfOpen: Boolean): Column = {
    val bits = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double")
    (if (halfOpen) bits else bits + 1.0) / 4294967296.0
  }

  /** Systematic PPS (probability-proportional-to-size) sampling —
    * the survey-sampling workhorse: lay the population out as one
    * weight line, pick a deterministic start u ∈ [0, T) from
    * md5(seed), and take every item whose weight interval contains a
    * point u + k·(T/n). Inclusion probability is exactly n·w/T with
    * ZERO variance in the realized total weight — the property
    * Bernoulli/Poisson draws can't give — and an item heavier than
    * the step is drawn multiple times (`n_hits`, the standard PPS
    * multiplicity).
    *
    * Exactness: the whole selection is INTEGER — intervals come from
    * the bucketed exclusive prefix sum (no global item window; the
    * [[graft.operators.Multimodal]] packing core's shape), the grid
    * test multiplies through by n (u′ + k·T ∈ [n·lo, n·hi)), and
    * the floor divisions run on +T-shifted non-negative numerators
    * so truncation IS floor in both engines. u′ = (H·T) div 2³² with
    * H the 32-bit md5 of the seed literal — replayed verbatim in
    * SQL. Intervals, totals, and grid numerators all accumulate and
    * multiply as decimal(38,0) (HUGEINT in the oracle), so H·T and
    * n·lo never wrap; the one residual bound — T < 2⁶³ so u′ fits the
    * integral-divide output — is ENFORCED with raise_error, never a
    * silent wrap (a 100 TB token line is ~2.5e13, five orders of
    * magnitude inside it; pre-scale weights down if you ever hit it).
    */
  def ppsSystematic(df: DataFrame, idCol: String, weightCol: String,
                    n: Int, seed: String,
                    numBuckets: Int = 1024): DataFrame = {
    require(n > 0, "sample size must be positive")
    def d(c: Column) = c.cast("double")
    val items = df.select(col(idCol).cast("long").as("id"),
        col(weightCol).cast("long").as("w"))
      .where(col("w") > 0)
    val mx = items.agg(max(col("id")).as("mxid"))
    val b = items.crossJoin(broadcast(mx))
      .withColumn("bucket",
        floor(d(col("id")) * numBuckets / (d(col("mxid")) + 1.0)))
      .drop("mxid")
    val dec = "decimal(38,0)"
    val zero = lit(0).cast(dec)
    val perB = b.groupBy("bucket").agg(sum(col("w").cast(dec)).as("bw"))
    val wb = Window.orderBy("bucket") // bounded bucket table
    val offs = perB.withColumn("off",
      coalesce(sum(col("bw")).over(wb) - col("bw"), zero))
    val wr = Window.partitionBy("bucket").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = b.join(broadcast(offs.select("bucket", "off")), Seq("bucket"))
      .withColumn("lo",
        col("off") + coalesce(sum(col("w").cast(dec)).over(wr), zero))
      .select(col("id"), col("w"), col("lo"), (col("lo") + col("w")).as("hi"))
    // T accumulates in decimal so an over-2⁶³ line is SEEN, then the
    // guard raises — u′ = (H·T) div 2³² must fit the bigint the
    // integral divide emits, and a wrapped u would corrupt the draw
    // silently (the one failure mode a sampling op must never have)
    val tot = items.agg(sum(col("w").cast(dec)).as("t"))
      .select(when(col("t") < lit(BigDecimal("9223372036854775808")).cast(dec),
          col("t"))
        .otherwise(raise_error(lit(
          "ppsSystematic: total weight must be < 2^63; pre-scale the weights"))
          .cast(dec)).as("t"))
    val h = conv(substring(md5(lit(seed)), 1, 8), 16, 10).cast("long")
    pre.crossJoin(broadcast(tot)) // 1-row total
      .withColumn("h", h)
      .withColumn("u", expr("(h * t) div 4294967296"))
      .withColumn("kmin1",
        expr(s"(lo * $n - u + t + t - 1) div t"))
      .withColumn("kmax1",
        expr(s"(hi * $n - u - 1 + t) div t"))
      .where(col("kmax1") >= col("kmin1"))
      .select(col("id"), col("w"),
        (col("kmax1") - col("kmin1") + 1).as("n_hits"))
  }

  /** Class balancing by deterministic downsampling: every class keeps
    * exactly min-class-count rows, chosen by md5(id) order — the
    * classifier-training prep that stops a 95:5 label skew from
    * training a majority-class predictor, without RNG state (the same
    * rows survive on any cluster size, and the SQL oracle replays the
    * draw). The minority count rides a 1-row broadcast.
    *
    * Scale note: the per-class rank is a per-group window — the
    * [[weightedReservoirPerGroup]] pre-selection trick applies
    * verbatim if class cardinality is low and groups are huge.
    */
  def balanceClasses(df: DataFrame, classCol: String, idCol: String): DataFrame = {
    val nMin = df.groupBy(col(classCol)).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("n_min"))
    val w = Window.partitionBy(classCol).orderBy("_h", idCol)
    df.withColumn("_h",
        graft.functions.TextFunctions.md5Prefix64(col(idCol).cast("string")))
      .withColumn("_rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(nMin))
      .where(col("_rk") <= col("n_min"))
      .drop("_h", "_rk", "n_min")
  }

  /** Weighted reservoir sample of k rows per group, à la
    * Efraimidis–Spirakis: each row draws a deterministic uniform
    * u ∈ (0, 1] (md5 of its id) and is ranked by ln(u)/w descending —
    * the top-k per group is then a weight-proportional sample without
    * replacement. Rows with non-positive weight are excluded (the
    * E-S key is undefined there); callers clamp weights to a floor
    * when every row must stay eligible.
    *
    * Scale shape: a per-partition PARTIAL selection first — each
    * input partition forwards at most k rows per group through a
    * bounded heap (the TakeOrdered trick applied before the
    * exchange; the global top-k per group is provably the top-k of
    * the union of per-partition top-ks) — then one window partitioned
    * by the group key ranks the ≤ k·partitions survivors per group.
    * The group shuffle moves k·P rows per group instead of the full
    * group, and the window's sort volume shrinks the same way; never
    * a global sort. The heap ordering replicates the window's
    * ORDER BY exactly (es-key desc, id asc, Spark default null
    * placement); ids with non-numeric/temporal types skip the
    * pre-selection (string comparison semantics differ between JVM
    * and SQL for supplementary code points) and take the plain
    * window path. Output: the input columns plus `rk` (1-based rank
    * within the group's kept set).
    */
  def weightedReservoirPerGroup(df: DataFrame, groupCol: String, idCol: String,
                                weightCol: String, k: Int): DataFrame = {
    require(k > 0, "weightedReservoirPerGroup needs k > 0")
    // maximize u^(1/w)  <=>  maximize ln(u)/w  (w > 0)
    val keyed = df.where(col(weightCol) > 0)
      .withColumn("_es_key", log(md5Uniform(idCol, halfOpen = false)) / col(weightCol))
    val pre = preSelectPerPartition(keyed, groupCol, idCol, k)
    val w = Window.partitionBy(groupCol).orderBy(desc("_es_key"), col(idCol))
    pre
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .drop("_es_key")
  }

  /** Bounded per-partition top-k per group on (`_es_key` desc, id
    * asc) — the map-side partial form of the reservoir's window. Id
    * types whose JVM ordering provably matches Spark's SQL ordering
    * (numeric, date, timestamp) qualify; anything else returns the
    * input unchanged, which is always correct (the window downstream
    * is the authority — pre-selection only sheds rows that provably
    * cannot rank ≤ k).
    */
  private def preSelectPerPartition(keyed: DataFrame, groupCol: String,
                                    idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = keyed.schema
    val idComparable = schema(schema.fieldIndex(idCol)).dataType match {
      case _: NumericType | DateType | TimestampType => true
      case _ => false
    }
    if (!idComparable) return keyed
    val gi = schema.fieldIndex(groupCol)
    val ki = schema.fieldIndex("_es_key")
    val ii = schema.fieldIndex(idCol)
    // goodness: higher es-key first (null = −∞, Spark's DESC NULLS
    // LAST), then smaller id (null first, Spark's ASC NULLS FIRST)
    val goodness: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val ea = if (a.isNullAt(ki)) Double.NegativeInfinity else a.getDouble(ki)
        val eb = if (b.isNullAt(ki)) Double.NegativeInfinity else b.getDouble(ki)
        val c = java.lang.Double.compare(ea, eb)
        if (c != 0) c
        else {
          val an = a.isNullAt(ii); val bn = b.isNullAt(ii)
          if (an && bn) 0
          else if (an) 1 // null id ranks FIRST ascending → better
          else if (bn) -1
          else -a.get(ii).asInstanceOf[Comparable[Any]].compareTo(b.get(ii))
        }
      }
    }
    val preRdd = keyed.rdd.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      it.foreach { r =>
        // worst-kept-on-top heap so the boundary row dequeues in O(log k)
        val h = heaps.getOrElseUpdate(r.get(gi),
          scala.collection.mutable.PriorityQueue.empty(goodness.reverse))
        if (h.size < k) h.enqueue(r)
        else if (goodness.compare(r, h.head) > 0) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    keyed.sparkSession.createDataFrame(preRdd, schema)
  }

  /** Source-mixing downsampler: compute per-group keep rates that cap
    * each group at ~`targetPerGroup` rows in expectation
    * (rate = min(1, target/n)), then apply them with the deterministic
    * md5 uniform — the "stop one source/language from swamping the
    * mix" step, as rates instead of ranks (no window, no per-group
    * sort; composes with a later global shuffle).
    *
    * Scale shape: one hash aggregate for the per-group counts (tiny —
    * one row per group), broadcast back onto the corpus, map-only
    * Bernoulli filter. Output: input columns plus `keep_rate`
    * (rounded to 6).
    */
  /** Temperature-scaled source mixing (the multilingual-corpus
    * standard): target share of group i ∝ nᵢ^α, flattening the
    * distribution toward uniform as α → 0 (α = 1 keeps natural
    * proportions). Keep rate = min(1, targetTotal·qᵢ/nᵢ) with
    * qᵢ = nᵢ^α / Σⱼ nⱼ^α, applied via the deterministic md5 uniform —
    * rare sources keep (relatively) more of their rows, dominant ones
    * are cut, and the expected output size is ≤ targetTotal.
    *
    * Scale shape: per-group counts (one tiny hash aggregate) + a
    * one-row normalizer, both broadcast back; the filter is map-only.
    * Output: input columns plus `keep_rate` (rounded to 6).
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
                     alpha: Double, targetTotal: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, "temperatureMix needs 0 < alpha <= 1")
    require(targetTotal > 0, "temperatureMix needs targetTotal > 0")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
    val z = counts.agg(sum(pow(col("_n").cast("double"), alpha)).as("_z"))
    val rates = counts.crossJoin(broadcast(z))
      .select(col(groupCol),
        least(lit(1.0),
          pow(col("_n").cast("double"), alpha) / col("_z")
            * targetTotal.toDouble / col("_n")).as("_rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .where(md5Uniform(idCol, halfOpen = true) < col("_rate"))
      .withColumn("keep_rate", round(col("_rate"), 6))
      .drop("_rate")
  }

  /** Deterministic experiment-arm assignment: each unit hashes into
    * one of 100 buckets (md5 of its id — the engine-neutral draw every
    * sampler here uses) and arms claim contiguous bucket ranges by
    * weight. The industry-standard properties fall out by
    * construction: assignment is a pure function of the id (stable
    * across runs, days, and engines — no coordination, no state),
    * arms are disjoint and exhaustive, and a weight change only moves
    * units whose buckets change hands. Map-only; `weights` must sum
    * to 100.
    */
  def abAssign(df: DataFrame, idCol: String,
               arms: Seq[(String, Int)]): DataFrame = {
    require(arms.nonEmpty && arms.map(_._2).sum == 100 && arms.forall(_._2 > 0),
      s"arm weights must be positive and sum to 100, got $arms")
    val bucket = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    val cums = arms.scanLeft(0)(_ + _._2).tail
    val arm = arms.zip(cums).tail.foldLeft(
      when(bucket < cums.head, arms.head._1)) {
        case (acc, ((name, _), cum)) => acc.when(bucket < cum, name)
      }
    df.select(col(idCol), bucket.as("bucket"), arm.as("arm"))
  }

  def mixToGroupTarget(df: DataFrame, groupCol: String, idCol: String,
                       targetPerGroup: Long): DataFrame = {
    require(targetPerGroup > 0, "mixToGroupTarget needs targetPerGroup > 0")
    val rates = df.groupBy(groupCol)
      .agg(count(lit(1)).as("_n"))
      .select(col(groupCol),
        least(lit(1.0), lit(targetPerGroup.toDouble) / col("_n")).as("_rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .where(md5Uniform(idCol, halfOpen = true) < col("_rate"))
      .withColumn("keep_rate", round(col("_rate"), 6))
      .drop("_rate")
  }

  /** Neyman (optimal-allocation) stratified sampling: stratum h gets
    * a share of the `targetTotal` draw proportional to n_h·s_h (size
    * × standard deviation of `valueCol`) — high-variance strata are
    * oversampled, near-constant strata contribute almost nothing,
    * which minimizes the variance of the resulting estimator at a
    * fixed budget (the eval-set construction answer to "uniform
    * sampling wastes budget on homogeneous sources").
    *
    * Determinism: stratum variance comes from exact long moments
    * (n·Σx² − (Σx)²); n_h·s_h rounds to a scaled long so the
    * cross-strata total is aggregation-order-independent; the keep
    * rate rounds to 6 BEFORE the comparison and the draw is the
    * md5-uniform — fully replayable. `valueCol` must be
    * integer-valued (pre-scale money/doubles).
    *
    * Scale shape: one moment aggregate (|strata| rows), a 1-row
    * total broadcast, then a map-only rate filter — the
    * [[mixToGroupTarget]] shape with a statistics-driven rate.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, idCol: String,
                       valueCol: String, targetTotal: Long): DataFrame = {
    def d(c: Column) = c.cast("double")
    val v = df.select(col(stratumCol).as("stratum"), col(idCol).as("id"),
                      col(valueCol).cast("long").as("x"))
    val st = v.groupBy("stratum").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
    val r = st.select(col("stratum"), col("n"),
      round(d(col("n")) *
        sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
             / (d(col("n")) * d(col("n")))) * 1e6, 0)
        .cast("long").as("nsd"))
    val tot = r.agg(sum(col("nsd")).as("tot"))
    // every-stratum-constant corpus → tot = 0: fall back to a uniform
    // target/N split instead of silently emitting NaN rates (Neyman is
    // undefined there; uniform is the sensible limit)
    val nAll = r.agg(sum(col("n")).as("n_all"))
    val rates = r.crossJoin(broadcast(tot)).crossJoin(broadcast(nAll)) // 1-row scalars
      .select(col("stratum"),
        when(col("tot") > 0,
          round(least(lit(1.0),
            lit(targetTotal.toDouble) * d(col("nsd")) / d(col("tot")) / d(col("n"))), 6))
          .otherwise(
            round(least(lit(1.0), lit(targetTotal.toDouble) / d(col("n_all"))), 6))
          .as("keep_rate"))
    v.join(broadcast(rates), Seq("stratum"))
      .where(md5Uniform("id", halfOpen = true) < col("keep_rate"))
      .select(col("id"), col("stratum"), col("keep_rate"))
  }

  /** Diversity sample over an embedding column: ONE representative
    * per LSH hyperplane bucket — a spread-out, deterministic subset
    * (the cheap coreset for eval pools and seed sets: dense regions
    * collapse to one pick, sparse regions always keep theirs, unlike
    * any uniform draw). The representative is the bucket's min
    * md5-hash id (hash-uniform within the bucket, not first-seen —
    * arrival order can never change the pick).
    *
    * Scale shape: map (bucket + hash) + ONE bucket-keyed aggregate;
    * output is ≤ 2^nbits rows. Raise `nbits` for a bigger sample —
    * the knob is the bucket count, never a shuffle of the corpus
    * beyond the one aggregate.
    */
  def diverseByBucket(corpus: DataFrame, idCol: String, vecCol: String,
                      nbits: Int = 6): DataFrame =
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket",
        graft.functions.VectorFunctions.hyperplaneBucket(col("vec"), nbits, seed = 7))
      .withColumn("h",
        graft.functions.TextFunctions.md5Prefix64(col("id").cast("string")))
      .groupBy("bucket")
      .agg(min(struct(col("h"), col("id"))).getField("id").as("rep_id"),
           count(lit(1)).as("bucket_size"))

  /** Cumulative Poisson(1) CDF ladder, pinned to 9 decimals so BOTH
    * engines compare the same literals (never each engine's own
    * `exp`): a uniform draw u maps to weight w = |{t : u ≥ t}|.
    * Truncated at 8 (tail mass ~1.1e-6 — documented bias, far below
    * bootstrap noise).
    */
  private val poisson1Cdf: Seq[Double] = Seq(
    0.367879441, 0.735758882, 0.919698603, 0.981011843,
    0.996340153, 0.999405815, 0.999916759, 0.999989751)

  /** Poisson bootstrap confidence interval for a mean (Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams", Google
    * 2012): instead of resampling n rows WITH replacement (impossible
    * distributed — it needs global indexing), each row enters
    * replicate b with weight ~ Poisson(1), independent across rows
    * and replicates, which converges to the multinomial bootstrap at
    * corpus n. THE way to put an error bar on a 100 TB metric in one
    * pass: every replicate is just a weighted aggregate, and all
    * `reps` of them share ONE shuffle.
    *
    * Determinism: the per-(row, replicate) weight derives from
    * md5(id_b) through the pinned [[poisson1Cdf]] ladder — no RNG
    * state, any partitioning, replayable by a SQL oracle. Replicate
    * sums are exact cents·weight longs; the replicate means round to
    * 6 and re-scale to exact longs for the bootstrap-SE moments. The
    * CI is RANK-BASED on the bounded replicate table (sorted means at
    * ranks ⌈0.025·reps⌉+1 and reps−⌈0.025·reps⌉ — no percentile
    * interpolation, which engines implement differently).
    *
    * Scale shape: one scan exploded ×`reps` (map-side), ONE
    * |reps|-group hash aggregate, then everything is reps-bounded
    * (the rank window orders ≤ reps rows). Long-overflow bound:
    * w ≤ 8, so Σ w·c inherits the money-scale bound ÷ 8.
    */
  def poissonBootstrapMean(df: DataFrame, idCol: String, valueCol: String,
                           reps: Int = 100): DataFrame = {
    def d(c: Column) = c.cast("double")
    val base = df.select(col(idCol).cast("string").as("id"),
      round(col(valueCol) * 100, 0).cast("long").as("c"))
    // a selective upstream filter can collapse the base onto one
    // input split, serializing the ×reps fan-out and its md5 work —
    // spread the (narrow, pre-explode) rows first. At scale the scan
    // already supplies partitions and this is one cheap row shuffle.
    val drawn = base.repartition(col("id"))
      .withColumn("b", explode(sequence(lit(1), lit(reps))))
      .withColumn("u",
        conv(substring(md5(concat(col("id"), lit("_"), col("b").cast("string"))),
          1, 8), 16, 10).cast("double") / 4294967296.0)
      // w = |{t : u ≥ t}| as a flat comparison ladder — same value as
      // a filter() HOF over the CDF array, but fully codegen'd (the
      // HOF interprets its lambda and allocates the array per row —
      // measured 5× slower over the ×reps fan-out)
      .withColumn("w",
        poisson1Cdf.map(t => (col("u") >= t).cast("long")).reduce(_ + _))
    val repMeans = drawn.groupBy("b")
      .agg(sum(col("w") * col("c")).as("swc"), sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select(col("b"),
        round(d(col("swc")) / d(col("sw")) / 100.0, 6).as("m"))
    val w6 = Window.orderBy("m", "b") // reps-bounded table
    val ranked = repMeans.withColumn("rk", row_number().over(w6))
    val lo = math.ceil(0.025 * reps).toLong + 1
    val hi = reps - math.ceil(0.025 * reps).toLong
    val stats = ranked
      .withColumn("m6", round(col("m") * 1e6, 0).cast("long"))
      .agg(count(lit(1)).as("n_reps"),
           min(when(col("rk") === lo, col("m"))).as("ci_low"),
           min(when(col("rk") === hi, col("m"))).as("ci_high"),
           sum(col("m6")).as("s1"), sum(col("m6") * col("m6")).as("s2"))
    val point = base.agg(count(lit(1)).as("n_rows"),
      sum(col("c")).as("sc"))
    val seBoot = sqrt(
      (d(col("n_reps")) * d(col("s2")) - d(col("s1")) * d(col("s1"))) /
        (d(col("n_reps")) * (d(col("n_reps")) - 1.0))) / 1e6
    point.crossJoin(broadcast(stats)) // 1-row scalars
      .select(col("n_rows"), col("n_reps"),
        round(d(col("sc")) / d(col("n_rows")) / 100.0, 6).as("point_estimate"),
        col("ci_low"), col("ci_high"),
        when(col("n_reps") >= 2, round(seBoot, 6)).as("se_boot"))
  }

  /** Group-integral k-fold assignment: every row's fold derives from
    * md5 of its GROUP key (mod k), so a group can never straddle a
    * train/validation boundary — the leakage guard for grouped data
    * (all of one user's rows stay together; a per-row split would
    * leak user identity across folds and inflate eval). Returns the
    * per-fold audit (rows, distinct groups, shares); the assignment
    * itself is the deterministic expression any pipeline stage can
    * re-derive.
    *
    * Scale shape: one hash aggregate on (fold) with an exact
    * distinct-group count; md5 is content-derived — stable across
    * runs, partitionings, and engines (the [[md5Uniform]] twin for
    * integers: ('0x' || substr(md5(g), 1, 8))::BIGINT % k).
    */
  def groupKFold(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    def d(c: Column) = c.cast("double")
    val fold = pmod(
      conv(substring(md5(col(groupCol).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(k.toLong))
    val g = df.select(fold.as("fold"), col(groupCol).as("g"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("g")).as("n_groups"))
    val tot = g.agg(sum(col("n_rows")).as("n_total"))
    g.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("fold"), col("n_rows"), col("n_groups"),
        round(d(col("n_rows")) / d(col("n_total")), 6).as("row_share"))
  }

  /** Effective-sample-size audit of a weighted corpus: per stratum,
    * Kish's ESS = (Σw)²/Σw² and the efficiency ESS/n — the diagnostic
    * that tells you whether [[weightedSample]]/temperature-style
    * importance weights have quietly collapsed a million-row stratum
    * onto a handful of heavy rows (efficiency → 0 means the weighted
    * estimate rides on almost no data, however many rows survived).
    * Run it AFTER every reweighting step, BEFORE trusting a weighted
    * metric.
    *
    * Determinism: weights enter as exact integer units (`weightCol`
    * already integral, e.g. token counts — no double sums), so Σw and
    * Σw² are exact longs in any aggregation order; doubles appear
    * only in the final two divisions, factor-first. Overflow bound:
    * Σw² < 2⁶³ needs per-row w ≲ 3·10⁶ at 10⁹ rows — rescale heavier
    * weights before the audit.
    *
    * Scale shape: ONE hash aggregate to |strata| rows (map-side
    * partials), nothing else. The audit of a 100 TB corpus costs one
    * scan.
    */
  /** Deterministic seeded EPOCH SHUFFLE — the training-order
    * randomization a pretraining pipeline runs per epoch: every row
    * gets a global position 0..n−1 in md5(seed | id) order, so the
    * order is uniform-random-looking, reproducible from the seed
    * alone (re-run an epoch, get the identical order — the
    * data-order-reproducibility requirement), and changes completely
    * per seed. Compose with the packers: shuffle → `tokenPack` /
    * `shardManifest` consumes the positions as its layout order.
    *
    * Determinism (oracle parity): position is the exact rank of
    * (md5(seed|id), id) — both engines sort the same strings; the id
    * tie-break makes rank total even under the no-collision
    * assumption failing.
    *
    * Scale shape — a GLOBAL rank with no global sort/window: the
    * first two hex chars of the key partition its lexicographic
    * ORDER into 256 RANGES (a hash prefix is an order-preserving
    * bucketing, and uniform by construction — no skew, no sampled
    * range boundaries), so position = bucket offset (a 256-row
    * cumulative table, broadcast) + within-bucket rank (windows
    * partitioned per bucket). The [[graft.operators.Multimodal]]
    * prefixPack discipline keyed by hash instead of id.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val keyed = df.select(col(idCol).as("doc_id"),
      md5(concat_ws("|", lit(seed), col(idCol).cast("string"))).as("sk"))
    val b = keyed.withColumn("bucket",
      conv(substring(col("sk"), 1, 2), 16, 10).cast("long"))
    val perBucket = b.groupBy("bucket").agg(count(lit(1)).as("n"))
    val wb = Window.orderBy("bucket") // bounded 256-row table
    val offsets = perBucket.withColumn("off",
      coalesce(sum(col("n")).over(wb) - col("n"), lit(0L)))
    val wr = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    b.join(broadcast(offsets.select("bucket", "off")), Seq("bucket"))
      .withColumn("position",
        col("off") + row_number().over(wr).cast("long") - 1L)
      .select(col("doc_id"), col("position"))
  }

  /** Epoch-order SEQUENCE PACKING — [[epochShuffle]] composed with
    * [[graft.operators.Multimodal.tokenPack]]: every doc's shuffled
    * position becomes the packing order, so fixed-capacity training
    * sequences fill in per-epoch random order instead of ingest
    * order (packing in ingest order puts same-source neighbors in
    * the same sequence — the correlation the shuffle exists to
    * break). One row per doc: its epoch position, token cost, and
    * (seq_id, seq_offset) — what the batch assembler consumes.
    *
    * Scale shape: the shuffle's rank machinery (256 hash-range
    * buckets) feeds the packer's bucketed prefix sum keyed by the
    * DENSE position (0..n−1 — perfectly uniform range buckets), then
    * one id-join re-attaches doc_id. No global window anywhere.
    */
  def epochPack(items: DataFrame, idCol: String, costCol: String,
                seed: String, seqTokens: Long): DataFrame = {
    val pos = epochShuffle(items, idCol, seed) // (doc_id, position)
    val cost = items.select(col(idCol).cast("long").as("doc_id"),
      col(costCol).cast("long").as("n_cost"))
    val packed = Multimodal.tokenPack(
      pos.join(cost, "doc_id").select(col("position"), col("n_cost")),
      "position", "n_cost", seqTokens)
    packed.select(col("doc_id").as("position"), col("n_cost"),
        col("stream_offset"), col("seq_id"), col("seq_offset"))
      .join(pos, "position")
      .select(col("doc_id"), col("position"), col("n_cost"),
        col("stream_offset"), col("seq_id"), col("seq_offset"))
  }

  /** Multi-epoch MIXTURE PLAN — the upsampling twin of the
    * token-budget downsampler: given a per-source weight (parts of
    * the target mixture) and a total token budget, each source's
    * token target is its exact integer share (budget·w) div Σw, and
    * the plan reports how many FULL passes over the source that
    * takes plus the keep rate of the fractional last pass — the
    * "epochs per source" table a pretraining run is configured from
    * (small sources repeat, large sources subsample; repeat_factor
    * > ~4 is the over-repetition warning line in the public
    * data-constrained-scaling literature).
    *
    * Exactness: targets/epochs are integer arithmetic on exact token
    * sums; the two reported rates are single IEEE divisions of exact
    * longs, rounded 6. Bound (documented, not enforceable here):
    * budget·max(w) must stay below 2⁶³ — weights are small integer
    * parts by contract.
    *
    * Scale shape: one map-side-combined aggregate to |sources| rows;
    * everything after runs on the bounded source table (1-row total
    * broadcast-joined).
    */
  def epochPlan(docs: DataFrame, sourceCol: String, costCol: String,
                weightExpr: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val src = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(costCol).cast("long")).as("src_tokens"))
      .withColumn("w", weightExpr.cast("long"))
    val tot = src.agg(sum(col("w")).as("wsum")) // 1-row scalar
    def d(c: Column) = c.cast("double")
    src.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr(s"($budget * w) div wsum"))
      .withColumn("full_epochs", expr("target_tokens div src_tokens"))
      .withColumn("n_epochs", col("full_epochs") +
        when(col("target_tokens") % col("src_tokens") > 0, 1L).otherwise(0L))
      .withColumn("last_keep_rate",
        round(d(col("target_tokens") % col("src_tokens")) / d(col("src_tokens")), 6))
      .withColumn("repeat_factor",
        round(d(col("target_tokens")) / d(col("src_tokens")), 6))
      .select("source", "w", "src_tokens", "target_tokens",
        "full_epochs", "n_epochs", "last_keep_rate", "repeat_factor")
  }

  /** LENGTH-BUCKET padding economics — why dynamic batching exists:
    * each doc pads to the smallest power-of-two boundary holding its
    * token count (clamped at `maxLen`, overflow truncated), and the
    * report prices every bucket: docs, real tokens, padded slots,
    * the waste ratio 1 − kept/padded, and the share of tokens lost
    * to the clamp. Sum the padded column against a
    * single-bucket-at-maxLen baseline to read the saving directly.
    * One map-side-combined aggregate; the boundary ladder is a
    * codegen'd CASE chain, identical in the SQL twin.
    */
  def lengthBuckets(items: DataFrame, costCol: String,
                    minLen: Int = 16, maxLen: Int = 1024): DataFrame = {
    require(minLen >= 1 && Integer.bitCount(minLen) == 1 &&
      Integer.bitCount(maxLen) == 1 && maxLen > minLen,
      s"power-of-two ladder required: $minLen..$maxLen")
    val bounds = Iterator.iterate(minLen)(_ * 2).takeWhile(_ <= maxLen).toSeq
    val n = col(costCol).cast("long")
    val boundary = bounds.init.foldRight(lit(maxLen.toLong)) {
      case (b, acc) => when(n <= b, lit(b.toLong)).otherwise(acc) }
    def d(c: Column) = c.cast("double")
    items.select(n.as("n"), boundary.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), col("bucket"))).as("kept_tokens"),
        sum(col("bucket")).as("padded_slots"))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"), col("padded_slots"),
        round(lit(1.0) - d(col("kept_tokens")) / d(col("padded_slots")), 6)
          .as("pad_waste"),
        round(lit(1.0) - d(col("kept_tokens")) / d(col("total_tokens")), 6)
          .as("truncation_loss"))
  }

  /** RAKING — iterative proportional fitting (Deming & Stephan 1940;
    * the survey-weighting workhorse): reweight a biased sample so its
    * WEIGHTED margins match target margins on two categorical
    * dimensions simultaneously. Each round rescales every (a, b)
    * cell's weight by targetA_a / marginA_a, then by targetB_b /
    * marginB_b; margins converge geometrically (Sinkhorn's theorem —
    * this IS Sinkhorn matrix balancing on the cell count matrix).
    * The training-mix use: force a post-filter corpus back to the
    * pre-filter (type × day-of-week) composition without re-reading
    * the dropped rows.
    *
    * Determinism: the corpus reduces to |A|·|B| exact cell counts in
    * one aggregate; weights live as 1e9-scaled longs, and each round
    * recomputes them through one fixed IEEE chain w' = round(w·t·1e9
    * /m) off exact-integer margins m = Σ n·w9 (order-independent
    * sums) — the [[graft.operators.Graph.pageRank]] round-replay
    * contract, so the oracle unrolls the same rounds as CTEs. Cells
    * absent from a target (or targets without support in the sample)
    * drop at the initial inner join — IPF has no finite fixed point
    * for them; the count columns expose the drop.
    *
    * Scale shape: ONE corpus-scan aggregate; every round then
    * touches only the bounded cell table (category-sized joins, no
    * corpus re-scan) — the per-row weight application is a broadcast
    * join at consumption time.
    */
  def rakeWeights(sample: DataFrame, dimA: String, dimB: String,
                  targetA: DataFrame, targetB: DataFrame,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    def d(c: Column) = c.cast("double")
    val tA = broadcast(targetA.select(col(dimA).as("a"),
      col("target").cast("long").as("ta")))
    val tB = broadcast(targetB.select(col(dimB).as("b"),
      col("target").cast("long").as("tb")))
    val cells0 = sample.groupBy(col(dimA).as("a"), col(dimB).as("b"))
      .agg(count(lit(1)).as("n"))
      .join(tA, "a").join(tB, "b")
      .withColumn("w9", lit(1000000000L))
      .localCheckpoint()
    val cells = Rounds.iterate(cells0, rounds) { (cells, _) =>
      val mA = cells.groupBy("a")
        .agg(sum(col("n") * col("w9")).as("ma")) // exact long margin
      val stepA = cells.join(mA, "a")
        .withColumn("w9",
          round(d(col("w9")) * d(col("ta")) * 1e9 / d(col("ma")), 0)
            .cast("long"))
        .drop("ma")
      val mB = stepA.groupBy("b")
        .agg(sum(col("n") * col("w9")).as("mb"))
      stepA.join(mB, "b")
        .withColumn("w9",
          round(d(col("w9")) * d(col("tb")) * 1e9 / d(col("mb")), 0)
            .cast("long"))
        .drop("mb")
    }
    val out = Rounds.materialize(cells.select(col("a"), col("b"), col("n").as("n_cell"),
        col("ta").as("target_a"), col("tb").as("target_b"),
        round(d(col("w9")) / 1e9, 9).as("weight"),
        round(d(col("n") * col("w9")) / 1e9, 6).as("weighted_n")))
    Rounds.release(cells)
    out
  }

  /** LEAKAGE-FREE train/val/test split: assign by the near-dup
    * CLUSTER, not the document — the eval-contamination fix for the
    * classic bug where a train doc's near-duplicate lands in test
    * and inflates every metric (the Lee et al. 2022 dedup paper's
    * central warning). All cluster mates share md5(cluster_id), so
    * they land on the SAME side by construction; the thresholds are
    * the hash-split convention of the doc-level `sample_split`
    * (~5% val, ~5% test). Consumes a materialized
    * [[graft.operators.Dedup.ensureClusterMap]] artifact — another
    * served-map consumer, no pair recompute.
    */
  def leakageFreeSplit(clusterMap: DataFrame): DataFrame =
    clusterMap.select(col("doc_id"), col("cluster_id"))
      .withColumn("h", substring(md5(col("cluster_id").cast("string")), 1, 4))
      .select(col("doc_id"), col("cluster_id"),
        when(col("h") < "0ccc", "val")
          .when(col("h") < "1999", "test")
          .otherwise("train").as("split"))

  /** GROUP k-FOLD off the served near-dup cluster map — the k-way
    * generalization of [[leakageFreeSplit]]: a fold is assigned to
    * the CLUSTER (md5 of the cluster id, mod k), so near-duplicate
    * documents can never land in different folds — the
    * cross-validation analogue of the leakage-free split (a fold
    * evaluated against siblings of its own training docs measures
    * memorization, not generalization). Deterministic md5 draw, no
    * RNG; map-only over the served two-column map.
    */
  def groupKFold(clusterMap: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2 folds: $k")
    clusterMap.select(col("doc_id"), col("cluster_id"))
      .withColumn("fold",
        pmod(graft.functions.TextFunctions.md5Prefix64(
          col("cluster_id").cast("string")), lit(k.toLong)))
      .select(col("doc_id"), col("cluster_id"), col("fold"))
  }

  def effectiveSampleSize(df: DataFrame, stratumCol: String,
                          weightCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    df.select(col(stratumCol).as("stratum"),
              col(weightCol).cast("long").as("w"))
      .where(col("w").isNotNull && col("w") > 0)
      .groupBy("stratum")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
           sum(col("w") * col("w")).as("sww"))
      .select(col("stratum"), col("n"), col("sw").as("sum_w"),
        round(d(col("sw")) * d(col("sw")) / d(col("sww")), 6).as("ess"),
        round(d(col("sw")) * d(col("sw")) / d(col("sww")) / d(col("n")), 6)
          .as("efficiency"))
  }
}
