package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding storage/prep operators for large-scale vector pipelines
  * (the "write 100 TB of vectors affordably" side of the ANN stack in
  * [[Similarity]]).
  */
object Embeddings {

  /** Embedding hygiene — the checks a vector corpus needs BEFORE any
    * ANN/dedup pass trusts it: dimensionality, L2 norm, NaN presence,
    * and a degenerate flag (near-zero norm or NaN — cosine against
    * such vectors is meaningless/unstable). Map-only: a narrow
    * projection over the scan, no shuffle; at 100 TB this runs at
    * scan speed as a pre-ingest filter.
    */
  /** Per-dimension activation report: mean, variance, min/max, and a
    * dead-dimension flag — the pre-PCA sanity check (a dead or
    * near-constant dimension wastes model capacity and distorts
    * whitening; collapsed dims are the classic symptom of a broken
    * embedding export).
    *
    * Exactness: each component scales to a round-6 long, so Σx and
    * Σx² are exact and variance = (n·Σx² − (Σx)²)/n² touches doubles
    * only at the final division; the dead flag is the exact integer
    * min = max. Long-overflow bound: |v| ≲ 30 at ~10⁹ rows·dims per
    * dimension (Σx² < 2⁶³); larger corpora pass a coarser scale.
    *
    * Scale shape: one posexplode + one |dims|-row hash aggregate
    * (map-side partial), no window, no collect.
    */
  def dimStats(emb: DataFrame, vecCol: String,
               scale: Long = 1000000L): DataFrame = {
    val x = emb.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"),
              round(col("v").cast("double") * scale, 0).cast("long").as("s"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val sc = scale.toDouble
    x.groupBy("dim")
      .agg(count(lit(1)).as("n"),
           sum(col("s")).as("sx"), sum(col("s") * col("s")).as("sxx"),
           min(col("s")).as("mn"), max(col("s")).as("mx"))
      .select(col("dim"), col("n"),
        round(d(col("sx")) / d(col("n")) / sc, 6).as("mean"),
        round((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
              / (d(col("n")) * d(col("n"))) / (sc * sc), 6).as("variance"),
        round(d(col("mn")) / sc, 6).as("min_val"),
        round(d(col("mx")) / sc, 6).as("max_val"),
        (col("mn") === col("mx")).as("is_dead"))
  }

  /** Axis-aligned effective dimensionality (participation ratio):
    * (Σ_d v_d)² / Σ_d v_d² over the per-dimension variances — ~n_dims
    * for an isotropic cloud, ~1 when one axis dominates. The cheap
    * anisotropy diagnostic before paying for the PCA basis (axis-
    * aligned: it uses marginal variances, not eigenvalues — an
    * approximation, and exactly the one [[dimStats]] already pays
    * for).
    *
    * Determinism: variances come from [[dimStats]]' exact moments and
    * re-scale to round-6 longs, so both cross-dimension sums are
    * exact integers; the ratio divides factor-cast doubles once.
    */
  def effectiveDim(emb: DataFrame, vecCol: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val v = dimStats(emb, vecCol)
      .select(round(col("variance") * 1e6, 0).cast("long").as("v6"))
    v.agg(count(lit(1)).as("n_dims"),
          sum(col("v6")).as("sv"), sum(col("v6") * col("v6")).as("svv"))
      .select(col("n_dims"),
        round(d(col("sv")) / 1e6, 6).as("total_variance"),
        round(d(col("sv")) * d(col("sv")) / d(col("svv")), 6).as("effective_dim"),
        round(d(col("sv")) * d(col("sv")) / d(col("svv"))
              / d(col("n_dims")), 6).as("isotropy_ratio"))
  }

  /** Mean pairwise cosine ISOTROPY report — the anisotropy
    * diagnostic of Ethayarajh (2019) and the "common direction" of
    * Mu & Viswanath (2018, all-but-the-top): contextual/embedding
    * clouds routinely collapse into a narrow cone, which inflates
    * every cosine score and breaks cosine-based retrieval. Reported
    * via the sum-vector identity — for unit vectors uᵢ, the mean
    * cosine over ordered pairs i≠j is (‖Σuᵢ‖² − Σ‖uᵢ‖²)/(n(n−1)) —
    * so the ALL-PAIRS quantity costs one scan and d sums, never a
    * pairwise join (the [[effectiveDim]] posture: cheap diagnostic
    * before any quadratic work). Complements [[effectiveDim]]:
    * participation ratio reads variance spread per axis, this reads
    * the mean-direction bias ‖μ‖ that variance cannot see.
    *
    * Determinism: each unit component rounds to 6 and scales to an
    * exact long; per-dim sums S_d and the self-term Σs² are exact
    * integer aggregates (order-independent); ‖S‖² accumulates
    * S_d·S_d as decimal(38,0) (S_d² alone can reach 2⁶² — a long sum
    * would overflow; HUGEINT on the oracle side). The two reported
    * values are fixed IEEE chains off those exact integers, round 6.
    * Zero-norm vectors have no direction and are dropped (counted
    * out of n_vecs by construction).
    */
  def isotropy(emb: DataFrame, vecCol: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val u = emb.select(col(vecCol).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
      .where(col("nrm") > 0)
    val s = u.select(posexplode(transform(col("v"),
        x => round(d(x) / col("nrm") * 1e6, 0).cast("long")))
      .as(Seq("pos", "s")))
    val perDim = s.groupBy("pos").agg(sum(col("s")).as("sd"),
      sum(col("s") * col("s")).as("t2"))
    val nv = u.agg(count(lit(1)).as("n_vecs"),
      max(size(col("v"))).cast("long").as("n_dims")) // 1-row scalar
    perDim.agg(
        sum(col("sd").cast("decimal(38,0)") * col("sd").cast("decimal(38,0)"))
          .as("ss"),
        sum(col("t2")).cast("decimal(38,0)").as("tt"))
      .crossJoin(broadcast(nv))
      .select(col("n_vecs"), col("n_dims"),
        round(d(col("ss") - col("tt")) / 1e12
          / (d(col("n_vecs")) * (d(col("n_vecs")) - 1)), 6)
          .as("mean_pairwise_cos"),
        round(sqrt(d(col("ss"))) / 1e6 / d(col("n_vecs")), 6)
          .as("mean_vec_norm"))
  }

  def embeddingQuality(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("vec")))
      .withColumn("has_nan", exists(col("vec"), x => isnan(x.cast("double"))))
      .select(
        col("id"),
        size(col("vec")).cast("long").as("dim"),
        round(col("nrm"), 6).as("norm"),
        col("has_nan"),
        (col("has_nan") || col("nrm") < 1e-6).as("is_degenerate"))

  /** Centroid drift between two embedding slices — the cheapest
    * embedding-distribution monitor: per-dimension means of each
    * slice (exact scaled-long sums, the [[topPrincipalComponent]]
    * moment discipline), then the L2 distance between the two mean
    * vectors. A re-embedded corpus, a model swap, or upstream text
    * drift all move this number before anything else does; alert on
    * it BEFORE trusting recall numbers across snapshots. One hash
    * aggregate per slice over (dim) — 2·d output rows regardless of
    * corpus size; the final distance folds d rows with round-9
    * scaled-long terms so the report hash-matches the SQL replay.
    */
  def centroidDrift(embA: DataFrame, embB: DataFrame,
                    vecCol: String, scale: Double = 1e4): DataFrame = {
    def dimMeans(df: DataFrame) = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(sum(round(col("x").cast("double") * scale, 0).cast("long")).as("s"),
           count(lit(1)).as("n"))
      .select(col("dim"),
        (col("s").cast("double") / (lit(scale) * col("n"))).as("mean"),
        col("n"))
    val a = dimMeans(embA).select(col("dim"), col("mean").as("ma"), col("n").as("na"))
    val b = dimMeans(embB).select(col("dim"), col("mean").as("mb"), col("n").as("nb"))
    a.join(b, Seq("dim"))
      .withColumn("dl", round(
        (col("ma") - col("mb")) * (col("ma") - col("mb")), 9).cast("double"))
      .withColumn("dl", round(col("dl") * 1e9, 0).cast("long"))
      .groupBy()
      .agg(round(sqrt(sum(col("dl")) / 1e9), 6).as("l2_shift"),
           max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
  }

  /** Matryoshka truncation: keep the first `dims` coordinates of each
    * embedding (MRL-trained models pack the most information into the
    * leading prefix), optionally re-normalized to unit L2 — the
    * storage/latency knob that shrinks a vector corpus `d/dims`-fold
    * BEFORE any index is built. Map-only, no shuffle: at 100 TB this
    * is a scan-speed projection; pair with [[Similarity.bruteForceTopK]]
    * or the IVF/PQ family on the truncated column and measure the
    * recall trade exactly like the quantization gates. Re-norm is
    * irrelevant to cosine ranking (scale-invariant) but required
    * before inner-product serving or int8 quantization.
    */
  def matryoshkaTruncate(emb: DataFrame, vecCol: String, dims: Int,
                         renorm: Boolean = true): DataFrame = {
    val sliced = slice(col(vecCol), 1, dims)
    val out = if (renorm) {
      val nrm = sqrt(aggregate(sliced, lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double")))
      when(nrm > lit(0.0d),
        transform(sliced, x => (x.cast("double") / nrm).cast("float")))
        .otherwise(sliced)
    } else sliced
    emb.withColumn(vecCol, out)
  }

  /** The deterministic ±1 Rademacher sign matrix behind [[jlProject]]
    * (row j = output dimension, column i = input dimension): sign =
    * parity of the first 32 md5 bits of "seed_j_i". Exposed so an
    * external oracle can inline the IDENTICAL literals instead of
    * trusting two engines' hash builtins to agree.
    */
  def jlSigns(dIn: Int, dOut: Int, seed: String): Seq[Seq[Long]] =
    (0 until dOut).map { j =>
      (0 until dIn).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${seed}_${j}_${i}".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
      }
    }

  /** Johnson–Lindenstrauss random projection d → d′ with a
    * deterministic Rademacher matrix (Achlioptas 2003: ±1 entries
    * preserve pairwise distances in expectation like Gaussians, and
    * the matvec is adds/subtracts only): y = R·x/√d′, reported with
    * the per-vector norm distortion ‖y‖/‖x‖ — the dimensionality-
    * reduction step a 100 TB vector corpus takes BEFORE paying for
    * storage/ANN at full width, plus the audit of how much geometry
    * the projection actually kept.
    *
    * Determinism: components quantize to scaled longs (`scale`,
    * default 1e4); with ±1 signs every projected component is a plain
    * SUM OF LONGS — exact in any aggregation or fold order — and both
    * squared norms are exact long sums too. Doubles appear only in
    * the final sqrt/divide chain (scale cancels in the distortion).
    * Overflow bound: |y_scaled| ≤ d·scale·max|x| ≈ 2^31 at d = 64,
    * so Σy² over d′ = 8 stays ≪ 2⁶³; wider inputs pass a coarser
    * scale. The sign matrix derives from md5("seed_j_i") computed
    * HERE (JVM md5) and exposed via [[jlSigns]] so an oracle replays
    * the same literals.
    *
    * Scale shape: map-only — d′ zip_with/aggregate HOF folds per row
    * inside one projection, zero exchanges (the [[quantizeInt8]]
    * plan contract). Output: id, norms, distortion, and y1..yd′ as
    * columns.
    */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
                dIn: Int, dOut: Int, scale: Long = 10000L,
                seed: String = "jl"): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val signs = jlSigns(dIn, dOut, seed)
    val xs = transform(col(vecCol),
      x => round(x.cast("double") * scale, 0).cast("long"))
    val base = emb.select(col(idCol).as("id"), xs.as("xs"))
    val ys = signs.zipWithIndex.map { case (row, j) =>
      val sArr = array(row.map(lit): _*)
      aggregate(zip_with(col("xs"), sArr, (x, s) => x * s),
        lit(0L), (a, e) => a + e).as(s"_ys${j + 1}")
    }
    val nIn2 = aggregate(transform(col("xs"), x => x * x),
      lit(0L), (a, e) => a + e).as("_nin2")
    val wide = base.select((col("id") +: nIn2 +: ys): _*)
    val nOut2 = (1 to dOut).map(j => col(s"_ys$j") * col(s"_ys$j"))
      .reduce(_ + _)
    val sc = scale.toDouble
    val rtD = math.sqrt(dOut.toDouble)
    val normIn = sqrt(d(col("_nin2"))) / sc
    val normOut = sqrt(d(nOut2) / dOut) / sc
    val outCols =
      col("id") +:
      round(normIn, 6).as("norm_in") +:
      round(normOut, 6).as("norm_out") +:
      when(col("_nin2") > 0,
        round(sqrt(d(nOut2) / dOut) / sqrt(d(col("_nin2"))), 6))
        .as("distortion") +:
      (1 to dOut).map(j =>
        round(d(col(s"_ys$j")) / sc / rtD, 6).as(s"y$j"))
    wide.select(outCols: _*)
  }

  /** Top principal component of the embedding corpus by power
    * iteration — the drift/whitening diagnostic an embedding pipeline
    * runs before trusting cosine geometry (a dominant component
    * swallowing most variance means anisotropic, poorly-spread
    * vectors).
    *
    * Exactness: components quantize to scaled longs (`scale`, default
    * 1e4 — sum-of-products bound n·(scale·max|x|)² must stay under
    * 2^63, which holds to ~10^9 rows at this scale; larger corpora
    * pass a smaller scale), so the second-moment matrix is EXACT
    * integer sums in any aggregation order; the covariance then
    * derives per cell from two exact longs and two means. Each power
    * round re-rounds the unit vector to 9 decimals (the
    * [[Graph.pageRank]] discipline), so the whole iteration — and the
    * DuckDB oracle that replays it round-for-round — is
    * engine-exact. Eigenvalue = ‖Cv‖ of the final round (v is unit).
    *
    * Scale shape: the only corpus-sized work is the d²-fanout
    * self-join feeding ONE hash aggregate (map-side combine shrinks
    * every task to ≤ d² rows); everything after operates on d²-row
    * tables, with the 1-row norm broadcast per round. The covariance
    * localCheckpoints once — the iteration never re-touches the
    * corpus.
    */
  /** The exact scaled-long covariance matrix (d² rows, checkpointed)
    * shared by [[topPrincipalComponent]] and
    * [[topPrincipalComponents]] — see the exactness notes there.
    */
  private def covarianceMatrix(emb: DataFrame, idCol: String, vecCol: String,
                               scale: Long): DataFrame = {
    val x = emb.select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), (col("pos") + 1).cast("long").as("i"),
              round(col("col").cast("double") * scale, 0).cast("long").as("xl"))
    val nRow = emb.agg(count(lit(1)).cast("double").as("n"))
    val mu = x.groupBy("i").agg(sum(col("xl")).as("sxl"))
      .crossJoin(broadcast(nRow))
      .select(col("i"), (col("sxl").cast("double") / col("n") / scale).as("mu"),
              col("n"))
    // UPPER TRIANGLE only through the expensive corpus-sized
    // join+aggregate (i ≤ j halves the per-id product fan-out from d²
    // to d(d+1)/2), then mirror: the exact-long sums are commutative,
    // so the mirrored cell is bit-identical to computing it directly
    // and the downstream matvec/oracle see the same full matrix
    val upper = x.as("a")
      .join(x.as("b"), col("a.id") === col("b.id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.xl") * col("b.xl")).as("sxy"))
    val sxyFull = upper.union(
      upper.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("sxy")))
    sxyFull
      .join(mu.select(col("i"), col("mu").as("mu_i"), col("n")), "i")
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mu_j"))), "j")
      .select(col("i"), col("j"),
        (col("sxy").cast("double") / (scale.toDouble * scale) / col("n")
          - col("mu_i") * col("mu_j")).as("c"))
      .localCheckpoint() // d² rows; cuts the corpus-sized lineage
  }

  def topPrincipalComponent(emb: DataFrame, idCol: String, vecCol: String,
                            iters: Int = 8, scale: Long = 10000L): DataFrame = {
    val cov = covarianceMatrix(emb, idCol, vecCol, scale)
    val v = powerIterate(cov, iters)
    // eigenvalue as ‖C·v_final‖ (v is unit) — one extra matvec off
    // the final checkpointed vector. The d-row output materializes
    // eagerly so the checkpointed covariance and vector can drop NOW
    // instead of living for the caller's JVM lifetime.
    val wf = cov.join(v, "j").groupBy(col("i"))
      .agg(sum(col("c") * col("x")).as("w"))
    val lam = wf.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val out = Rounds.materialize(v.crossJoin(broadcast(lam))
      .select(col("j").as("dim"), round(col("x"), 6).as("loading"),
              round(col("nrm"), 6).as("eigenvalue")))
    Rounds.release(cov, v)
    out
  }

  /** `iters` rounds of power iteration on a checkpointed (i, j, c)
    * covariance from the uniform unit vector: the materialized (j, x)
    * unit vector, x rounded to 9 every round.
    */
  private def powerIterate(cov: DataFrame, iters: Int): DataFrame = {
    // dims derive from the CHECKPOINTED covariance, not from mu —
    // round 1 would otherwise re-run the corpus explode+aggregate
    // that mu's lineage carries
    val dims = cov.select(col("i")).distinct()
    val dRow = dims.agg(count(lit(1)).cast("double").as("d"))
    Rounds.iterate(dims.crossJoin(broadcast(dRow))
        .select(col("i").as("j"), round(lit(1.0) / sqrt(col("d")), 9).as("x")),
        iters) { (v, _) =>
      // ONE eager job per round: the norm stays a lazy 1-row subquery
      // inside the round's checkpoint, so w's d²-row matvec evaluates
      // twice within one job (cov is checkpointed — cheap) instead of
      // paying a second eager job per round. The checkpoint itself is
      // still required — v is consumed twice NEXT round (the
      // Graph.pageRank lazy-doubling lesson).
      val w = cov.join(v, "j").groupBy(col("i"))
        .agg(sum(col("c") * col("x")).as("w"))
      val nrm = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), round(col("w") / col("nrm"), 9).as("x"))
    }
  }

  /** Top `nComponents` principal components by power iteration with
    * DEFLATION: after each component converges, its rank-1 projection
    * λ·v·vᵀ is subtracted from the covariance and the iteration
    * restarts on the residual — the classical sequential-eigenvector
    * scheme. One component is a diagnostic; whitening / anisotropy
    * correction (the embedding-hygiene use case) needs a small basis.
    *
    * Engine-parity extends [[topPrincipalComponent]]'s contract to the
    * deflation step: λ is re-rounded to 9 before the subtraction, and
    * every deflated cell re-rounds to 12 (cell arithmetic is scalar —
    * deterministic per se — but the re-round pins the contract the
    * oracle replays; 12 decimals keeps the residual's ~1e-2-magnitude
    * cells at 10 significant digits). The DuckDB oracle replays every
    * component's every round AND each deflation as MATERIALIZED CTEs.
    *
    * Scale shape: identical to the single-component op — the corpus is
    * touched ONCE (the shared d²-fanout covariance); each deflation is
    * a d²-row join, each round a d²-row matvec. Storage stays one d²
    * table.
    */
  def topPrincipalComponents(emb: DataFrame, idCol: String, vecCol: String,
                             nComponents: Int = 3, iters: Int = 8,
                             scale: Long = 10000L): DataFrame = {
    var cov = covarianceMatrix(emb, idCol, vecCol, scale)
    val comps = Seq.newBuilder[DataFrame]
    for (m <- 1 to nComponents) {
      // dims re-derived from the CURRENT residual (each checkpointed):
      // earlier residuals' blocks are released, so no lineage may
      // reach back through them
      val v = powerIterate(cov, iters)
      val wf = cov.join(v, "j").groupBy(col("i"))
        .agg(sum(col("c") * col("x")).as("w"))
      val lam = wf.agg(round(sqrt(sum(col("w") * col("w"))), 9).as("lam"))
      comps += v.crossJoin(broadcast(lam))
        .select(lit(m.toLong).as("component"), col("j").as("dim"),
                round(col("x"), 6).as("loading"),
                round(col("lam"), 6).as("eigenvalue"))
        .localCheckpoint()
      if (m < nComponents) {
        val prevCov = cov
        cov = Rounds.materialize(cov
          .join(v.select(col("j").as("i"), col("x").as("xi")), "i")
          .join(v.select(col("j"), col("x").as("xj")), "j")
          .crossJoin(broadcast(lam))
          .select(col("i"), col("j"),
            round(col("c") - col("lam") * col("xi") * col("xj"), 12).as("c")))
        Rounds.release(prevCov)
      }
      Rounds.release(v)
    }
    Rounds.release(cov)
    comps.result().reduce(_ unionByName _)
  }

  /** PCA whitening — the APPLICATION the [[topPrincipalComponents]]
    * basis exists for (anisotropy correction: embedding similarity
    * scores degrade when a few directions carry most variance; the
    * fix projects onto the top components and rescales each to unit
    * variance): score(id, m) = (x − μ)ᵀ v_m / √λ_m over the PUBLISHED
    * basis (loadings/eigenvalues at their round-6 contract, so the
    * projection is a pure function of a table both engines already
    * hash-match).
    *
    * Exactness: the centered projection splits into Σ x·v − Σ μ·v;
    * both sums run over EXACT scaled longs (x at `scale`, loadings at
    * 1e6 — products ≲ 1e10·d per row, the [[covarianceMatrix]] long
    * bound), so no float-summation-order drift; the one double
    * expression at the end rounds to 6.
    *
    * Scale shape: the basis is d·m rows and broadcasts; scoring is one
    * map-side join + hash aggregate keyed (id, component) — a single
    * shuffle of skinny rows, linear in corpus size; the μ-term is a
    * d-row control-plane aggregate.
    */
  def whiten(emb: DataFrame, idCol: String, vecCol: String,
             nComponents: Int = 3, iters: Int = 8,
             scale: Long = 10000L): DataFrame =
    whitenWithBasis(emb, idCol, vecCol,
      topPrincipalComponents(emb, idCol, vecCol, nComponents, iters, scale), scale)

  /** Materialize the [[topPrincipalComponents]] basis once per corpus
    * — the `ensureClusterMap` discipline applied to PCA: the basis is
    * d·m rows, the pipeline that produces it touches the whole
    * corpus, and every consumer (component listing, [[whiten]],
    * future anisotropy reports) should pay for it exactly once. The
    * parquet `_SUCCESS` is the build marker; a crashed build leaves
    * no marker and ensure rebuilds.
    */
  def writePcaBasis(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, nComponents: Int = 3, iters: Int = 8,
                    scale: Long = 10000L): Unit =
    topPrincipalComponents(emb, idCol, vecCol, nComponents, iters, scale)
      .write.mode("overwrite").parquet(path)

  /** [[writePcaBasis]] only if the basis isn't already on disk; `emb`
    * is by-name so nothing of the corpus pipeline evaluates on the
    * hot path.
    *
    * No `appendPcaDelta` — DELIBERATELY out of the incremental-
    * maintenance contract the other artifacts carry (BM25 / IVF /
    * cluster map / basket graph): those artifacts are sums or unions
    * of per-row contributions, so a delta merges exactly; an
    * eigenbasis is a GLOBAL nonlinear function of the covariance —
    * no bounded summary of the old corpus reconstructs the new
    * basis exactly. The honest incremental alternatives (Oja /
    * incremental SVD) are approximations whose output depends on
    * arrival order, which breaks this repo's exact-oracle contract.
    * Policy: REBUILD on delta (the ensure marker makes that one
    * cheap line), or accept a stale basis between scheduled rebuilds
    * — the standard production trade for drift-tolerant whitening.
    */
  def ensurePcaBasis(emb: => DataFrame, idCol: String, vecCol: String,
                     path: String, nComponents: Int = 3, iters: Int = 8,
                     scale: Long = 10000L): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writePcaBasis(emb, idCol, vecCol, path, nComponents, iters, scale)
  }

  /** [[whiten]] against an already-materialized basis (the serving
    * path — see [[ensurePcaBasis]]).
    */
  def whitenWithBasis(emb: DataFrame, idCol: String, vecCol: String,
                      basis: DataFrame, scale: Long = 10000L): DataFrame = {
    val lb = basis.select(col("component"), col("dim"),
      round(col("loading") * 1000000, 0).cast("long").as("ll"),
      col("eigenvalue"))
    val x = emb.select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), (col("pos") + 1).cast("long").as("dim"),
              round(col("col").cast("double") * scale, 0).cast("long").as("xl"))
    val nRow = emb.agg(count(lit(1)).cast("double").as("n"))
    val f = scale.toDouble * 1000000.0
    val t1 = x.join(broadcast(lb), "dim")
      .groupBy("id", "component")
      .agg(sum(col("xl") * col("ll")).cast("double").as("t1"),
           first(col("eigenvalue")).as("lam"))
    val sums = x.groupBy("dim").agg(sum(col("xl")).as("sxl"))
    val t2 = sums.join(broadcast(lb), "dim")
      .groupBy("component")
      .agg(sum(col("sxl") * col("ll")).cast("double").as("t2"))
    t1.join(broadcast(t2), "component").crossJoin(broadcast(nRow))
      .select(col("id"), col("component"),
        round((col("t1") / f - col("t2") / (col("n") * f)) / sqrt(col("lam")), 6)
          .as("score"))
  }

  /** Symmetric int8 scalar quantization, long form (id, dim, q,
    * scale): per vector, scale = 127 / max|vᵢ| and qᵢ =
    * ⌊vᵢ·scale + 0.5⌋. `floor(x + 0.5)` instead of round() so Spark
    * and any SQL engine agree on halfway cases (round() half-up vs
    * half-even differs per engine on negatives). All-zero vectors
    * (scale undefined) are dropped. Dequantize error ≤ 0.5/scale per
    * component; storage drops 4× (plus one double per vector).
    *
    * Scale shape: map-only — a narrow projection + posexplode, no
    * shuffle at all; quantization streams through at scan speed. The
    * emitted `scale` column is rounded to 6 for display; qᵢ uses the
    * raw scale so both engines compute identical integers.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      // max|v| via array_max/-array_min: single-pass collection ops,
      // no per-element lambda
      .withColumn("maxabs",
        greatest(array_max(col("vec")).cast("double"), -array_min(col("vec")).cast("double")))
      .where(col("maxabs") > 0)
      .withColumn("scale", lit(127.0) / col("maxabs"))
      .select(col("id"), col("scale"), posexplode(col("vec")))
      .select(
        col("id"),
        (col("pos") + 1).cast("long").as("dim"),
        floor(col("col").cast("double") * col("scale") + 0.5).cast("long").as("q"),
        round(col("scale"), 6).as("scale"))
}
