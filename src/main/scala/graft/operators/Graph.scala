package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over edge-list DataFrames — the iterative
  * fixed-point family (the structural cousin of
  * [[Dedup.connectedClusters]]'s large-star/small-star loop).
  */
object Graph {

  /** Weighted PageRank by fixed-round power iteration over an
    * edge list (src, dst, weight).
    *
    * Scale shape: the normalized edge table is repartitioned ONCE on
    * src and cached; each round shuffles only the |V|-row rank table
    * into that layout, aggregates contributions by dst (map-side
    * partial agg first — contributions to a hot dst combine before
    * the shuffle), and folds the dangling mass through a 1-row
    * broadcast. No collect anywhere; each round's |V|-row rank table
    * is materialized eagerly (see the in-loop comment — the rank
    * table is consumed twice per round, so lazy lineage would double
    * every iteration).
    *
    * Determinism contract (DuckDB oracle parity): out-weights and the
    * node count are exact count/sum-of-count aggregates; per-edge
    * transition probabilities are one double division of exact
    * inputs; every iteration's rank is rounded to 9 decimals, so each
    * round's INPUTS are bit-identical in any engine and float-sum
    * association error (~1e-16 per round) can never accumulate — the
    * kmeans-iteration technique ([[Similarity.kmeansIterations]]).
    * Callers round the final rank coarser (6) for comparison.
    *
    * Dangling nodes (no outgoing edges) donate their mass uniformly:
    * pr'(v) = (1-d)/N + d·(Σ_in pr(u)·p(u,v) + dang/N).
    */
  /** SimRank (Jeh & Widom, KDD 2002) — "two nodes are similar if
    * their in-neighbors are similar": s(a,b) = C/(|I(a)||I(b)|) ·
    * Σ_{i∈I(a), j∈I(b)} s(i,j), s(a,a)=1, 0 when either in-set is
    * empty. The structural-similarity classic next to the local
    * overlap scores (Adamic-Adar / Jaccard see only SHARED
    * neighbors; SimRank propagates similarity recursively). Rounds
    * are synchronous and pinned; per-round scores re-round to 9 and
    * live as scaled longs between rounds (the pageRank determinism
    * contract), so the oracle replays every round exactly.
    *
    * Scale: s is a |V|²-row table — SimRank is for BOUNDED node sets
    * (type graphs, category graphs, a hub subgraph), which is also
    * the published algorithm's regime; each round is the in-neighbor
    * pair join + one aggregate, all on |V|²·d̄² bounded frames.
    */
  def simRank(edges: DataFrame, srcCol: String, dstCol: String,
              c: Double = 0.8, rounds: Int = 3): DataFrame = {
    require(c > 0 && c < 1 && rounds >= 1, s"bad simrank params: $c/$rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val inn = e.select(col("dst").as("node"), col("src").as("i"))
    val ind = inn.groupBy("node").agg(count(lit(1)).as("ind"))
    val grid = nodes.select(col("node").as("a"))
      .crossJoin(nodes.select(col("node").as("b"))) // |V|² bounded
    val s0 = grid.withColumn("s9",
        when(col("a") === col("b"), lit(1000000000L)).otherwise(lit(0L)))
      .localCheckpoint()
    def roundOf(sPrev: DataFrame): DataFrame = {
      val g = inn.select(col("node").as("a"), col("i").as("ia"))
        .crossJoin(inn.select(col("node").as("b"), col("i").as("ib")))
        .join(sPrev.select(col("a").as("ia"), col("b").as("ib"), col("s9")),
          Seq("ia", "ib"))
        .groupBy("a", "b").agg(sum("s9").as("ssum"))
      val contrib = g
        .join(ind.select(col("node").as("a"), col("ind").as("na")), "a")
        .join(ind.select(col("node").as("b"), col("ind").as("nb")), "b")
        .select(col("a"), col("b"),
          round(lit(c) * (col("ssum").cast("double") / 1e9)
            / (col("na") * col("nb")).cast("double"), 9).as("sv"))
      grid.join(contrib, Seq("a", "b"), "left")
        .withColumn("s9",
          when(col("a") === col("b"), lit(1000000000L))
            .otherwise(round(coalesce(col("sv"), lit(0.0)) * 1e9, 0)
              .cast("long")))
        .select("a", "b", "s9")
    }
    // one eager checkpoint per round (round fusing measured slower —
    // see pageRank's round-8 note)
    val s = Rounds.iterate(s0, rounds)((sPrev, _) => roundOf(sPrev))
    s.select(col("a"), col("b"),
      round(col("s9").cast("double") / 1e9, 9).as("simrank"))
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int,
               damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
    // nodes and outW are read EVERY round (the dangling-mass anti-join
    // and the rank rebuild) — without the persist each round would
    // recompute the whole upstream edge derivation
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val outW = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("out_w"))
      .persist()
    val norm = e.join(outW.withColumnRenamed("node", "src"), "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("p"))
      .repartition(col("src"))
      .persist()
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val ranks0 = nodes.crossJoin(broadcast(nRow))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 9).as("pr"))
    def roundOf(r: DataFrame): DataFrame = {
      val dangling = r.join(outW, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dang"))
      val contrib = norm.join(r.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("in_sum"))
      nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nRow))
        .select(col("node"),
          round(lit(1 - damping) / col("n_nodes") +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) +
                            col("dang") / col("n_nodes")),
            9).as("pr"))
    }
    // EVERY round, eagerly: the rank table is referenced twice per
    // round (dangling mass + contributions), so a lazy plan DOUBLES
    // each iteration — 2^iters subplans by analysis time. An eager
    // |V|-row localCheckpoint per round (the GraphX discipline)
    // keeps the plan constant-size.
    // MEASURED NEGATIVE (round 8): fusing two rounds per checkpoint —
    // halving the job count — ran ~25% SLOWER at sf0.1 (pagerank
    // 3.6→4.6 s, hits 5.5→6.7 s, 3-rep medians): the fused lazy round
    // re-evaluates its two-consumer inner state, and the per-round
    // checkpoint is also what lets AQE right-size each round's input.
    // Per-round checkpoints stay.
    val ranks = Rounds.iterate(ranks0, iters)((r, _) => roundOf(r))
    // re-materialize the projection so EVERY working table — including
    // the last round's checkpoint — can drop now instead of living for
    // the caller's JVM lifetime (at scale the rank table is |V| rows
    // of executor storage)
    val out = Rounds.materialize(ranks.select(col("node"), col("pr")))
    Rounds.release(ranks)
    norm.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outW.unpersist(blocking = false)
    out
  }

  /** Personalized PageRank (random walk with restart): [[pageRank]]
    * with the restart mass concentrated on a seed set instead of
    * uniform — pr'(v) = (1−d)·s(v) + d·(Σ_in pr(u)·p(u,v) +
    * dang·s(v)), where s is uniform over `seeds` (and 0 elsewhere),
    * and the dangling mass also restarts INTO the seed
    * distribution (the standard PPR convention — total mass stays
    * 1). Ranks answer "how close is v to the seed neighborhood",
    * the relevance/recommendation form of PageRank.
    *
    * Same engine-parity and scale contract as [[pageRank]]: exact
    * count weights, per-round round-9, one |V|-row eager checkpoint
    * per round, no collect; the seed vector is a |V|-row table
    * joined once up front (seeds themselves are a semi-join, not a
    * literal list, so a 10⁹-node seed set would still distribute).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: String, seeds: DataFrame,
                           iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val outW = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("out_w"))
      .persist()
    val norm = e.join(outW.withColumnRenamed("node", "src"), "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("p"))
      .repartition(col("src"))
      .persist()
    // seeds restricted to nodes actually present — the mass must
    // normalize over the graph's seed intersection or an absent seed
    // would silently leak restart probability
    val seedNodes = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val nSeeds = seedNodes.agg(count(lit(1)).cast("double").as("n_seeds"))
    // restart vector: uniform over the seed set, round-9 so every
    // round's inputs are bit-identical across engines
    val sTab = nodes
      .join(seedNodes.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"),
        round(when(col("is_seed").isNotNull, lit(1.0) / col("n_seeds"))
          .otherwise(lit(0.0)), 9).as("s"))
      .persist()
    def pprRoundOf(r: DataFrame): DataFrame = {
      val dangling = r.join(outW, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dang"))
      val contrib = norm.join(r.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("in_sum"))
      sTab.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(lit(1 - damping) * col("s") +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) +
                            col("dang") * col("s")),
            9).as("pr"))
    }
    // same two-consumers-per-round discipline as pageRank: eager
    // |V|-row checkpoint per round (round fusing measured slower —
    // see pageRank's note)
    val ranks = Rounds.iterate(sTab.select(col("node"), col("s").as("pr")), iters)(
      (r, _) => pprRoundOf(r))
    val out = Rounds.materialize(ranks.select(col("node"), col("pr")))
    Rounds.release(ranks)
    norm.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outW.unpersist(blocking = false)
    sTab.unpersist(blocking = false)
    out
  }

  /** Weighted HITS (hubs & authorities) by fixed-round power
    * iteration: auth'(v) = Σ_{u→v} hub(u)·w, hub'(u) = Σ_{u→v}
    * auth'(v)·w, each half-round L1-normalized. Same engine-parity
    * contract as [[pageRank]] — exact count weights, every
    * half-round's scores rounded to 9 decimals, the DuckDB oracle
    * replays each unrolled round — and the same eager per-round
    * materialization (both score tables are consumed twice per
    * round, so lazy lineage would double every iteration).
    *
    * Scale shape: per half-round, one equi-join of the |V|-row score
    * table into the cached edge list (map-side partial agg on the
    * collecting endpoint), one 1-row total broadcast for the
    * normalization. Nodes with no in-edges get auth 0; no out-edges,
    * hub 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    var hubs = nodes.crossJoin(broadcast(nRow))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 9).as("hub"))
    var auths: DataFrame = null
    // per-HALF-round eager checkpoints (fusing the two half-rounds
    // under one checkpoint measured ~20% slower at sf0.1 — see
    // pageRank's round-8 note); two states per round, so this loop
    // calls materialize/release itself instead of Rounds.iterate
    for (_ <- 1 to iters) {
      val prevH = hubs
      val prevA = auths
      val aRaw = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub") * col("w")).as("raw"))
      val aTot = aRaw.agg(sum(col("raw")).as("tot"))
      auths = Rounds.materialize(nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          round(coalesce(col("raw"), lit(0.0)) / col("tot"), 9).as("auth")))
      val hRaw = e.join(auths.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth") * col("w")).as("raw"))
      val hTot = hRaw.agg(sum(col("raw")).as("tot"))
      hubs = Rounds.materialize(nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          round(coalesce(col("raw"), lit(0.0)) / col("tot"), 9).as("hub")))
      Rounds.release(prevH)
      if (prevA != null) Rounds.release(prevA)
    }
    // same discipline as pageRank's exit: materialize the final join
    // eagerly, then drop both score checkpoints and the cached sides
    val out = Rounds.materialize(auths.join(hubs, "node")
      .select(col("node"), col("auth"), col("hub")))
    Rounds.release(auths, hubs)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Weighted synchronous label propagation communities: every node
    * starts labeled with itself; each round, a node adopts the label
    * with the greatest incident edge-weight sum among its neighbors'
    * current labels, ties to the SMALLEST label. Fixed `iters` rounds
    * — the fixed-point is set-valued (label sets, not scores), but
    * the sync schedule plus the min tie-break make every round a
    * deterministic function of the last, so a DuckDB oracle replays
    * the rounds as MATERIALIZED CTEs exactly like [[pageRank]].
    *
    * The graph is SYMMETRIZED (community membership is mutual):
    * und = e ∪ reverse(e), parallel edges summed — a self-loop
    * doubles, which the oracle replays identically. Vote scores are
    * sums of exact count weights rounded to 9, so the score-equality
    * tie filter is engine-exact.
    *
    * Caveat (shared with GraphX's LabelPropagation, whose semantics
    * this matches): sync LPA can oscillate with period 2 on
    * bipartite-like structures — deterministically, which is exactly
    * why the oracle can replay it. Pick even/odd `iters` consciously
    * if that matters for the graph at hand.
    *
    * Scale shape: the symmetrized edge table is repartitioned once on
    * src and cached; each round joins the |V|-row label table into
    * that layout (map-side partial agg on the voting endpoint), takes
    * a per-node max and a tie-filtered min — two |V·labels|-row
    * aggregates, no collect. Same eager per-round |V|-row
    * localCheckpoint as [[pageRank]] (the label table chains through
    * every round).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      // explicit width first: HashPartitioning(src) satisfies the
      // (src, dst) clustering, so the weight collapse adds no exchange
      .repartition(col("src"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .persist()
    // symmetrized: every node appears as a src
    val nodes = und.select(col("src").as("node")).distinct().persist()
    val labels = Rounds.iterate(nodes.select(col("node"), col("node").as("label")),
        iters) { (labels, _) =>
      val votes = und.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(round(sum(col("w")), 9).as("score"))
      val mx = votes.groupBy("node").agg(max(col("score")).as("mx"))
      val winners = votes.join(mx, "node")
        .where(col("score") === col("mx")) // exact: both sides round(…, 9) of identical inputs
        .groupBy("node").agg(min(col("label")).as("label"))
      nodes.join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    }
    val out = Rounds.materialize(labels.select(col("node"), col("label").as("community")))
    Rounds.release(labels)
    und.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Weighted single-source shortest paths by synchronous
    * Bellman-Ford rounds: dist'(v) = min(dist(v), min over in-edges
    * u→v of dist(u) + len(u, v)), `iters` rounds (paths up to `iters`
    * hops — run ≥ graph diameter rounds for the fixed point).
    * Unreached nodes carry NULL (the engine-neutral infinity: no
    * sentinel value can collide with a real distance).
    *
    * Determinism contract ([[pageRank]]'s): edge lengths arrive
    * already engine-exact from the caller (e.g. round(1/count, 9));
    * each relaxation rounds dist + len to 9 BEFORE the min, so every
    * round's inputs are bit-identical cross-engine and min/least are
    * exact. The DuckDB oracle replays rounds as MATERIALIZED CTEs.
    *
    * Scale shape: edges repartition once on src and cache; each round
    * shuffles the |V|-row frontier into that layout and takes one
    * min-aggregate keyed by dst (map-side partial min first). The
    * distance table is consumed twice per round (relaxation + fold) —
    * same eager per-round |V|-row localCheckpoint as [[pageRank]].
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    lenCol: String, source: org.apache.spark.sql.Column,
                    iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(lenCol).cast("double").as("len"))
      .repartition(col("src"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val dist = Rounds.iterate(nodes.select(col("node"),
        when(col("node") === source, lit(0.0))
          .otherwise(lit(null).cast("double")).as("dist")), iters) { (dist, _) =>
      val relax = e
        .join(dist.where(col("dist").isNotNull).withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(round(col("dist") + col("len"), 9)).as("cand"))
      dist.join(relax, Seq("node"), "left")
        .select(col("node"),
          when(col("dist").isNull, col("cand"))
            .when(col("cand").isNull, col("dist"))
            .otherwise(least(col("dist"), col("cand"))).as("dist"))
    }
    val out = Rounds.materialize(dist.select(col("node"), col("dist")))
    Rounds.release(dist)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Deterministic synchronous greedy MAXIMAL matching —
    * Israeli–Itai propose-accept with the repo's md5 hash standing
    * in for the coin: each round every node draws a ROLE from
    * md5(node || '_round') parity (re-drawn per round, which is what
    * breaks the deadlocks a fixed min-id handshake hits on dense
    * bipartite graphs — measured: plain handshaking was still not
    * maximal after 30 rounds on the sf0.01 supplier–part graph,
    * this converges in ≤ 6 there and ≤ 5 at sf0.1); proposers
    * (parity 0) propose to their MIN acceptor-role neighbor,
    * acceptors take their MIN proposer — one match per acceptor,
    * conflict-free by construction — and matched nodes leave the
    * graph. Every draw and min is engine-replayable, so the DuckDB
    * oracle unrolls rounds as CTEs. Maximal once no edge survives.
    *
    * Scale shape (measured decomposition in NOTES "r7 matching"):
    *  - ONE shuffle total at build: repartition on u, then dedupe
    *    (HashPartitioning(u) already co-locates equal (u, v) rows so
    *    dropDuplicates adds no exchange) — the dedupe is load-bearing
    *    at scale (multi-edge relations collapse before any round).
    *    Width honesty (measured, spec-pinned): localCheckpoint does
    *    NOT preserve the logical partitioning, and AQE coalesces this
    *    by-column repartition data-proportionally (~64 MB advisory
    *    target) — a sub-advisory gate-sized table collapses to ONE
    *    partition, where single-threaded rounds are actually cheapest
    *    (fewer tiny tasks; an explicit by-NUM width measured ~15%
    *    SLOWER here), while a 100 TB-scale layout keeps
    *    size/advisory partitions, so the rounds scale. The per-round
    *    min aggregates exchange only their POST-partial-aggregation
    *    rows (≤ |V| per partition) — the map-side combine is what
    *    keeps rounds cheap, not layout reuse.
    *  - The whole role schedule draws ONCE, per NODE: a ≤62-round
    *    schedule packs into one long bitmask (|V|·rounds md5 total,
    *    broadcast-joined onto both edge endpoints at build), so the
    *    rounds test a bit instead of re-drawing 2·|E| md5 per round
    *    (the old shape's largest single hot-path cost). Beyond 62
    *    rounds the round filter falls back to inline md5 — same
    *    draws, same results.
    *  - Matched-node removals are BROADCAST anti-joins (each round's
    *    matched set is ≤ 2·|matches| ids — node-bounded; a graph
    *    whose per-round matching outgrows the driver wants shuffle
    *    anti-joins — flip the hint), one reused exchange per round,
    *    so the shrinking edge table is map-side-copied, never
    *    re-shuffled, and drained trailing rounds cost ~nothing.
    */
  def greedyMatching(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1 (zero rounds match nothing)")
    def parity(c: Column, r: Int): Column =
      conv(substring(md5(concat(c, lit(s"_$r"))), 1, 8), 16, 10)
        .cast("long") % 2
    // the base pair frame feeds four plan branches (two symmetrize
    // unions, two role-table scans) — checkpoint it once so the
    // source scans once, not four times
    val dir0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint()
    // per-node role bitmask: bit r-1 of mask(node) is round r's coin
    val packRounds = rounds <= 62
    val bits =
      if (!packRounds) null
      else dir0.select(col("u").as("node"))
        .union(dir0.select(col("v").as("node")))
        .distinct()
        .select(col("node"),
          (1 to rounds).map(r => shiftleft(parity(col("node"), r), r - 1))
            .reduce(_ + _).as("mask"))
    def coin(maskCol: Column, nodeCol: Column, r: Int): Column =
      if (packRounds) shiftright(maskCol, r - 1).bitwiseAND(lit(1L))
      else parity(nodeCol, r)
    val und0 = {
      val sym = dir0
        .union(dir0.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .dropDuplicates("u", "v")
      if (!packRounds) sym.withColumn("bu", lit(0L)).withColumn("bv", lit(0L))
      else sym
        .join(broadcast(bits.select(col("node").as("u"), col("mask").as("bu"))),
          Seq("u"))
        .join(broadcast(bits.select(col("node").as("v"), col("mask").as("bv"))),
          Seq("v"))
        .select("u", "v", "bu", "bv")
    }.localCheckpoint()
    var matched: DataFrame = null
    val und = Rounds.iterate(und0, rounds) { (und, r) =>
      // drained-graph early exit (maximal = drained: any surviving
      // edge would have two unmatched endpoints). Probe round 4's
      // table on — no nontrivial graph drains in 3 synchronous rounds,
      // so earlier probes would be pure job latency. Runs on the
      // checkpointed table; never re-derives the round.
      if (r > 4 && und.isEmpty) und
      else {
        val pairs = und
          .where(coin(col("bu"), col("u"), r) === 0 &&
                 coin(col("bv"), col("v"), r) === 1)
          .groupBy("u").agg(min(col("v")).as("c"))
          .groupBy(col("c").as("node_a")).agg(min(col("u")).as("node_b"))
          .select(col("node_a"), col("node_b"), lit(r.toLong).as("round"))
          .localCheckpoint()
        matched = if (matched == null) pairs else matched.union(pairs)
        val mn = pairs.select(col("node_a").as("n"))
          .union(pairs.select(col("node_b").as("n")))
        und
          .join(broadcast(mn), col("u") === col("n"), "left_anti")
          .join(broadcast(mn), col("v") === col("n"), "left_anti")
      }
    }
    Rounds.release(und, dir0)
    matched // a lazy union of the checkpointed per-round pair tables
  }

  /** WEIGHTED greedy matching by mutual local-max pointers — the
    * Preis 1999 / Hoepman 2004 locally-dominant-edge algorithm: each
    * round every node points at its MAX-(weight, node) remaining
    * neighbor, edges whose endpoints point at EACH OTHER are matched
    * (a mutual pointer means the edge is the heaviest remaining at
    * both endpoints — locally dominant), and matched nodes leave the
    * graph. The greedy ½-approximation for maximum weight matching —
    * the form ad/assignment systems use when "any maximal matching"
    * ([[greedyMatching]]) leaves money on the table. Multi-edges
    * collapse to their max weight up front (deterministic,
    * order-free).
    *
    * Why mutual pointers instead of [[greedyMatching]]'s md5-role
    * propose-accept: with roles, an acceptor can take a LIGHT
    * proposal in a round where its heavy partner drew the same role
    * and stayed silent — which breaks local dominance and with it
    * the ½ bound. Mutual max-pointers need no coin at all: the
    * globally heaviest remaining edge is always mutual, so every
    * round clears ≥ 1 edge (progress without randomness), and every
    * cleared edge is locally dominant, which is exactly the
    * ½-approx charging argument (each matched edge blocks ≤ 2
    * optimum edges, neither heavier).
    *
    * Determinism contract: the pointer is a (w, node)-lexicographic
    * argmax — a total order on exact integer weights with node
    * tie-break — so the DuckDB oracle replays rounds as CTEs with
    * row_number windows. Callers pre-scale decimal weights to longs
    * (the repo-wide scaled-long contract). Maximal once the edge set
    * drains; run `rounds` ≥ the clear depth (dense graphs clear in a
    * handful; the drained-graph early exit stops paying round
    * latency the moment it's done).
    *
    * Scale shape per round: one max-struct hash aggregate over
    * remaining edges (the pointer table), one self-join of that
    * |V|-row table for mutuality (canonical u < v keeps each pair
    * once), two anti-joins to drop matched endpoints; per-round
    * tables localCheckpoint eagerly (consumed twice — the
    * [[pageRank]] discipline).
    */
  def greedyMatchingWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                             weightCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1 (zero rounds match nothing)")
    val dir0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
      col(weightCol).cast("long").as("w"))
    val und0 = dir0
      .union(dir0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .where(col("u") =!= col("v"))
      // one shuffle total: repartition(u) FIRST — HashPartitioning(u)
      // co-locates equal (u, v) rows so the max-collapse adds no
      // exchange (the greedyMatching build contract; see its scaladoc
      // for the AQE width trade)
      .repartition(col("u"))
      .groupBy("u", "v").agg(max(col("w")).as("w"))
      .localCheckpoint()
    var matched: DataFrame = null
    // broadcast removals + round-4 probe start: [[greedyMatching]]'s
    // per-round scale shape, same bounds (matched set ≤ 2·|matches|)
    val und = Rounds.iterate(und0, rounds) { (und, r) =>
      if (r > 4 && und.isEmpty) und
      else {
        val pref = und
          .groupBy("u").agg(max(struct(col("w"), col("v"))).as("t"))
          .select(col("u"), col("t.v").as("p"), col("t.w").as("w"))
        val pairs = pref.as("a").join(pref.as("b"),
            col("a.p") === col("b.u") && col("b.p") === col("a.u") &&
              col("a.u") < col("b.u"))
          .select(col("a.u").as("node_a"), col("b.u").as("node_b"),
            col("a.w").as("w"), lit(r.toLong).as("round"))
          .localCheckpoint()
        matched = if (matched == null) pairs else matched.union(pairs)
        val mn = pairs.select(col("node_a").as("n"))
          .union(pairs.select(col("node_b").as("n")))
        und
          .join(broadcast(mn), col("u") === col("n"), "left_anti")
          .join(broadcast(mn), col("v") === col("n"), "left_anti")
      }
    }
    Rounds.release(und)
    matched
  }

  /** Approximate per-node neighborhood function — the
    * HyperBall/HyperANF shape (Boldi–Rosa–Vigna 2011; Palmer et al.
    * ANF 2002): every node carries an HLL sketch of its ≤ r-hop
    * reachable set, and each round unions every neighbor's sketch
    * into the node's own (B_{k+1}(v) = B_k(v) ∪ ⋃_{(v,u)} B_k(u)).
    * After `hops` rounds the estimate is |ball(v, hops)| — the
    * graph-diameter / neighborhood-growth diagnostic that runs where
    * exact per-node BFS (|V| frontiers) cannot. The sketch state is
    * |V| fixed-size registers per round regardless of ball size —
    * that is the entire trick, and why this is the standard 100 TB
    * reachability profile.
    *
    * Exactness contract: HLL register updates are deterministic
    * functions of the value set, so the estimate is bit-stable for a
    * given input — callers gate it boolean-bound against an exact
    * slice (the agg_sketch_rollup contract), not by hash.
    *
    * Scale shape: the FIRST hop never unions sketches — B₁(v) is one
    * `hll_sketch_agg` over the raw (node, member) rows {v} ∪ N(v),
    * and a sketch INSERT is O(1) per value where a union is O(2^lgK)
    * register maxes (measured ~4× on the sf0.1 co-purchase graph, the
    * dominant cost). Hops ≥ 2 then pay one |E|-row join of the
    * symmetrized edge layout (repartitioned once on src, persisted)
    * against the |V|-row sketch table and one node-keyed
    * `hll_union_agg` per round (map-side partial merges — sketches
    * are commutative monoids, the reason this composes at all; the
    * src-aligned layout means partials collapse to |V| rows BEFORE
    * the exchange), eager per-round localCheckpoint (the
    * [[pageRank]] discipline). No collect, no window.
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
                           hops: Int, lgK: Int = 12): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      // explicit width first: HashPartitioning(src) satisfies the
      // (src, dst) clustering, so the dedupe adds no exchange
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist()
    val nodes = und.select(col("src").as("node")).distinct()
    val b1 = und.select(col("src").as("node"), col("dst").as("m"))
      .union(nodes.select(col("node"), col("node").as("m")))
      .groupBy("node").agg(hll_sketch_agg(col("m"), lit(lgK)).as("sk"))
      .localCheckpoint() // B₁ by raw inserts — no union round
    val state = Rounds.iterate(b1, hops - 1) { (prev, _) =>
      val fromNbr = und
        .join(prev.select(col("node").as("dst"), col("sk")), Seq("dst"))
        .select(col("src").as("node"), col("sk"))
      fromNbr.union(prev.select("node", "sk"))
        .groupBy("node").agg(hll_union_agg(col("sk")).as("sk"))
    }
    val out = Rounds.materialize(state
      .select(col("node"), hll_sketch_estimate(col("sk")).as("n_ball_approx")))
    Rounds.release(state)
    und.unpersist(blocking = false)
    out
  }

  /** Materialize a [[neighborhoodFunction]] profile — the
    * [[writeBasketGraph]] serving discipline applied to ANF: the
    * hop-round HLL pipeline (the |E|-per-round sketch-union cost) is
    * pure derived data of a static graph, so it runs ONCE per corpus
    * and every consumer (diameter diagnostics, growth monitors, the
    * driver gate's exact-slice comparison) reads the |V|-row
    * (node, n_ball_approx) table. HLL register updates are
    * deterministic functions of the value set, so the served
    * estimates are bit-identical to a fresh run — consumers' bounds
    * and oracles hold unchanged. The parquet `_SUCCESS` is the build
    * marker ([[Markers]]).
    *
    * No `appendAnfDelta` — deliberately (the
    * [[graft.operators.Embeddings.ensurePcaBasis]] precedent): an
    * edge delta changes the r-hop ball of every node within r hops
    * of either endpoint, and HLL unions can only ADD members, so a
    * stored profile cannot absorb edge deletions at all and edge
    * additions would need r propagation rounds over the delta's
    * r-hop neighborhood — a scoped rebuild, not a merge. Policy:
    * rebuild on delta (the ensure marker makes that one cheap line),
    * or accept a stale profile between scheduled rebuilds — the
    * standard trade for a diagnostic artifact.
    */
  def writeAnfProfile(edges: DataFrame, srcCol: String, dstCol: String,
                      path: String, hops: Int, lgK: Int = 12): Unit =
    neighborhoodFunction(edges, srcCol, dstCol, hops, lgK)
      .write.mode("overwrite").parquet(path)

  /** [[writeAnfProfile]] only if absent; `edges` is by-name so the
    * sketch rounds never evaluate on the served path.
    */
  def ensureAnfProfile(edges: => DataFrame, srcCol: String, dstCol: String,
                       path: String, hops: Int, lgK: Int = 12): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writeAnfProfile(edges, srcCol, dstCol, path, hops, lgK)
  }

  /** The materialized per-node neighborhood profile (the table IS
    * [[neighborhoodFunction]]'s output — identical rows, no rounds).
    */
  def anfFromProfile(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    require(Markers.exists(s"$path/_SUCCESS"),
      s"ANF profile at $path has no build marker; rebuild with ensureAnfProfile")
    spark.read.parquet(path)
  }

  /** DeepWalk-style node-context PMI features off [[randomWalks]]:
    * skip-gram co-occurrence pairs within a ±`window` step radius of
    * the generated walks, scored by pointwise mutual information —
    * the matrix DeepWalk/node2vec implicitly factorize (the NetMF
    * result), served as an explicit top-k feature table instead of a
    * learned embedding, which keeps it exact and oracle-checkable.
    *
    * Determinism: walks are the md5-driven deterministic walks; PMI
    * is one round-6 ln of a pinned ratio of exact counts (the
    * [[graft.operators.TextAnalysis]] collocations contract); final
    * ranks come from the sorted-collect of the k survivors.
    *
    * Scale shape: the pair window is a walk_id-keyed self-join whose
    * fan-out is bounded by 2·window per position; marginals are hash
    * aggregates; the global order only ever sees k rows
    * (TakeOrdered).
    */
  def walkPmi(walks: DataFrame, window: Int = 2, k: Int = 30): DataFrame = {
    val a = walks.select(col("walk_id"), col("step").as("sa"), col("node"))
    val b = walks.select(col("walk_id"), col("step").as("sb"),
      col("node").as("context"))
    val pairs = a.join(b, Seq("walk_id"))
      .where(col("sa") =!= col("sb") && abs(col("sa") - col("sb")) <= window)
      .select("node", "context")
    val co = pairs.groupBy("node", "context").agg(count(lit(1)).as("c_nc"))
    val nc = pairs.groupBy("node").agg(count(lit(1)).as("c_n"))
    val cc = pairs.groupBy("context").agg(count(lit(1)).as("c_c"))
    val tot = pairs.agg(count(lit(1)).cast("double").as("n_pairs"))
    co.join(nc, "node").join(cc, "context").crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(col("c_nc").cast("double") * col("n_pairs")
        / (col("c_n").cast("double") * col("c_c").cast("double"))), 6))
      .orderBy(desc("pmi"), col("node"), col("context")).limit(k)
      .groupBy()
      .agg(array_sort(collect_list(struct((-col("pmi")).as("negpmi"),
        col("node"), col("context"), col("c_nc"), col("pmi")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select(col("x.node").as("node"), col("x.context").as("context"),
        col("x.c_nc").as("c_nc"), col("x.pmi").as("pmi"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** GLOBAL CLUSTERING COEFFICIENT and the 3-node motif census —
    * C = 3·triangles / wedges (Watts–Strogatz transitivity, the
    * corpus-level "do my neighbors know each other" number): wedges
    * W = Σ_v C(deg(v), 2) from the degree table, closed wedges from
    * [[triangleCount]]'s degree-oriented enumeration (each triangle
    * closes exactly 3 wedges). One row: nodes, edges, wedges,
    * triangles, C — the smallest useful summary of a graph's local
    * structure, and the sanity gate before trusting community or
    * truss output (C ≈ 0 means there IS no local structure to find).
    *
    * Exactness: all counts exact longs (wedge sums as
    * decimal(38,0) — a hub of degree 3·10⁹ alone overflows a long's
    * C(d,2)); C is one division rounded 6. Scale shape: the degree
    * aggregate + the [[triangleCount]] O(|E|^1.5) oriented wedge
    * join — the published bound for exact global counting.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    // r14 restructure (guide §2.4 — remove duplicated subtrees): the
    // old body ran [[triangleCount]] verbatim, which re-derived the
    // canonical edge set and the degree table this function ALSO
    // builds for the wedge census (two symmetrize/distinct shuffles,
    // two degree aggregates, 4 scans of the edge input), and paid a
    // per-node triangle aggregate + node left-join only to SUM the
    // counts back into one number. This query needs one TOTAL: a
    // closed wedge in the degree-oriented enumeration IS one triangle
    // (each triangle is generated at exactly one node), so the 1-row
    // count of the closed-wedge join equals sum(per-node)/3 — same
    // exact integer, without the explode/groupBy/left-join tail.
    // Canonical edges + degrees are computed ONCE and shared by the
    // wedge census and the orientation (before/after plans:
    // plans/r14/graph_clustering_coef_*).
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist()
    // same degree values as the symmetrized groupBy: each undirected
    // edge contributes 1 to each endpoint
    val deg = canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .localCheckpoint() // 3 consumers (wedge census, both orientation sides); bounded |V| rows
    val dec = "decimal(38,0)"
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d").cast(dec)) / 2).cast("long").as("n_edges"),
      sum(col("d").cast(dec) * (col("d") - 1).cast(dec)).as("w2"))
    val ra = deg.select(col("node").as("a"), col("d").as("deg_a"))
    val rb = deg.select(col("node").as("b"), col("d").as("deg_b"))
    val fwd = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = canon.join(ra, "a").join(rb, "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("x"),
        when(fwd, col("b")).otherwise(col("a")).as("y"),
        when(fwd, struct(col("deg_b").as("d"), col("b").as("n")))
          .otherwise(struct(col("deg_a").as("d"), col("a").as("n"))).as("rank_y"))
      .repartition(col("x"))
      .persist()
    val e1 = oriented.select(col("x"), col("y"), col("rank_y"))
    val e2 = oriented.select(col("x"), col("y").as("z"), col("rank_y").as("rank_z"))
    val tri = e1.join(e2, "x")
      .where(col("rank_y") < col("rank_z"))
      .join(oriented.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"),
            "left_semi")
      .agg(count(lit(1)).as("n_triangles")) // one row per closed wedge = per triangle
    val out = wedges.crossJoin(broadcast(tri)) // two 1-row scalars
      .select(col("n_nodes"), col("n_edges"),
        (col("w2") / 2).cast("long").as("n_wedges"), col("n_triangles"),
        when(col("w2") > 0, round(lit(3.0) * col("n_triangles")
          .cast("double") / ((col("w2") / 2).cast("double")), 6))
          .as("clustering_coef"))
      .localCheckpoint() // 1-row output; materialize so the inputs release
    Rounds.release(deg)
    canon.unpersist(blocking = false)
    oriented.unpersist(blocking = false)
    out
  }

  /** CORENESS (core number) of every node by the H-INDEX ITERATION
    * (Lü, Zhou, Zhang & Stanley, "The H-index of a network node",
    * 2016): c₀(v) = deg(v), then cᵣ₊₁(v) = H of the multiset
    * {cᵣ(u) : u ∈ N(v)} (the largest h with ≥ h neighbors at value
    * ≥ h). The sequence decreases monotonically to the exact core
    * number — the node-granular answer where [[kCore]] gives one
    * k's membership — and unlike the classic sequential peel, every
    * round is a SYNCHRONOUS neighbor aggregate, which is why this
    * is the published distributed formulation. `rounds` truncation
    * yields a (documented) upper bound on non-converged nodes; the
    * oracle replays the same rounds.
    *
    * Determinism: values are exact longs; the h-index is a rank
    * window per node (desc value, node tie-break pinned) + one max —
    * no RNG, no floats anywhere.
    *
    * Scale shape: one symmetrize + repartition(u) shuffle builds the
    * persisted edge layout; each round is one |E|-row broadcast-able
    * join of the |V|-row value table, a per-node rank window
    * (bounded by max degree — the hub caveat and its
    * per-partition-pre-selection remedy are
    * [[graft.operators.Sampling.weightedReservoirPerGroup]]'s), and
    * a node-keyed max; eager per-round localCheckpoint.
    */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
               rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val und = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v"))
      .repartition(col("u"))
      .dropDuplicates("u", "v")
      .persist()
    val c0 = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val c = Rounds.iterate(c0, rounds) { (c, _) =>
      val nb = und.join(broadcast(c.select(col("node").as("v"), col("c").as("cv"))),
        Seq("v"))
      val w = Window.partitionBy("u").orderBy(desc("cv"), asc("v"))
      nb.withColumn("rk", row_number().over(w))
        .where(col("cv") >= col("rk"))
        .groupBy(col("u").as("node"))
        .agg(max(col("rk")).cast("long").as("c"))
    }
    val out = Rounds.materialize(c.select(col("node"), col("c").as("coreness")))
    Rounds.release(c)
    und.unpersist(blocking = false)
    out
  }

  /** Sampled-source BETWEENNESS centrality — Brandes' algorithm
    * (2001) from a pinned source sample (Brandes & Pich 2007), the
    * same estimator trade [[multiSourceShortestPaths]]+closeness
    * already makes: exact betweenness needs all |V| sources at
    * O(|V|·|E|); a bounded sample costs O(|S|·|E|) and preserves the
    * ranking of the high-centrality nodes (the published result).
    * Forward pass: synchronous multi-source BFS where σ(s,v) counts
    * shortest s→v paths (σ of a newly reached node = Σ σ over its
    * frontier predecessors — exact longs). Backward pass: Brandes'
    * dependency accumulation δ(s,v) = Σ_{w: succ} σ_v/σ_w ·
    * (1 + δ(s,w)) by DESCENDING BFS level, so each level's δ is
    * final before it feeds the one below. Paths longer than `hops`
    * are truncated (the closeness `iters` contract — documented
    * estimator bias, not an error).
    *
    * Determinism: σ are exact integer counts; each δ contribution
    * rounds σ_v·(1e9 + δ9_w)/σ_w to a 1e9-scaled long BEFORE the
    * per-node sum (order-independent), the [[pageRank]] scaled-round
    * contract the oracle replays level by level.
    *
    * Scale shape: the symmetrized edge layout builds once
    * (repartition(eu), persisted) and is NEVER re-shuffled — the
    * pinned source sample keeps the BFS state at |S|·|V| rows, so
    * every join in both passes BROADCASTS state/frontier/δ slices
    * against the big edge table (map-only edge passes; the Brandes
    * O(|S|·|E|) intermediate exists only inside the probe loop,
    * never as a shuffle). Each backward level re-probes the edge
    * table with its own level filter instead of materializing the
    * |S|·|E| successor table (4 cheap map passes beat one huge
    * checkpoint — measured 10× on the sf0.1 backbone). Aggregates
    * shrink map-side to |S|·|V|; per-round eager localCheckpoint.
    * For graphs where |S|·|V| outgrows the broadcast budget, swap
    * the broadcasts for v-keyed repartitions reusing the edge
    * layout's exchange — the sample size |S| is the designed lever.
    */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
                         sources: DataFrame, sourceCol: String,
                         hops: Int): DataFrame = {
    require(hops >= 1, s"hops must be >= 1: $hops")
    val e0 = edges.select(col(srcCol).as("eu"), col(dstCol).as("ev"))
    val e = e0.union(e0.select(col("ev").as("eu"), col("eu").as("ev")))
      .where(col("eu") =!= col("ev"))
      .repartition(col("eu"))
      .dropDuplicates("eu", "ev")
      .persist()
    val src = broadcast(sources.select(col(sourceCol).as("s")).distinct())
    val state0 = src.select(col("s"), col("s").as("v"),
        lit(0L).as("dist"), lit(1L).as("sigma"))
      .localCheckpoint()
    val state = Rounds.iterate(state0, hops) { (prev, r) =>
      val frontier = prev.where(col("dist") === r - 1)
        .select(col("s"), col("v").as("eu"), col("sigma"))
      val relax = e.join(broadcast(frontier), Seq("eu")) // map-only edge pass
        .groupBy(col("s"), col("ev"))
        .agg(sum(col("sigma")).as("sig"))
      val nxt = relax
        .join(broadcast(prev.select(col("s"), col("v").as("ev"))),
          Seq("s", "ev"), "left_anti")
        .select(col("s"), col("ev").as("v"), lit(r.toLong).as("dist"),
          col("sig").as("sigma"))
      prev.union(nxt)
    }
    // backward pass: each level re-probes the persisted edge layout
    // with both state slices broadcast — no |S|·|E| materialization
    val delta = Rounds.iterate(state.select(col("s"), col("v"), lit(0L).as("d9")),
        hops) { (prev, r) =>
      val lvl = hops + 1 - r
      val aSide = state.where(col("dist") === lvl - 1)
        .select(col("s"), col("v").as("eu"), col("sigma").as("sig_v"))
      val bSide = state.where(col("dist") === lvl)
        .join(prev, Seq("s", "v"))
        .select(col("s"), col("v").as("ev"), col("sigma").as("sig_w"),
          col("d9").as("dw9"))
      val contrib = e
        .join(broadcast(aSide), Seq("eu"))
        .join(broadcast(bSide), Seq("s", "ev")) // map-only edge pass
        .select(col("s"), col("eu").as("v"),
          round(col("sig_v").cast("double")
              * (lit(1e9) + col("dw9").cast("double"))
              / col("sig_w").cast("double"), 0).cast("long").as("c9"))
        .groupBy("s", "v").agg(sum(col("c9")).as("add9"))
      prev.join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          (col("d9") + coalesce(col("add9"), lit(0L))).as("d9"))
    }
    val out = Rounds.materialize(delta.where(col("s") =!= col("v"))
      .groupBy(col("v").as("node"))
      .agg(count(lit(1)).as("n_sources"), sum(col("d9")).as("sd9"))
      .where(col("sd9") > 0)
      .select(col("node"), col("n_sources"),
        round(col("sd9").cast("double") / 1e9, 6).as("betweenness")))
    Rounds.release(delta, state)
    e.unpersist(blocking = false)
    out
  }

  /** GraphSAGE-style deterministic NEIGHBOR SAMPLING (Hamilton et
    * al., NeurIPS 2017) — the minibatch-construction primitive of
    * every sampled GNN trainer: from a seed set, keep `fanouts(0)`
    * neighbors per seed, then `fanouts(1)` neighbors of each sampled
    * frontier node, and so on — the output is the layered edge block
    * a GNN consumes, built where full neighborhoods (hub nodes with
    * millions of edges) cannot be.
    *
    * Determinism: the "random" fanout draw ranks each adjacency by
    * md5(src_dst) (the [[randomWalks]] coin) — reproducible on any
    * cluster size, replayable in SQL, and PREFIX-CONSISTENT: a node
    * sampled at several hops (or at several fanouts) always keeps a
    * prefix of the same md5 order, so caches of sampled blocks
    * compose instead of fragmenting.
    *
    * Scale shape: the symmetrized adjacency builds once (one
    * repartition(src) shuffle, the [[neighborhoodFunction]] layout)
    * and persists across hops; each hop is a frontier semi-join
    * (broadcastable — frontiers are fanout-bounded) and a per-src
    * rank window bounded by max degree (for extreme hubs the
    * [[graft.operators.Sampling.weightedReservoirPerGroup]]
    * per-partition bounded-heap pre-selection applies verbatim —
    * top-k by md5 is its uniform-weight case). Eager per-hop
    * localCheckpoint (the [[pageRank]] discipline) so hop h never
    * replays hop h−1.
    */
  def neighborSample(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String,
                     fanouts: Seq[Int]): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"need at least one positive fanout: $fanouts")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist()
    var frontier = seeds.select(col(seedCol).as("src")).distinct()
    var out: DataFrame = null
    for ((s, i) <- fanouts.zipWithIndex) {
      val w = Window.partitionBy("src").orderBy("u", "dst")
      val h = und.join(frontier, Seq("src"), "left_semi")
        .withColumn("u", md5(concat(col("src").cast("string"), lit("_"),
          col("dst").cast("string"))))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= s)
        .select(lit((i + 1).toLong).as("hop"), col("src"), col("dst"),
          col("rnk"))
        .localCheckpoint()
      out = if (out == null) h else out.union(h)
      frontier = h.select(col("dst").as("src")).distinct()
    }
    und.unpersist(blocking = false)
    out
  }

  /** Multi-source [[shortestPaths]]: one synchronous Bellman-Ford
    * sweep whose state is keyed by (source, node), relaxing every
    * source's frontier through the SAME cached edge layout per round —
    * k single-source runs would pay the edge shuffle k times; this
    * pays it once (the sources ride along as a key). The source set is
    * bounded control-plane data (a pinned sample), so the state table
    * is |S|·|V| rows. Same determinism contract as [[shortestPaths]]:
    * round-9 before every min, NULL as infinity, per-round eager
    * localCheckpoint.
    */
  def multiSourceShortestPaths(edges: DataFrame, srcCol: String,
                               dstCol: String, lenCol: String,
                               sources: Seq[String], iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(lenCol).cast("double").as("len"))
      .repartition(col("src"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val dist = Rounds.iterate(nodes.crossJoin(broadcast(sources.toDF("source")))
      .select(col("source"), col("node"),
        when(col("node") === col("source"), lit(0.0))
          .otherwise(lit(null).cast("double")).as("dist")), iters) { (dist, _) =>
      val relax = e
        .join(dist.where(col("dist").isNotNull).withColumnRenamed("node", "src"), "src")
        .groupBy(col("source"), col("dst").as("node"))
        .agg(min(round(col("dist") + col("len"), 9)).as("cand"))
      dist.join(relax, Seq("source", "node"), "left")
        .select(col("source"), col("node"),
          when(col("dist").isNull, col("cand"))
            .when(col("cand").isNull, col("dist"))
            .otherwise(least(col("dist"), col("cand"))).as("dist"))
    }
    val out = Rounds.materialize(dist)
    Rounds.release(dist)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Sampled-source closeness AND harmonic centrality off a
    * [[multiSourceShortestPaths]] distance table (the Eppstein–Wang
    * estimator shape: exact centralities need all-pairs distances;
    * a pinned source sample estimates them with k·|V| state). Per
    * node: sources reaching it, Σ distance, closeness = reached/Σd,
    * and harmonic = Σ 1/d over d>0 — harmonic degrades gracefully
    * under disconnection (unreached sources add 0 instead of
    * poisoning the mean), which is why both are reported.
    *
    * Exactness: distances arrive round-9; Σd and Σ1/d accumulate as
    * 1e9-scaled longs (order-independent), each 1/d a single IEEE
    * division re-rounded to 9 first. One hash aggregate.
    */
  def closenessFromDistances(dist: DataFrame): DataFrame =
    dist.groupBy("node")
      .agg(count(col("dist")).as("n_reached"),
        (coalesce(sum(round(col("dist") * 1e9, 0).cast("long")), lit(0L)) / 1e9)
          .as("sd"),
        (coalesce(sum(when(col("dist") > 0,
            round(round(lit(1.0) / col("dist"), 9) * 1e9, 0).cast("long"))),
          lit(0L)) / 1e9).as("h"))
      .select(col("node"), col("n_reached"),
        round(col("sd"), 6).as("sum_dist"),
        when(col("sd") > 0, round(col("n_reached") / col("sd"), 6))
          .as("closeness"),
        round(col("h"), 6).as("harmonic"))

  /** Per-node triangle counts by degree-ordered edge orientation
    * (the Cohen / node-iterator++ MapReduce algorithm). Directions
    * and self-loops are discarded first (a triangle is a property of
    * the undirected support); each canonical edge is then oriented
    * from the endpoint of LOWER (degree, node) rank to the higher, so
    * every wedge — and therefore every triangle — is generated at
    * exactly one node. Nodes in no triangle report 0.
    *
    * Scale shape: orientation bounds every node's out-degree by
    * O(√|E|) (a node of degree d only keeps out-edges to
    * higher-ranked neighbors, and fewer than √|E| nodes can have
    * degree ≥ √|E|), so the wedge self-join — the quadratic step of
    * naive triangle counting — generates O(|E|^1.5) wedge rows
    * total instead of Σd² on the raw adjacency; the hub that breaks
    * naive counting (a degree-10⁶ node would emit 10¹² wedges)
    * contributes NO wedges because almost all its edges point at it.
    * Wedges close via one equi-join against the oriented edge list;
    * counts are exact integers, so oracle parity is arithmetic-free —
    * the DuckDB twin enumerates triangles by lexicographic a<b<c
    * instead, and the hash match proves both enumerations visit each
    * triangle exactly once.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist()
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
      .persist()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total rank order: (deg, node) — ties broken by node id so the
    // orientation is a strict total order and no edge is kept twice
    val ra = deg.select(col("node").as("a"), col("deg").as("deg_a"))
    val rb = deg.select(col("node").as("b"), col("deg").as("deg_b"))
    val fwd = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = und.join(ra, "a").join(rb, "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("x"),
        when(fwd, col("b")).otherwise(col("a")).as("y"),
        // carry y's rank so the wedge pair (y, z) below orders
        // without re-joining degrees
        when(fwd, struct(col("deg_b").as("d"), col("b").as("n")))
          .otherwise(struct(col("deg_a").as("d"), col("a").as("n"))).as("rank_y"))
      .repartition(col("x"))
      .persist()
    // wedges at x: out-neighbor pairs (y, z) with rank(y) < rank(z);
    // the triangle closes iff oriented edge y→z exists
    val e1 = oriented.select(col("x"), col("y"), col("rank_y"))
    val e2 = oriented.select(col("x"), col("y").as("z"), col("rank_y").as("rank_z"))
    val tris = e1.join(e2, "x")
      .where(col("rank_y") < col("rank_z"))
      .join(oriented.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"),
            "left_semi")
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val out = nodes.join(tris, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
      .localCheckpoint()
    und.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    oriented.unpersist(blocking = false)
    out
  }

  /** Adamic-Adar link prediction over a bipartite (item, container)
    * relation — "parts co-ordered through many small orders are more
    * related than parts sharing one huge order": for each item pair,
    * Σ over common containers of 1/ln(container size). The inverse-log
    * weight is the whole point versus raw co-occurrence counts — a
    * 10 000-line order says almost nothing about any single pair.
    *
    * Scale shape: the pair explode is the postings-join (shingle/
    * Jaccard) pattern, with the same df-cut defense — containers
    * above `maxContainerSize` are dropped BEFORE the self-join (a
    * single 10⁵-item container would otherwise emit 10¹⁰ pairs), and
    * that cut is part of the operator contract so the oracle applies
    * it too. Top-k lands in one TakeOrdered, never a global sort.
    *
    * Exactness: per-container weight rounds to 9 decimals then scales
    * to an exact long, so the pair sums are aggregation-order-
    * independent and the DuckDB oracle matches by hash.
    */
  def adamicAdar(rel: DataFrame, itemCol: String, containerCol: String,
                 k: Int = 20, maxContainerSize: Int = 200): DataFrame = {
    val e = rel.select(col(itemCol).as("item"), col(containerCol).as("c")).distinct()
    val wl = e.groupBy("c").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= maxContainerSize)
      .withColumn("wl",
        round(round(lit(1.0) / log(col("deg").cast("double")), 9) * 1e9, 0)
          .cast("long"))
      .select("c", "wl")
    val p = e.join(wl, Seq("c"))
    p.as("a").join(p.as("b"),
        col("a.c") === col("b.c") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_common"),
           round(sum(col("a.wl")) / 1e9, 6).as("score"))
      .orderBy(desc("score"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** Neighborhood-Jaccard link prediction over the same bipartite
    * (item, container) relation as [[adamicAdar]]: for each item pair
    * sharing a container, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| where N(x)
    * is x's container set — the set-overlap cousin of Adamic-Adar
    * (no container weighting; symmetric normalization by both
    * neighborhoods instead). Degrees and intersections are both
    * computed on the df-cut relation, so the score is exact on the
    * cut graph and self-consistent (an intersection over cut
    * containers divided by uncut degrees would be biased low — the
    * [[graft.operators.Dedup]] crossContainment caveat).
    *
    * Determinism: the score is one division of exact integer counts
    * (union via inclusion-exclusion: deg_a + deg_b − n_common),
    * rounded to 6 — bit-stable cross-engine; ties break on the item
    * pair in one TakeOrdered.
    *
    * Scale shape: identical to [[adamicAdar]] — the container-keyed
    * postings self-join bounded by the df-cut, one pair-keyed hash
    * aggregate, two |items|-row degree joins, constant-size TakeOrdered.
    */
  def neighborhoodJaccard(rel: DataFrame, itemCol: String, containerCol: String,
                          k: Int = 20, maxContainerSize: Int = 200): DataFrame = {
    val e = rel.select(col(itemCol).as("item"), col(containerCol).as("c")).distinct()
    val ok = e.groupBy("c").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= maxContainerSize).select("c")
    val p = e.join(ok, Seq("c"))
    val deg = p.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    p.as("a").join(p.as("b"),
        col("a.c") === col("b.c") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(deg.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a")), Seq("item_a"))
      .join(broadcast(deg.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b")), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_common"),
        round(col("n_common").cast("double")
              / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(desc("jaccard"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** Absorption probability by synchronous value iteration: the
    * probability of reaching the absorbing `target` state within
    * `iters` steps from each node, p'(v) = Σ_out P(v,u)·p(u) with
    * p(target) pinned to 1 — the "how likely does this state
    * eventually convert" readout the raw transition matrix
    * ([[pageRank]]'s cousin with absorption instead of circulation).
    * States with no outgoing edges stay at 0 (they can never reach
    * the target).
    *
    * Determinism contract ([[pageRank]]'s): transition probabilities
    * are one round-9 division of exact counts; each round's products
    * round to 9 and scale to exact longs before the sum (order-
    * independent), and the per-node value re-rounds to 9 — every
    * round's inputs are bit-identical cross-engine. The DuckDB
    * oracle replays rounds as MATERIALIZED CTEs.
    *
    * Scale shape: normalized edges repartition once on src and
    * cache; each round shuffles the |V|-row probability table into
    * that layout and takes one src-keyed aggregate (map-side partial
    * first). Same eager per-round localCheckpoint as [[pageRank]].
    *
    * Input bound: `edges` is checkpointed eagerly, when the call is
    * made, so it must be a bounded transition table (every registry
    * caller passes ≤ |types|² rows); an unbounded edge stream would
    * be materialized whole before round 1.
    */
  def absorptionProbability(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String, target: org.apache.spark.sql.Column,
                            iters: Int): DataFrame = {
    val (norm, nodes) = normalizedTransitions(edges, srcCol, dstCol, weightCol)
    // one eager checkpoint per round (round fusing measured slower —
    // see pageRank's round-8 note; RE-MEASURED r13: lazy fusion of
    // these single-consumer rounds was ~25% slower at sf0.1 — AQE
    // re-planning the deep fused tree costs more than the per-round
    // checkpoint jobs save)
    val prob = Rounds.iterate(nodes.select(col("node"),
        when(col("node") === target, lit(1.0)).otherwise(lit(0.0)).as("pr")),
        iters) { (r, _) =>
      val folded = norm
        .join(r.withColumnRenamed("node", "dst"), "dst")
        .withColumn("cl", round(round(col("p") * col("pr"), 9) * 1e9, 0).cast("long"))
        .groupBy(col("src").as("node"))
        .agg(round(sum(col("cl")) / 1e9, 9).as("v"))
      nodes.join(folded, Seq("node"), "left")
        .select(col("node"),
          when(col("node") === target, lit(1.0))
            .otherwise(coalesce(col("v"), lit(0.0))).as("pr"))
    }
    val out = Rounds.materialize(prob.select(col("node"), round(col("pr"), 6).as("p_absorb")))
    Rounds.release(prob, norm, nodes)
    out
  }

  /** Expected STEPS to absorption — the "how long to convert"
    * companion of [[absorptionProbability]]: t(target) = 0 and
    * t(s) = 1 + Σ_j P(s,j)·t(j), iterated `iters` synchronous rounds
    * from t ≡ 0 — i.e. the TRUNCATED expectation E[min(T, horizon)]
    * (states that cannot reach the target grow with the horizon
    * instead of faking a finite time; a dangling state reads 1 —
    * one step into nowhere — by the same truncation). Same round-9 /
    * exact-long-sum discipline as the probability leg, so the oracle
    * replays every round. Same input bound as the probability leg:
    * `edges` is checkpointed eagerly, so pass a bounded transition
    * table.
    */
  def expectedAbsorptionTime(edges: DataFrame, srcCol: String, dstCol: String,
                             weightCol: String,
                             target: org.apache.spark.sql.Column,
                             iters: Int): DataFrame = {
    val (norm, nodes) = normalizedTransitions(edges, srcCol, dstCol, weightCol)
    val t0 = nodes.select(col("node"), lit(0.0).as("et")).localCheckpoint()
    val t = Rounds.iterate(t0, iters) { (t, _) =>
      val folded = norm
        .join(t.withColumnRenamed("node", "dst"), "dst")
        .withColumn("cl", round(round(col("p") * col("et"), 9) * 1e9, 0).cast("long"))
        .groupBy(col("src").as("node"))
        .agg(round(sum(col("cl")) / 1e9, 9).as("v"))
      nodes.join(folded, Seq("node"), "left")
        .select(col("node"),
          when(col("node") === target, lit(0.0))
            .otherwise(round(lit(1.0) + coalesce(col("v"), lit(0.0)), 9))
            .as("et"))
    }
    val out = Rounds.materialize(t.select(col("node"), round(col("et"), 6).as("expected_steps")))
    Rounds.release(t, norm, nodes)
    out
  }

  /** Round-9 transition probabilities + node set from a weighted edge
    * table, both materialized before this returns — the shared head of
    * [[absorptionProbability]], [[expectedAbsorptionTime]],
    * [[markovRemovalAttribution]] and [[katzCentrality]]. Caller
    * releases both.
    */
  private def normalizedTransitions(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): (DataFrame, DataFrame) = {
    // checkpoint the edge projection FIRST — `e` is consumed twice
    // (out-weight aggregate + the normalize join), so the lazy plan
    // re-ran everything above the reused upstream exchange (the events
    // window pass for the transition gates) twice per query. Measured
    // against the lazy form (e lazy, norm/nodes persist()), sf0.1,
    // 4 cores, 3-rep medians, two runs each: katz 2.26/2.54 s eager vs
    // 2.97/3.56 lazy, absorption 1.36/1.70 vs 1.75/1.92, absorption
    // time 1.47/1.73 vs 2.02/2.08, Markov attribution 3.52/3.95 vs
    // 3.30/3.82. The price is the bounded-input precondition the four
    // callers document.
    val e = Rounds.materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("double").as("w")))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val norm = Rounds.materialize(e.join(outW, "src")
      .select(col("src"), col("dst"), round(col("w") / col("out_w"), 9).as("p"))
      .repartition(col("src")))
    val nodes = Rounds.materialize(norm.select(col("src").as("node"))
      .union(norm.select(col("dst").as("node")))
      .distinct())
    Rounds.release(e)
    (norm, nodes)
  }

  /** Markov removal-effect attribution (Anderl et al. 2016 — the
    * data-driven alternative to last-touch): model journeys as a
    * first-order chain over channels, compute the `iters`-step
    * conversion probability from the observed start-state mix, then
    * for each channel DELETE its node (edges in and out drop; the
    * lost mass is NOT renormalized — journeys that needed the channel
    * die, which is the point) and re-run. Removal effect = 1 −
    * P(conv | channel removed)/P(conv); attribution = each channel's
    * share of the positive removal mass. One row per channel.
    *
    * Determinism: transition probabilities, start shares, and every
    * iteration product follow [[absorptionProbability]]'s round-9 /
    * exact-long-sum contract; the start-weighted conversion folds
    * round-9 products through a long sum the same way; removal
    * effects round to 6 and their attribution total sums 6-rounded
    * values scaled to exact longs (order-independent). Negative
    * effects (a channel whose removal HELPS) report as-is but
    * contribute zero to the attribution denominator — the standard
    * clamp, documented here rather than hidden.
    *
    * Scale shape: the corpus collapses to |channels|² edges and a
    * |channels|-row start table in the caller's one window+aggregate
    * pass; everything here is bounded-table work (channels are tens,
    * never data-sized). The 1 + |channels| value iterations are
    * BATCHED under a variant key into one iteration over
    * |variants|·|nodes| rows, costing `iters` bounded jobs total
    * instead of (1+|channels|)·iters — no corpus rescan. `channels`
    * is an explicit policy list (which nodes are paid media), not
    * data-inferred.
    *
    * Input bound: `edges` is checkpointed eagerly, when the call is
    * made, so it must be a bounded transition table (every registry
    * caller passes ≤ |types|² rows); an unbounded edge stream would
    * be materialized whole before round 1.
    */
  def markovRemovalAttribution(edges: DataFrame, starts: DataFrame,
      srcCol: String, dstCol: String, weightCol: String,
      startNodeCol: String, startWeightCol: String,
      target: String, channels: Seq[String], iters: Int): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val (norm, nodes) = normalizedTransitions(edges, srcCol, dstCol, weightCol)
    val st = starts.select(col(startNodeCol).as("node"),
                           col(startWeightCol).cast("long").as("n_start"))
    val stTot = st.agg(sum(col("n_start")).as("n_all"))
    val share = st.crossJoin(broadcast(stTot)) // 1-row scalar
      .select(col("node"), round(d(col("n_start")) / d(col("n_all")), 9).as("sh"))
      .localCheckpoint()
    // ONE variant-keyed value iteration instead of 1 + |channels|
    // independent chains (optimization r13, guide §2.4/§2.6): the
    // full chain and every removal chain compute the SAME per-round
    // recurrence over disjoint key spaces, so batching them under a
    // `vt` (variant) column turns (1+|channels|)·iters checkpoint
    // jobs into `iters` — per-variant arithmetic (join keys, round-9
    // products, exact long sums) is untouched, so every number is
    // bit-identical to the serial chains. State stays bounded:
    // |variants|·|nodes| rows (channels are a policy list of tens,
    // nodes are event types — see the scale-shape note above).
    require(!channels.contains(""),
      "channel names must be non-empty (\"\" is the full-chain variant key)")
    val vtDf = {
      val s = edges.sparkSession
      import s.implicits._
      ("" +: channels).toDF("vt") // "" = no channel removed (full chain)
    }
    val normV = norm.crossJoin(broadcast(vtDf))
      .where(col("vt") === "" ||
             (col("src") =!= col("vt") && col("dst") =!= col("vt")))
    val nodesV = nodes.crossJoin(broadcast(vtDf))
    // one eager checkpoint per round (lazy round fusion RE-MEASURED
    // slower in r13 even for this single-consumer recurrence — AQE
    // re-planning the deep fused tree costs more than the per-round
    // checkpoint jobs save; see absorptionProbability's note)
    val prob = Rounds.iterate(nodesV.select(col("vt"), col("node"),
        when(col("node") === target, lit(1.0)).otherwise(lit(0.0)).as("pr")),
        iters) { (prob, _) =>
      val folded = normV
        .join(prob.withColumnRenamed("node", "dst"), Seq("vt", "dst"))
        .withColumn("cl", round(round(col("p") * col("pr"), 9) * 1e9, 0).cast("long"))
        .groupBy(col("vt"), col("src").as("node"))
        .agg(round(sum(col("cl")) / 1e9, 9).as("v"))
      nodesV.join(folded, Seq("vt", "node"), "left")
        .select(col("vt"), col("node"),
          when(col("node") === target, lit(1.0))
            .otherwise(coalesce(col("v"), lit(0.0))).as("pr"))
    }
    // start-mix conversion per variant — the conv(...) fold keyed by vt
    val convAll = prob.join(share, Seq("node"))
      .withColumn("cl", round(round(col("sh") * col("pr"), 9) * 1e9, 0).cast("long"))
      .groupBy(col("vt"))
      .agg(round(sum(col("cl")) / 1e9, 9).as("conv"))
      .localCheckpoint()
    Rounds.release(prob)
    val convFull = convAll.where(col("vt") === "").select(col("conv"))
    val perChannel = convAll.where(col("vt") =!= "")
      .select(col("vt").as("channel"), col("conv").as("conv_removed"))
    val eff = perChannel.crossJoin(broadcast(convFull)) // 1-row scalar
      .withColumn("removal_effect",
        when(col("conv") > 0,
          round(lit(1.0) - col("conv_removed") / col("conv"), 6)))
      .localCheckpoint()
    val tot = eff.agg((sum(round(greatest(col("removal_effect"), lit(0.0)) * 1e6, 0)
        .cast("long")) / lit(1e6)).as("eff_tot"))
    val out = eff.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("channel"), col("conv").as("conv_full"), col("conv_removed"),
        col("removal_effect"),
        when(col("eff_tot") > 0,
          round(greatest(col("removal_effect"), lit(0.0)) / col("eff_tot"), 6))
          .as("attribution"))
      .localCheckpoint()
    Rounds.release(norm, nodes, share, convAll, eff)
    out
  }

  /** Weighted modularity of a community assignment (Newman): per
    * community c, contribution = Σ_in(c)/2m − (Σ_tot(c)/2m)², summed
    * to Q ∈ [−0.5, 1] — the quality score that tells you whether
    * [[labelPropagation]]'s partition actually has denser-than-chance
    * internal structure or just converged somewhere. Reported per
    * community with Q replicated (the degree-dist fit convention).
    *
    * Symmetrization contract matches [[labelPropagation]] (edges
    * mirrored then weight-summed; every intra-community edge counts
    * in both directions, consistent with the 2m normalization), but
    * weights stay EXACT LONGS here — the label rounds need round-9
    * doubles, modularity's sums don't, and long sums hash-match in
    * any aggregation order. Contributions round to 6 and ×1e6-scale
    * to longs before the Q sum. Communities without internal edges
    * contribute −(Σ_tot/2m)² (w_in coalesced to 0).
    *
    * Scale shape: one symmetrize+sum aggregate, two |labels|-table
    * joins onto the edge table (labels are |V|-sized — broadcast when
    * small, shuffle-keyed otherwise), then community-bounded
    * aggregates and a 1-row Q broadcast.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 weightCol: String, labels: DataFrame,
                 labelNodeCol: String, labelCol: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("long").as("w"))
    // und feeds THREE consumers (2m total, the label join, the degree
    // sum) and sits under the final 1-row crossJoin, so a lazy plan
    // re-derived the whole upstream edge pipeline ~6× (measured: a
    // 230-operator / 102-Exchange plan on the transition-graph gate —
    // optimization r13). Materialize it once; it is the collapsed
    // (src, dst) weight table, the same size the consumers each
    // shuffle anyway.
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .localCheckpoint()
    val lab = labels.select(col(labelNodeCol).as("node"), col(labelCol).as("c"))
    val twoM = und.agg(sum(col("w")).as("m2"))
    val lj = und
      .join(lab.withColumnRenamed("node", "src").withColumnRenamed("c", "cs"), "src")
      .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("c", "cd"), "dst")
    val wIn = lj.where(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(sum(col("w")).as("w_in"))
    val degN = und.groupBy(col("src").as("node")).agg(sum(col("w")).as("k"))
    val degC = lab.join(degN, Seq("node"), "left")
      .groupBy(col("c").as("community"))
      .agg(count(lit(1)).as("n_nodes"),
           sum(coalesce(col("k"), lit(0L))).as("deg_tot"))
    // contrib is consumed twice (the Q sum and the final join) —
    // checkpoint the |communities|-row table so the join tree above
    // runs once (r13; same rationale as und)
    val contrib = degC.join(wIn, Seq("community"), "left")
      .crossJoin(broadcast(twoM)) // 1-row scalar
      .select(col("community"), col("n_nodes"),
        coalesce(col("w_in"), lit(0L)).as("w_in"), col("deg_tot"),
        round(d(coalesce(col("w_in"), lit(0L))) / d(col("m2"))
              - (d(col("deg_tot")) / d(col("m2")))
                * (d(col("deg_tot")) / d(col("m2"))), 6).as("contribution"))
      .localCheckpoint()
    val q = contrib.agg(
      round(sum(round(col("contribution") * 1e6, 0).cast("long")) / 1e6, 6)
        .as("q_modularity"))
    val out = contrib.crossJoin(broadcast(q)) // 1-row scalar
      .localCheckpoint()
    Rounds.release(und, contrib)
    out
  }

  /** Degree distribution + power-law tail fit: the histogram of
    * undirected-distinct node degrees, with a log-log OLS
    * (slope/intercept/R²) over the BOUNDED histogram replicated onto
    * every row — the pre-flight audit every graph algorithm here
    * wants ("is this a hub-dominated power-law graph that needs the
    * df-cut / salting path, or a bounded-degree mesh?").
    *
    * Determinism: degrees and histogram counts are exact longs; the
    * fit quantizes ln(degree)/ln(count) to round-6-scaled longs (the
    * [[TextAnalysis.zipfFit]] contract — libm ulp can't reach the
    * sums) and the normal equations divide exact integers cast
    * double factor-first. Degree-0 nodes can't exist here (nodes are
    * defined by edges); a single-bin histogram nulls the fit.
    *
    * Scale shape: one distinct pass over edges, one node-keyed
    * aggregate, one |degrees|-row aggregate; the fit runs on the
    * bounded histogram and broadcasts back as a 1-row scalar. Same
    * dedup conventions as [[kCore]] (direction, duplicate edges,
    * self-loops ignored).
    */
  def degreeDistribution(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val und = edges.select(least(col(srcCol), col(dstCol)).as("a"),
                           greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val pts = hist.select(
      round(log(d(col("degree"))) * 1e6, 0).cast("long").as("x"),
      round(log(d(col("n_nodes"))) * 1e6, 0).cast("long").as("y"))
    val g = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val fit = g.select(
      when(dx =!= 0, round(d(num) / d(dx), 6)).as("powerlaw_slope"),
      when(dx =!= 0 && dy =!= 0,
        round(d(num) * d(num) / (d(dx) * d(dy)), 6)).as("fit_r2"))
    hist.crossJoin(broadcast(fit)) // 1-row scalar
      .select(col("degree"), col("n_nodes"),
              col("powerlaw_slope"), col("fit_r2"))
  }

  /** Association rules over item-container baskets: for canonical
    * item pairs (a < b) co-occurring in ≥ `minSupport` containers,
    * the support, both confidences (P(b|a), P(a|b)) and the lift
    * (joint ÷ independence) — top-`k` by lift. The
    * recommendation-rule cousin of [[adamicAdar]] (which ranks by
    * weighted common neighbors; this quantifies directionality and
    * over-representation).
    *
    * Determinism: supports are exact distinct counts; every ratio
    * divides exact longs cast double factor-first, rounded 6; the
    * top-k is a TakeOrdered on (lift, a, b). Same container df-cut
    * as adamicAdar (size-1 containers carry no pair; oversize ones
    * are degenerate hubs AND quadratic — cut before the pair
    * explode).
    *
    * Scale shape: one distinct pass, one container-keyed pair
    * explode bounded by the df-cut, hash aggregates keyed by item /
    * pair, a broadcast of the (|items|-row) support table onto the
    * pair table, and a constant-size TakeOrdered. No window.
    */
  def associationRules(rel: DataFrame, itemCol: String, containerCol: String,
                       k: Int = 20, minSupport: Long = 2,
                       maxContainerSize: Int = 200): DataFrame = {
    val e = rel.select(col(itemCol).as("item"), col(containerCol).as("c")).distinct()
    val ok = e.groupBy("c").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= maxContainerSize).select("c")
    val p = e.join(ok, Seq("c"))
    val nTotal = e.select(col("c")).distinct()
      .agg(count(lit(1)).as("n_total"))
    val items = e.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.c") === col("b.c") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= minSupport)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    pairs
      .join(broadcast(items.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a")), Seq("item_a"))
      .join(broadcast(items.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b")), Seq("item_b"))
      .crossJoin(broadcast(nTotal)) // 1-row scalar
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"), col("n_b"),
        round(d(col("n_both")) / d(col("n_a")), 6).as("conf_a_to_b"),
        round(d(col("n_both")) / d(col("n_b")), 6).as("conf_b_to_a"),
        round(d(col("n_both")) * d(col("n_total"))
              / (d(col("n_a")) * d(col("n_b"))), 6).as("lift"))
      .orderBy(desc("lift"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** k-core subgraph by synchronous peeling rounds: each round drops
    * every node whose degree within the surviving subgraph is < k;
    * after enough rounds the survivors are exactly the k-core (the
    * densely-connected backbone — the standard prefilter before
    * community detection or embedding training on an interaction
    * graph). Returns the surviving nodes with their within-core
    * degree.
    *
    * Determinism: degrees are integer counts — no float enters the
    * loop, so every round is bit-exact in any engine and the DuckDB
    * oracle replays rounds as MATERIALIZED CTEs (the
    * [[labelPropagation]] contract). Peeling is monotone (drops only
    * shrink degrees), so `iters` rounds either reach the fixed point
    * or a superset of it; run rounds ≥ the peel depth (near-dup /
    * co-occurrence graphs converge in a handful).
    *
    * Scale shape: edges symmetrize + dedup ONCE with one shuffle
    * total (repartition(src) first — HashPartitioning(src) already
    * co-locates equal (src, dst) rows, so the dedupe adds no
    * exchange — then cache; AQE sizes the cached width
    * data-proportionally, see [[greedyMatching]]'s width note; round
    * aggregates exchange only their post-partial rows). Each round's alive set is ≤ |V| ids
    * (node-bounded), so both survival semi-joins BROADCAST it (one
    * reused exchange) instead of re-shuffling the |E|-row edge table
    * by dst every round — the whole round is one map-side stage; a
    * graph whose alive set outgrows the driver wants shuffle
    * semi-joins back. The alive table is consumed twice per round —
    * same eager per-round localCheckpoint as [[pageRank]]. No
    * collect anywhere.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, iters: Int): DataFrame = {
    require(k >= 1, "k must be >= 1 (k = 0 peels nothing)")
    require(iters >= 1, "iters must be >= 1")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist()
    def coreDeg(alive: DataFrame): DataFrame = und
      .join(broadcast(alive.withColumnRenamed("node", "src")), Seq("src"),
        "left_semi")
      .join(broadcast(alive.withColumnRenamed("node", "dst")), Seq("dst"),
        "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val alive = Rounds.iterate(und.select(col("src").as("node")).distinct(), iters)(
      (alive, _) => coreDeg(alive).where(col("deg") >= k).select("node"))
    val out = Rounds.materialize(coreDeg(alive)
      .select(col("node"), col("deg").as("core_deg")))
    Rounds.release(alive)
    und.unpersist(blocking = false)
    out
  }

  /** Deterministic weighted random walks — the node2vec/DeepWalk
    * corpus generator: `walksPerNode` walks of `length` steps start
    * at every node; each step samples the next hop from the source's
    * out-edge distribution via inverse-CDF lookup. The walk corpus
    * is what skip-gram graph embeddings train on.
    *
    * Determinism (oracle parity): the step-i draw is the md5 uniform
    * of (walk_id, i) — no RNG state — and the pick is the unique
    * out-edge whose cumulative-weight interval [cumlo, cum) contains
    * u·tot. Cumulative bounds are exact count sums ordered by dst;
    * u·tot is one double product mirrored in the SQL twin, so both
    * engines select the same edge.
    *
    * Scale shape: the CDF-annotated edge table builds once (per-src
    * windows, key-partitioned) and persists; each step is ONE hash
    * join of the |V|·walksPerNode-row state against it — the pick
    * predicate rides the join, no per-step window. Walks hitting a
    * dangling node terminate (left join, null next). Per-step state
    * is eagerly checkpointed (two consumers: the output slice and
    * the next hop — the [[pageRank]] discipline).
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, walksPerNode: Int,
                  length: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    val wCum = Window.partitionBy("src").orderBy("dst")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ce = e
      .withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy("src")))
      .withColumn("cumlo", col("cum") - col("w"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    var state = nodes
      .withColumn("r", explode(sequence(lit(1), lit(walksPerNode))))
      .select(concat(col("node"), lit("#"), col("r").cast("string")).as("walk_id"),
        col("node").as("cur"))
      .localCheckpoint()
    val slices = scala.collection.mutable.ArrayBuffer(
      state.select(col("walk_id"), lit(0L).as("step"), col("cur").as("node")))
    val states = scala.collection.mutable.ArrayBuffer(state)
    for (i <- 1 to length) {
      val u = conv(substring(md5(concat(col("walk_id"), lit("_"), lit(i.toString))),
        1, 8), 16, 10).cast("double") / 4294967296.0
      state = state
        .withColumn("u", u)
        .join(ce, col("cur") === col("src") &&
          col("u") * col("tot") >= col("cumlo") &&
          col("u") * col("tot") < col("cum"), "left")
        .select(col("walk_id"), col("dst").as("cur"))
        .localCheckpoint()
      states += state
      slices += state.where(col("cur").isNotNull)
        .select(col("walk_id"), lit(i.toLong).as("step"), col("cur").as("node"))
    }
    val out = slices.reduce(_ unionByName _).localCheckpoint()
    Rounds.release(states.toSeq: _*)
    ce.unpersist(blocking = false)
    out
  }

  /** One ALS half-step (rank 2): solve every user's factor vector in
    * closed form given fixed item factors — the user half of the
    * alternating-least-squares recommender iteration, the canonical
    * distributed-Spark factorization workload. Per user u:
    * x_u = (YᵀY + λI)⁻¹ Yᵀr_u over the items u rated, a 2×2 system
    * inverted symbolically inside the aggregate projection.
    *
    * Determinism (oracle parity): item factors are md5-derived
    * integer milli-units y = ys/1000 with ys ∈ [0,1000) (the
    * [[Sampling]] md5 contract — DuckDB replays the same draw), so
    * the five per-user moments a=Σy1s², b=Σy1s·y2s, c=Σy2s²,
    * d1=Σr·y1s, d2=Σr·y2s accumulate as EXACT long sums in any
    * aggregation order; the closed-form solve is one fixed double
    * expression over those longs, written with identical structure
    * in both engines.
    *
    * Scale shape: one hash agg to ratings, one join against the item
    * factor table (broadcast here — items are event types; swap to a
    * plain shuffle join when the item side outgrows the broadcast
    * cap), one per-user aggregate. No window, no iteration state.
    */
  def alsUserStep(ratings: DataFrame, userCol: String, itemCol: String,
                  ratingCol: String, lambda: Double = 0.1): DataFrame = {
    def h(suffix: String) =
      conv(substring(md5(concat(col("item"), lit(suffix))), 1, 8), 16, 10)
        .cast("long") % 1000L
    val r = ratings.select(col(userCol).as("user"), col(itemCol).as("item"),
      col(ratingCol).cast("long").as("r"))
    val y = r.select("item").distinct()
      .withColumn("y1s", h(":1"))
      .withColumn("y2s", h(":2"))
    val g = r.join(broadcast(y), "item")
      .groupBy("user")
      .agg(count(lit(1)).as("n_items"),
        sum(col("y1s") * col("y1s")).as("a"),
        sum(col("y1s") * col("y2s")).as("b"),
        sum(col("y2s") * col("y2s")).as("c"),
        sum(col("r") * col("y1s")).as("d1"),
        sum(col("r") * col("y2s")).as("d2"))
    // A = YᵀY/1e6 + λI, rhs = Yᵀr/1e3; identical expression shape in
    // the SQL twin so the IEEE double results match bit-for-bit
    val a11 = col("a").cast("double") / lit(1e6) + lit(lambda)
    val a12 = col("b").cast("double") / lit(1e6)
    val a22 = col("c").cast("double") / lit(1e6) + lit(lambda)
    val r1 = col("d1").cast("double") / lit(1e3)
    val r2 = col("d2").cast("double") / lit(1e3)
    val det = a11 * a22 - a12 * a12
    g.select(col("user"), col("n_items"),
      round((a22 * r1 - a12 * r2) / det, 6).as("x1"),
      round((a11 * r2 - a12 * r1) / det, 6).as("x2"))
  }

  /** Materialize the df-cut co-purchase PAIR GRAPH once per corpus —
    * the [[graft.operators.Dedup.ensureClusterMap]] discipline applied
    * to the basket family: [[adamicAdar]], [[neighborhoodJaccard]],
    * [[associationRules]] and the k-core gate all start from the SAME
    * container-keyed pair explode over the same distinct (item,
    * container) relation, and that explode (the quadratic step the
    * df-cut exists to bound) is the dominant cost of each. Build it
    * once; every consumer is then a scan of a pair table that is tiny
    * relative to the source relation.
    *
    * Three tables under `path`:
    *  - `${path}_pairs`   (item_a, item_b, n_common, w_sum): one row
    *    per canonical co-occurring pair on the df-cut graph, with the
    *    shared-container count and the exact scaled-long Adamic-Adar
    *    weight sum (Σ round(1/ln(deg), 9)·1e9 over shared containers),
    *    hash-bucketed by item_a ([[appendBasketDelta]] partition-
    *    prunes its merge to the buckets a delta touches);
    *  - `${path}_degrees` (item, n_all, n_cut): per-item container
    *    counts on the UNCUT and cut relations — association rules
    *    normalize by uncut supports, neighborhood Jaccard by cut
    *    degrees (self-consistency; see [[neighborhoodJaccard]]);
    *  - `${path}_stats`   (n_total): total distinct containers
    *    (uncut), written LAST so its `_SUCCESS` is the commit marker
    *    (the [[graft.operators.TextAnalysis.writeBm25Index]]
    *    convention — a crash mid-write leaves a marker-less graph
    *    that [[ensureBasketGraph]] rebuilds).
    *
    * Exactness: every stored number is an exact integer (counts and
    * scaled-long weight sums — aggregation-order-independent), so a
    * consumer reading the graph produces bit-identical results to the
    * direct operator and the direct operators' DuckDB oracles hold
    * UNCHANGED.
    *
    * Scale shape: one distinct pass over the relation, one bounded
    * pair explode (df-cut 2..`maxContainerSize` BEFORE the self-join),
    * one pair-keyed hash aggregate — exactly the cost ONE direct
    * consumer already paid; everything downstream is served.
    */
  /** The three basket-graph aggregates of one (item, container)
    * relation, shared verbatim by [[writeBasketGraph]] (full build)
    * and [[appendBasketDelta]] (delta build) — same df-cut, same
    * exact integers, so a delta merge is bit-identical to a rebuild.
    * Caller unpersists the returned handles.
    */
  private def basketAggregates(rel: DataFrame, itemCol: String,
                               containerCol: String, maxContainerSize: Int,
                               numBuckets: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = rel.select(col(itemCol).as("item"), col(containerCol).as("c"))
      .distinct()
      .persist()
    val wl = e.groupBy("c").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= maxContainerSize)
      .withColumn("wl",
        round(round(lit(1.0) / log(col("deg").cast("double")), 9) * 1e9, 0)
          .cast("long"))
      .select("c", "wl")
    val p = e.join(wl, Seq("c")).persist()
    val pairs = p.as("a").join(p.as("b"),
        col("a.c") === col("b.c") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("a.wl")).as("w_sum"))
      .withColumn("bucket", pmod(xxhash64(col("item_a")), lit(numBuckets.toLong)))
    val nAll = e.groupBy("item").agg(count(lit(1)).as("n_all"))
    val nCut = p.groupBy("item").agg(count(lit(1)).as("n_cut"))
    val deg = nAll.join(nCut, Seq("item"), "left")
      .select(col("item"), col("n_all"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"))
    val stats = e.select("c").distinct().agg(count(lit(1)).as("n_total"))
    (e, p, pairs, deg, stats)
  }

  def writeBasketGraph(rel: DataFrame, itemCol: String, containerCol: String,
                       path: String, maxContainerSize: Int = 200,
                       numBuckets: Int = 64): Unit = {
    val (e, p, pairs, deg, stats) =
      basketAggregates(rel, itemCol, containerCol, maxContainerSize, numBuckets)
    try {
      pairs
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"${path}_pairs")
      deg.write.mode("overwrite").parquet(s"${path}_degrees")
      stats.write.mode("overwrite").parquet(s"${path}_stats")
    } finally { // a failed write must not leak the cached blocks
      p.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  /** [[writeBasketGraph]] only if the `_stats/_SUCCESS` commit marker
    * is absent — `rel` is by-name, so when the graph exists nothing of
    * the source plan is evaluated (the
    * [[graft.operators.Dedup.ensureClusterMap]] contract).
    */
  def ensureBasketGraph(rel: => DataFrame, itemCol: String,
                        containerCol: String, path: String,
                        maxContainerSize: Int = 200): Unit = {
    if (!Markers.exists(s"${path}_stats/_SUCCESS"))
      writeBasketGraph(rel, itemCol, containerCol, path, maxContainerSize)
  }

  /** UPSERT a WHOLE-CONTAINER delta into a materialized
    * [[writeBasketGraph]] graph without re-touching the old relation —
    * the [[graft.operators.TextAnalysis.writeBm25Index]] maintenance
    * discipline applied to the pair graph. Every stored number is
    * ADDITIVE across container-disjoint halves: a container lives
    * entirely in one ingest (orders arrive whole), so its df-cut
    * degree, its pair contributions (n_common, w_sum) and the degree/
    * total counts computed on the delta alone are exactly the
    * missing addends — old + delta aggregates merge by SUM into the
    * same exact integers a from-scratch rebuild produces (spec-proven
    * bit-equality).
    *
    * Append-only contract ([[graft.operators.Dedup.appendClusterDelta]]'s):
    * the delta must contain only NEW containers — re-ingesting a
    * changed container would need its old contributions subtracted,
    * which the summed tables cannot express; rebuild for that case.
    *
    * Scale shape: the delta's pair explode is delta-sized; the pair
    * table is hash-bucketed by item_a, so the merge reads ONLY the
    * buckets the delta touches (partition-pruned scan) and dynamic
    * partition overwrite rewrites only those — untouched buckets stay
    * byte-identical (spec-pinned). Additive merges never empty a
    * bucket, so there is no emptied-partition cleanup (unlike the
    * BM25 re-ingest path). Degrees/stats are |items|-row and 1-row —
    * they rewrite whole. Crash safety: the `_stats/_SUCCESS` commit
    * marker is deleted before the first mutation and restored by the
    * final stats write; a crash mid-upsert leaves a marker-less graph
    * that [[ensureBasketGraph]] rebuilds and serving refuses.
    *
    * Concurrency contract: SINGLE WRITER, NO CONCURRENT READERS
    * during the upsert window. The `*FromGraph` servers check the
    * marker once at plan time, so a reader that passed the check
    * before the upsert's marker delete can still observe merged
    * `_pairs` joined with stale `_degrees`/`_stats` mid-write, and
    * two concurrent upserts would double-apply the additive sums.
    * Serialize maintenance against serving (the usual index-rotation
    * discipline: stop serving, upsert, resume) or upsert into a copy
    * and swap paths. Markers are crash-safety, not a lock.
    */
  def appendBasketDelta(deltaRel: DataFrame, itemCol: String,
                        containerCol: String, path: String,
                        maxContainerSize: Int = 200,
                        numBuckets: Int = 64): Unit = {
    val spark = deltaRel.sparkSession
    val (e, p, dPairsPlan, dDeg, dStats) =
      basketAggregates(deltaRel, itemCol, containerCol, maxContainerSize,
        numBuckets)
    try {
    val dPairs = dPairsPlan.localCheckpoint() // consumed twice (buckets, merge)
    val affected = dPairs.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted // control-plane, <= numBuckets values
    // a base build whose df-cut produced ZERO pairs leaves a
    // footerless (schema-less) _pairs dir — read it as empty instead
    // of failing schema inference (caught by the PropertySpec random
    // whole-container splits)
    val oldPairs =
      try spark.read.parquet(s"${path}_pairs")
        .select(col("item_a"), col("item_b"), col("n_common"), col("w_sum"),
          // partition columns read back under inference — cast explicitly
          col("bucket").cast("long").as("bucket"))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          dPairs.limit(0)
      }
    val oldAffected = oldPairs
      .where(col("bucket").isin(affected: _*))
      .localCheckpoint() // materialize BEFORE overwriting what we read
    val merged = oldAffected.unionByName(dPairs)
      .groupBy("bucket", "item_a", "item_b")
      .agg(sum(col("n_common")).as("n_common"), sum(col("w_sum")).as("w_sum"))
      .select("item_a", "item_b", "n_common", "w_sum", "bucket")
      .localCheckpoint()
    val oldDeg = spark.read.parquet(s"${path}_degrees")
      .select(col("item"), col("n_all").as("o_all"), col("n_cut").as("o_cut"))
    val mergedDeg = oldDeg
      .join(dDeg.select(col("item"), col("n_all").as("d_all"),
        col("n_cut").as("d_cut")), Seq("item"), "full_outer")
      .select(col("item"),
        (coalesce(col("o_all"), lit(0L)) + coalesce(col("d_all"), lit(0L)))
          .as("n_all"),
        (coalesce(col("o_cut"), lit(0L)) + coalesce(col("d_cut"), lit(0L)))
          .as("n_cut"))
      .localCheckpoint()
    val mergedStats = spark.read.parquet(s"${path}_stats")
      .crossJoin(broadcast(dStats.withColumnRenamed("n_total", "d_total")))
      .select((col("n_total") + col("d_total")).as("n_total"))
      .localCheckpoint()
    val fsPre = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"${path}_stats/_SUCCESS")
    if (fsPre.exists(marker)) fsPre.delete(marker, false) // graph now in-flux
    merged
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(s"${path}_pairs")
    mergedDeg.write.mode("overwrite").parquet(s"${path}_degrees")
    // the _stats overwrite recreates its _SUCCESS — the commit point
    mergedStats.write.mode("overwrite").parquet(s"${path}_stats")
    Rounds.release(dPairs, oldAffected, merged, mergedDeg, mergedStats)
    } finally { // a failed stage must not leak the cached blocks
      p.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  private def requireBasketGraph(path: String): Unit =
    require(Markers.exists(s"${path}_stats/_SUCCESS"),
      s"basket graph at $path has no commit marker (crashed write?); " +
        "rebuild it with writeBasketGraph/ensureBasketGraph")

  /** The materialized pair table as a symmetric-free edge list —
    * k-core / components consumers feed this straight into
    * [[kCore]]-style peeling (they symmetrize internally).
    */
  def basketPairEdges(spark: org.apache.spark.sql.SparkSession,
                      path: String, minSupport: Long = 1): DataFrame = {
    requireBasketGraph(path)
    spark.read.parquet(s"${path}_pairs")
      .where(col("n_common") >= minSupport)
      .select(col("item_a").as("src"), col("item_b").as("dst"))
  }

  /** [[adamicAdar]] served from a materialized [[writeBasketGraph]]
    * graph: the stored exact w_sum divides and rounds exactly as the
    * direct operator's aggregate did, so results (and the oracle)
    * are identical — but the pair explode never re-runs.
    */
  def adamicAdarFromGraph(spark: org.apache.spark.sql.SparkSession,
                          path: String, k: Int = 20): DataFrame = {
    requireBasketGraph(path)
    spark.read.parquet(s"${path}_pairs")
      .select(col("item_a"), col("item_b"), col("n_common"),
        round(col("w_sum") / 1e9, 6).as("score"))
      .orderBy(desc("score"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** [[neighborhoodJaccard]] served from the materialized graph:
    * n_common from the pair table, degrees from the CUT column of the
    * degree table (the direct operator's self-consistency contract).
    */
  /** k-TRUSS decomposition of the co-purchase backbone — the
    * triangle-cohesion classic one level above [[kCore]]: every
    * surviving edge must sit in ≥ k−2 triangles among surviving
    * edges, so a truss is a set of overlapping triangles (k-core
    * keeps hub-and-spoke stars; truss does not). Edges are the
    * materialized basket pairs at `minSupport`+ co-occurrences (the
    * association-rules backbone); `rounds` synchronous peel rounds
    * run with per-round support recounts — a complete triangle is a
    * 3-truss fixed point, so the output is stable structure, not an
    * artifact of the round count. Returns the surviving edges with
    * their final-graph support.
    *
    * Scale shape: each round is one wedge join (Σdeg² on the
    * support-FILTERED backbone — orders of magnitude below the raw
    * pair graph; the corpus-scale variant orients wedges by degree
    * like [[triangleCounts]]), a per-edge count aggregate, and a
    * filter; rounds localCheckpoint so round r never replays r−1.
    */
  def kTrussFromGraph(spark: org.apache.spark.sql.SparkSession,
                      path: String, k: Int = 3, rounds: Int = 3,
                      minSupport: Long = 2): DataFrame = {
    requireBasketGraph(path)
    require(k >= 3 && rounds >= 1, s"need k>=3, rounds>=1: $k/$rounds")
    def support(ed: DataFrame): DataFrame = {
      val s = ed.unionByName(ed.select(col("y").as("x"), col("x").as("y")))
      ed.join(s.select(col("x"), col("y").as("z")), "x")
        .join(s.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"))
        .groupBy("x", "y").agg(count(lit(1)).as("sup"))
    }
    val e0 = spark.read.parquet(s"${path}_pairs")
      .where(col("n_common") >= minSupport)
      .select(col("item_a").as("x"), col("item_b").as("y"))
      .localCheckpoint()
    val e = Rounds.iterate(e0, rounds) { (e, _) =>
      e.join(support(e), Seq("x", "y"), "left")
        .where(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select("x", "y")
    }
    e.join(support(e), Seq("x", "y"), "left")
      .select(col("x").as("item_a"), col("y").as("item_b"),
        coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Degree ASSORTATIVITY (Newman 2002) of the co-purchase backbone —
    * one number answering "do popular products co-occur with popular
    * products?": the Pearson correlation of endpoint degrees over the
    * SYMMETRIZED edge list. Positive = hubs link to hubs (social
    * shape), negative = hub-and-spoke (catalog/star shape) — the
    * topology diagnostic that tells you whether k-core/truss
    * structure even exists to find.
    *
    * Exactness: degrees are exact integer counts off the served pair
    * table; the five moment sums accumulate as exact longs
    * (degree ≤ |V|, products fit comfortably); r is the events_trend
    * closed form over those exact sums, round 6. One |pairs|-sized
    * join against the broadcast degree table, one 1-row aggregate.
    */
  def assortativityFromGraph(spark: org.apache.spark.sql.SparkSession,
                             path: String): DataFrame = {
    requireBasketGraph(path)
    def d(c: Column) = c.cast("double")
    val deg = spark.read.parquet(s"${path}_degrees")
      .select(col("item"), col("n_cut").as("deg"))
    val ends = spark.read.parquet(s"${path}_pairs")
      .select(col("item_a").as("u"), col("item_b").as("v"))
    val sym = ends.unionByName(
      ends.select(col("v").as("u"), col("u").as("v")))
    val g = sym
      .join(broadcast(deg.select(col("item").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("item").as("v"), col("deg").as("dv"))), "v")
      .agg(count(lit(1)).as("n"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val dx = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val dy = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    g.select(expr("n div 2").as("n_edges"),
      when(dx > 0 && dy > 0,
        round(num / sqrt(dx * dy), 6)).as("assortativity"))
  }

  def neighborhoodJaccardFromGraph(spark: org.apache.spark.sql.SparkSession,
                                   path: String, k: Int = 20): DataFrame = {
    requireBasketGraph(path)
    val deg = spark.read.parquet(s"${path}_degrees")
    spark.read.parquet(s"${path}_pairs")
      .join(broadcast(deg.select(col("item").as("item_a"),
        col("n_cut").as("n_a"))), Seq("item_a"))
      .join(broadcast(deg.select(col("item").as("item_b"),
        col("n_cut").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_common"),
        round(col("n_common").cast("double")
              / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(desc("jaccard"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** PREFERENTIAL-ATTACHMENT link score served from the materialized
    * graph — the third leg of the classic link-prediction triad
    * next to Adamic-Adar (shared-neighbor quality) and Jaccard
    * (shared-neighbor share): score(a, b) = deg(a)·deg(b), the
    * rich-get-richer baseline (Barabási-Albert). AA and Jaccard
    * reward OVERLAP; PA rewards pure popularity — comparing the
    * three rankings is how one diagnoses whether a graph grows by
    * affinity or by fame. Exact integer products of the CUT degrees
    * (the [[neighborhoodJaccardFromGraph]] self-consistency
    * contract), reported for the observed pairs; k smallest-first
    * tie-break on ids.
    *
    * Scale shape: one broadcast of the node-bounded degree table
    * onto the served pair scan, TakeOrdered for the top-k.
    */
  def preferentialAttachmentFromGraph(spark: org.apache.spark.sql.SparkSession,
                                      path: String, k: Int = 20): DataFrame = {
    requireBasketGraph(path)
    val deg = spark.read.parquet(s"${path}_degrees")
    spark.read.parquet(s"${path}_pairs")
      .join(broadcast(deg.select(col("item").as("item_a"),
        col("n_cut").as("n_a"))), Seq("item_a"))
      .join(broadcast(deg.select(col("item").as("item_b"),
        col("n_cut").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_common"),
        col("n_a"), col("n_b"), (col("n_a") * col("n_b")).as("pa_score"))
      .orderBy(desc("pa_score"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** [[associationRules]] served from the materialized graph: pair
    * supports from the pair table, item supports from the UNCUT
    * column of the degree table, the container total from the stats
    * row — the exact integers the direct operator aggregates, so
    * every ratio and the top-k come out identical.
    */
  def associationRulesFromGraph(spark: org.apache.spark.sql.SparkSession,
                                path: String, k: Int = 20,
                                minSupport: Long = 2): DataFrame = {
    requireBasketGraph(path)
    def d(c: Column) = c.cast("double")
    val deg = spark.read.parquet(s"${path}_degrees")
    val nTotal = spark.read.parquet(s"${path}_stats")
    spark.read.parquet(s"${path}_pairs")
      .where(col("n_common") >= minSupport)
      .withColumnRenamed("n_common", "n_both")
      .join(broadcast(deg.select(col("item").as("item_a"),
        col("n_all").as("n_a"))), Seq("item_a"))
      .join(broadcast(deg.select(col("item").as("item_b"),
        col("n_all").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nTotal)) // 1-row scalar
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"), col("n_b"),
        round(d(col("n_both")) / d(col("n_a")), 6).as("conf_a_to_b"),
        round(d(col("n_both")) / d(col("n_b")), 6).as("conf_b_to_a"),
        round(d(col("n_both")) * d(col("n_total"))
              / (d(col("n_a")) * d(col("n_b"))), 6).as("lift"))
      .orderBy(desc("lift"), asc("item_a"), asc("item_b"))
      .limit(k)
  }

  /** EXACT HOP PROFILE + EFFECTIVE DIAMETER of a bounded backbone —
    * the neighborhood function N(h) = Σ_v |B_h(v)| computed exactly
    * by h distinct-frontier expansion rounds, with the classic
    * 90%-effective-diameter read-off (Palmer/Faloutsos ANF
    * semantics, exact instead of sketched): per hop, the reached
    * pair count (self included, the [[neighborhoodFunction]]
    * convention), its share of the horizon-H count, and whether this
    * hop is the first to reach ≥ 90% — "most of the graph is within
    * d_eff hops" is the one-number connectivity summary.
    *
    * Input convention: exact balls are |V|·|B_h| rows, so callers
    * pass a BOUNDED backbone (the support-cut co-purchase graph —
    * the [[betweennessSampled]] contract); at corpus scale the HLL
    * [[neighborhoodFunction]]/[[ensureAnfProfile]] route estimates
    * the same curve in |V|-row state. Per-round eager checkpoint
    * (the pageRank discipline); per-hop counts are 1-row aggregates
    * unioned into a ≤maxHops-row report.
    */
  def hopProfile(edges: DataFrame, srcCol: String, dstCol: String,
                 maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    def d(c: Column) = c.cast("double")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist()
    val nodes = und.select(col("src").as("node")).distinct()
    val reach1 = und.select(col("src").as("node"), col("dst").as("m"))
      .union(nodes.select(col("node"), col("node").as("m")))
      .distinct()
      .localCheckpoint()
    // each per-hop count materializes EAGERLY while its reach table's
    // blocks are still alive — the counts are what survive the loop,
    // the |V|·|B_h| frames do not
    def countOf(h: Long, r: DataFrame) =
      r.agg(count(lit(1)).as("n_pairs"))
        .select(lit(h).as("hop"), col("n_pairs")).localCheckpoint()
    val counts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val reach = Rounds.iterate(reach1, maxHops - 1) { (prev, h) =>
      counts += countOf(h.toLong, prev) // round h extends hop h's balls
      und.join(prev.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("m"))
        .union(prev)
        .distinct()
    }
    counts += countOf(maxHops.toLong, reach)
    Rounds.release(reach)
    und.unpersist(blocking = false)
    val curve = counts.reduce(_ unionByName _) // ≤maxHops 1-row checkpoints
    val last = curve.where(col("hop") === maxHops)
      .select(col("n_pairs").as("n_last"))
    val shared = curve.crossJoin(broadcast(last)) // bounded × 1-row
      .withColumn("share", round(d(col("n_pairs")) / d(col("n_last")), 6))
    val deff = shared.where(col("share") >= 0.9)
      .agg(min(col("hop")).as("d_eff"))
    shared.crossJoin(broadcast(deff)) // 1-row scalar
      .select(col("hop"), col("n_pairs"), col("share"),
        (col("hop") === col("d_eff")).as("is_effective_diameter"))
  }

  /** KATZ CENTRALITY (Katz 1953), truncated to `iters` walk lengths
    * over the COLUMN-STOCHASTIC transition matrix: c(v) = Σ_{k=1..K}
    * Σ_u β^k P^k(u→v) — influence that counts ALL incoming walks,
    * geometrically damped by length, where [[pageRank]] counts only
    * the stationary flow (Katz rewards being reachable MANY ways;
    * PageRank splits each source's vote). On the stochastic matrix
    * β < 1 guarantees the series converges and the K-truncation
    * error is ≤ β^{K+1}/(1−β) of the total mass — the truncated
    * iterate is what's gated, replayed round-for-round.
    *
    * Determinism: [[pageRank]]'s contract — round-6 input probs,
    * per-round walk mass rounded to 9 with the accumulator kept as
    * an exact ×1e9 long between rounds, final score one division
    * rounded 6. One join + one node aggregate per round on the
    * bounded state (eager checkpoint, the pageRank discipline).
    *
    * Input bound: `edges` is checkpointed eagerly, when the call is
    * made, so it must be a bounded transition table (every registry
    * caller passes ≤ |types|² rows); an unbounded edge stream would
    * be materialized whole before round 1.
    */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                     weightCol: String, beta: Double, iters: Int): DataFrame = {
    require(beta > 0 && beta < 1 && iters >= 1, s"bad katz params: $beta/$iters")
    val (norm, nodes) = normalizedTransitions(edges, srcCol, dstCol, weightCol)
    val state0 = nodes
      .select(col("node"), lit(1.0).as("w"), lit(0L).as("c9"))
      .localCheckpoint()
    val state = Rounds.iterate(state0, iters) { (state, _) =>
      val flowed = norm
        .join(state.select(col("node").as("src"), col("w")), "src")
        .groupBy(col("dst").as("node"))
        .agg(round(lit(beta) * sum(round(round(col("p") * col("w"), 9) * 1e9, 0)
          .cast("long")) / 1e9, 9).as("w_next"))
      state.join(flowed, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("w_next"), lit(0.0)).as("w"),
          (col("c9") + round(coalesce(col("w_next"), lit(0.0)) * 1e9, 0)
            .cast("long")).as("c9"))
    }
    val out = Rounds.materialize(state
      .select(col("node"), round(col("c9") / 1e9, 6).as("katz")))
    Rounds.release(state, norm, nodes)
    out
  }

  /** DIRECTED-GRAPH RECIPROCITY (Newman/Garlaschelli): the share of
    * directed edges whose reverse edge also exists — how two-way the
    * graph's relationships are (a transition graph where A→B implies
    * B→A behaves very differently under every diffusion operator
    * above). Reported globally plus per source node (a node whose
    * out-edges are never returned is a pure broadcaster — the
    * follow-back metric). Self-loops are excluded on both sides of
    * the ratio.
    *
    * Scale shape: distinct directed edges once, one self-join on the
    * reversed key (both sides shuffle on the same (u, v) hash —
    * co-partitioned), one node aggregate + one 1-row global broadcast.
    * Exact integer counts; ratios are single divisions rounded 6.
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val mutual = e.join(e.select(col("v").as("u"), col("u").as("v")),
      Seq("u", "v"), "left_semi")
    val per = e.groupBy("u").agg(count(lit(1)).as("n_out"))
      .join(mutual.groupBy("u").agg(count(lit(1)).as("n_mutual")),
        Seq("u"), "left")
      .select(col("u").as("node"), col("n_out"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
    val tot = per.agg(sum(col("n_out")).as("e_all"),
      sum(col("n_mutual")).as("e_mutual"))
    per.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("node"), col("n_out"), col("n_mutual"),
        round(d(col("n_mutual")) / d(col("n_out")), 6).as("node_reciprocity"),
        round(d(col("e_mutual")) / d(col("e_all")), 6).as("graph_reciprocity"))
  }
}
