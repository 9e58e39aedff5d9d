package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("onionReport: exact layer peels copies, near-dup layer peels the paraphrase") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight again"
    val docs = Seq(
      (1L, base),                                   // original
      (2L, base),                                   // exact copy -> layer 1
      (3L, base.replace("runs", "walks")),          // near-dup   -> layer 2
      (4L, "completely different words in this document nothing shared at all here today"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.onionReport(docs, "doc_id", "text")
      .orderBy("layer")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("1_exact", 4L, 1L, 3L, 0.25),
      ("2_near_dup", 3L, 1L, 2L, round6(1.0 / 3))), s"onion: $got")
  }
  private def round6(x: Double) = math.rint(x * 1e6) / 1e6
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exact(d, "doc_id", "text").orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("keepFirst returns the corpus minus later duplicates, columns intact") {
    val d = docs((3L, "a b c"), (1L, "a b c"), (2L, "x y z"))
    val kept = Dedup.keepFirst(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(kept == Seq((1L, "a b c"), (2L, "x y z")))
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs absent") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words with nothing shared here at all"))
    val got = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("minhash finds the near-dup pair an exact jaccard finds") {
    val base = "spark makes distributed data processing declarative and fast for everyone today"
    val d = docs(
      (1L, base),
      (2L, base + " indeed"),  // near-dup of 1
      (3L, "completely unrelated content talking about gardening tulips and soil quality"))
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact) // identical verification threshold → LSH ⊆ exact; here recall is total
  }

  test("minhash recall vs exact jaccard on real docs (sf0.001)") {
    val d = Tables.documents(spark, sf001)
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must verify candidates exactly")
    assert(exact.nonEmpty && lsh.size >= (exact.size * 0.9),
      s"recall ${lsh.size}/${exact.size} below 90%")
  }

  test("simhash: identical docs collide at hamming 0; unrelated docs don't pair at small radius") {
    val d = docs(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
    val got = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 2)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L)))
  }

  test("embedding pairs exact vs lsh: lsh output is a subset with same scores") {
    val e = Tables.embeddings(spark, sf001).where(col("vec_id") < 100)
    val exact = Dedup.embeddingPairsExact(e, "vec_id", "embedding", 0.25)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.embeddingPairsLsh(e, "vec_id", "embedding", 0.25, nbits = 4, numTables = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("semanticClusters: planted near-dups cluster, separated directions stay singletons") {
    // two tight direction bundles + one outlier; with enough cells the
    // bundles land wherever their argmax says, but each bundle's
    // members must share a component labeled by its min id
    val e = Seq(
      (1L, Seq(1.0f, 0.02f, 0.0f)), (2L, Seq(0.99f, 0.0f, 0.01f)),
      (3L, Seq(0.98f, 0.01f, 0.02f)),                  // bundle A → cluster 1
      (10L, Seq(0.0f, 1.0f, 0.03f)), (11L, Seq(0.01f, 0.97f, 0.0f)), // bundle B → 10
      (20L, Seq(0.0f, 0.02f, -1.0f)))                  // outlier → singleton
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticClusters(e, "vec_id", "embedding",
        numCells = 2, threshold = 0.9)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L, s"outlier must stay its own cluster: $got")
  }

  test("semanticClusters: a cross-cell near-dup pair is NOT connected (the cell partition is the contract)") {
    // two antipodal-ish cells; vectors near the boundary that would
    // pair under a global quadratic stay separate when assigned to
    // different cells — SemDeDup's documented approximation
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.1f)),
      (3L, Seq(0.6f, 0.8f)), (4L, Seq(0.55f, 0.83f)))
      .toDF("vec_id", "embedding")
    val all = Dedup.semanticClusters(e, "vec_id", "embedding",
        numCells = 2, threshold = 0.95)
      .as[(Long, Long)].collect().toMap
    // 3 and 4 are near-identical: same component iff same cell; every
    // label is a member id and labels never exceed their member
    assert(all.values.toSet.subsetOf(all.keySet))
    assert(all.forall { case (id, lab) => lab <= id })
  }

  test("jaccard df-cut drops hot shingles; oracle callers can disable it") {
    val d = docs(
      (1L, "common shingle text one"), (2L, "common shingle text two"),
      (3L, "common shingle text six"), (4L, "unrelated totally other words"))
    // df-cut at 2: the 'common shingle text' shingle appears in 3 docs -> dropped
    val cut = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.1, maxDocFreq = 2)
    val full = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.1, maxDocFreq = 100)
    assert(cut.count() == 0, "df-cut must drop the hot shingle's pairs")
    assert(full.count() == 3, "without the cut all 3 near-dup pairs surface")
  }

  test("df-cut observe metric reaches the warning listener with real counters") {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val l = ObservedMetrics.registerDfCutWarnings(spark, (n, d, m) => buf.add((n, d, m)))
    try {
      // 'HOT HOT HOT' rides in all 4 docs (df=4 > maxDocFreq=3 →
      // dropped); docs 1/2 still pair on their shared rare shingles, so
      // the result is non-empty — with an empty result AQE's
      // empty-relation propagation drops the whole metric stage from
      // the final plan and nothing can observe it (known degenerate
      // case; the metric exists to explain NON-empty-but-smaller
      // results anyway)
      val d = docs(
        (1L, "red green blue yellow HOT HOT HOT"),
        (2L, "red green blue yellow HOT HOT HOT"),
        (3L, "aa bb cc dd HOT HOT HOT"),
        (4L, "ee ff gg hh HOT HOT HOT"))
      Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 3).count()
      val deadline = System.currentTimeMillis + 15000
      while (buf.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(!buf.isEmpty, "listener must observe the df-cut metric (async delivery)")
      val (name, dropped, maxDf) = buf.peek()
      assert(name.startsWith("jaccard_df_cut"))
      assert(dropped >= 1L, s"expected >=1 dropped shingle, got $dropped")
      assert(maxDf >= 4L, s"expected max df >= 4, got $maxDf")
    } finally spark.listenerManager.unregister(l)
  }

  test("SimHashSig aggregator equals the per-bit sum definition on a known multiset") {
    import graft.functions.Aggregators
    // hashes 0b01 and 0b11 twice: bit0 sums +1+1+1=3 (set), bit1 sums -1+1+1=1 (set),
    // bits 2..59 sum -3 (clear) -> sig = 3
    val df = Seq(1L, 3L, 3L).toDF("h")
    val sig = df.agg(Aggregators.simhashSig(col("h"), 60)).as[Long].head()
    assert(sig == 3L)
  }


  test("char-gram jaccard catches whitespace-mangled near-dups word shingles miss") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alphabeta gamma delta epsilonzeta"),   // spaces mangled
      (3L, "totally different text goes here now"))
    val word = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val char = Dedup.jaccardPairsChar(d, "doc_id", "text", n = 5, threshold = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!word.contains((1L, 2L)), "word shingles cannot see the mangled pair")
    assert(char.contains((1L, 2L)), "char grams must recover the mangled pair")
    assert(!char.exists { case (a, b) => a == 3L || b == 3L })
  }


  test("minhash fast-hash path finds the same near-dup pair as the oracle path") {
    val base = "spark makes distributed data processing declarative and fast for everyone today"
    val d = docs(
      (1L, base), (2L, base + " indeed"),
      (3L, "completely unrelated content talking about gardening tulips and soil quality"))
    val neutral = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val fast = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.5, engineNeutralHash = false)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(neutral.contains((1L, 2L)) && fast.contains((1L, 2L)))
    assert(!fast.exists { case (a, b) => a == 3L || b == 3L })
  }


  test("minhash fast path matches the md5 path pair set at the design threshold (sf0.001)") {
    // gates the PRODUCTION configuration (engineNeutralHash=false):
    // xxhash64 banding must surface the same near-dup pair set the
    // oracle-neutral md5 pipeline does on real docs, so the fast path
    // is verified, not dead code
    val d = Tables.documents(spark, sf001)
    val neutral = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val fast = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.6,
        engineNeutralHash = false)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(neutral.nonEmpty, "fixture must contain near-dup pairs at J >= 0.6")
    assert(fast == neutral,
      s"fast-path pairs (${fast.size}) must equal md5-path pairs (${neutral.size})")
  }

  // The MinHash arithmetic as separate SQL expressions: 64 permutation
  // `min` aggregates per document, then each band's fold of its mins —
  // the formulation the DuckDB oracle replays.
  private def sqlSignature(hashRows: org.apache.spark.sql.DataFrame, numHashes: Int) = {
    val mins = Dedup.minHashConsts(numHashes, seed = 42L).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * pmod(col("h"), lit(Dedup.MinHashP)) + lit(b)) % Dedup.MinHashP).as(s"m$i")
    }
    hashRows.groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  private def sqlBandKeys(sig: org.apache.spark.sql.DataFrame, numBands: Int, rowsPerBand: Int) =
    (0 until numBands).map { band =>
      (0 until rowsPerBand).foldLeft(lit(0L)) { (k, j) =>
        (k * lit(1000003L) + col(s"m${band * rowsPerBand + j}")) % Dedup.MinHashP
      }
    }

  private def bandKeysKernel(hashes: org.apache.spark.sql.Column, numBands: Int, rowsPerBand: Int) =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.MinHashBandKeys(
      org.apache.spark.sql.graft.ColumnBridge.expression(hashes), numBands, rowsPerBand))

  test("minhash band-key kernel is bit-identical to the 64-min aggregate + band fold") {
    val rnd = new scala.util.Random(20261019L)
    val arrays: Seq[(Long, Option[Seq[Long]])] = Seq(
      1L -> Some(Seq.fill(300)(rnd.nextLong())),        // raw xxhash64 range: negative half the time
      2L -> Some(Seq.fill(120)(rnd.nextLong() >>> 4)),  // md5-prefix range
      3L -> Some(Seq.fill(40)(rnd.nextLong()).flatMap(h => Seq(h, h, -h))), // duplicates
      4L -> Some(Seq(rnd.nextLong())),                  // a single hash
      5L -> Some(Seq(Long.MinValue, Long.MaxValue, -1L, 0L, Dedup.MinHashP, -Dedup.MinHashP)),
      6L -> Some(Seq.empty),                            // no shingles: no keys
      7L -> None)                                       // null
    val df = arrays.toDF("doc", "hs")
    val sig = sqlSignature(df.select(col("doc"), explode(col("hs")).as("h")), 64)
    val want = sig.select(col("doc"), array(sqlBandKeys(sig, 16, 4): _*).as("keys"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(want.keySet == Set(1L, 2L, 3L, 4L, 5L))
    val got = df.select(col("doc"), bandKeysKernel(col("hs"), 16, 4).as("keys"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(got(6L).contains(Seq.empty[Long]), "an empty hash array has no band keys")
    assert(got(7L).isEmpty, "a null hash array stays null")
    assert((got - 6L - 7L).map { case (d, k) => d -> k.get } == want)
    // interpreted eval (the CodegenFallback path) agrees with codegen
    arrays.foreach { case (d, hs) =>
      val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
        hs.orNull, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
      val v = graft.plans.MinHashBandKeys(arr, 16, 4).eval()
      assert(Option(v).map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq) == got(d), s"interpreted eval differs for doc $d")
    }
    // the public signature is the same kernel with one row per band
    val sig8 = sqlSignature(df.select(col("doc"), explode(col("hs")).as("h")), 8)
      .select(col("doc"), array((0 until 8).map(i => col(s"m$i")): _*))
      .as[(Long, Seq[Long])].collect().toMap
    val viaApi = df.where(col("doc") <= 5)
      .select(col("doc"), Dedup.minHashSignature(col("hs"), 8))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaApi == sig8)
  }

  test("minHashPairs equals the aggregate-signature, self-join formulation for both hashes (sf0.001)") {
    val d = Tables.documents(spark, sf001)
    for (neutral <- Seq(true, false)) {
      val h = if (neutral) graft.functions.TextFunctions.md5Prefix64(col("s")) else xxhash64(col("s"))
      val hashRows = d
        .select(col("doc_id").as("doc"),
          explode(graft.functions.TextFunctions.wordShinglesFast(col("text"), 3)).as("s"))
        .select(col("doc"), h.as("h"))
      val sig = sqlSignature(hashRows, 64)
      val sets = hashRows.groupBy("doc").agg(collect_set(col("h")).as("sh"))
      val banded = sqlBandKeys(sig, 16, 4).zipWithIndex
        .map { case (k, band) => sig.select(col("doc"), lit(band).as("band"), k.as("key")) }
        .reduce(_ union _)
      val want = banded.as("a")
        .join(banded.as("b"), col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")).distinct()
        .join(sets.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sets.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))) /
            (size(col("sh_a")) + size(col("sh_b")) -
              size(array_intersect(col("sh_a"), col("sh_b")))), 6).as("jaccard"))
        .where(col("jaccard") >= 0.12)
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.minHashPairs(d, "doc_id", "text", 3, 16, 4, 0.12,
          engineNeutralHash = neutral)
        .as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty && got == want,
        s"engineNeutralHash=$neutral: ${got.size} pairs vs ${want.size}")
    }
  }

  test("connectedClusters: large-star/small-star matches known components") {
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedClusters(vertices, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L)))
  }

  test("connectedClusters: chain propagates across the full diameter") {
    val n = 8
    val vertices = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedClusters(vertices, "doc_id", pairs)
      .select("cluster_id").distinct().as[Long].collect().toSeq
    assert(got == Seq(1L), "a length-8 chain must collapse to one cluster")
  }

  test("connectedClusters: pair endpoints outside the vertex set are ignored, not phantom minima") {
    // doc 0 was filtered out of the corpus AFTER pair generation: its
    // pair must neither label doc 5 with the absent id 0 (which would
    // make keepClusterRepresentatives silently delete doc 5) nor
    // bridge 5 and 6 through the absent node
    val vertices = Seq(5L, 6L).toDF("doc_id")
    val pairs = Seq((0L, 5L), (0L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.connectedClusters(vertices, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(clusters == Seq((5L, 5L), (6L, 6L)))
    val docs = Seq((5L, "five"), (6L, "six")).toDF("doc_id", "text")
    val kept = Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(5L, 6L), "no member may vanish behind an absent cluster minimum")
  }

  test("keepClusterRepresentatives: the anti-join on non-root members keeps the semi-join's rows") {
    // the earlier form: every doc whose cluster_id is itself, semi-joined
    // back onto the corpus
    def rootsSemiJoin(docs: DataFrame, pairs: DataFrame): DataFrame = {
      val clusters = Dedup.connectedClusters(docs.select(col("doc_id")), "doc_id", pairs)
      docs.join(clusters.where(col("doc_id") === col("cluster_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }
    def rows(df: DataFrame): Seq[String] = df.select("doc_id", "text").collect().map(_.toString).toSeq.sorted
    val pairs = Seq((1L, 2L), (2L, 3L), (0L, 4L), (4L, 9L), (5L, 6L)).toDF("doc_a", "doc_b")
    val inputs = Seq(
      "a null id" -> Seq[(java.lang.Long, String)]((null, "none"), (1L, "one"), (2L, "two"), (5L, "five")),
      "duplicate id rows" -> Seq[(java.lang.Long, String)]((1L, "one"), (1L, "uno"), (2L, "two"),
        (2L, "dos"), (3L, "three"), (7L, "seven"), (7L, "sieben")),
      "pair endpoints outside docs" -> Seq[(java.lang.Long, String)]((2L, "two"), (3L, "three"),
        (4L, "four"), (6L, "six")))
    for ((what, docRows) <- inputs) {
      val docs = docRows.toDF("doc_id", "text")
      assert(rows(Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)) == rows(rootsSemiJoin(docs, pairs)),
        what)
    }
  }

  test("connectedClusters: round count is logarithmic on a chain, not O(diameter)") {
    // a 64-node chain has diameter 63 — min-label propagation would
    // need 63 rounds; large-star/small-star must stay logarithmic
    val n = 64L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (stars, rounds) = Dedup.starEdges(pairs, checkpointDir = None, localEdges = 0)
    assert(rounds <= 10, s"expected O(log n) rounds on a 64-chain, got $rounds")
    val roots = stars.select("v").distinct().as[Long].collect().toSeq
    assert(roots == Seq(1L), "at convergence every node points at the component minimum")
    assert(stars.count() == n - 1)
  }

  test("connectedClusters: reliable checkpointDir mode produces identical clusters") {
    val vertices = (1L to 12L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val reliable = Dedup.connectedClusters(vertices, "doc_id", pairs, Some(dir))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val local = Dedup.connectedClusters(vertices, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(reliable == local)
    assert(reliable.filter(_._1 <= 4).forall(_._2 == 1L))
  }

  test("cluster map: built once, reps served from the map equal the direct pipeline") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cluster_map_${System.nanoTime()}"
    Dedup.ensureClusterMap(docs, "doc_id", pairs, path)
    def mapFiles() = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    val before = mapFiles()
    // second ensure must not recompute: its pairs plan raises on ANY
    // evaluation — only a skipped build never touches it
    Dedup.ensureClusterMap(docs, "doc_id",
      docs.select(col("doc_id").as("doc_a"),
        raise_error(lit("cluster pipeline must run once")).cast("long").as("doc_b")),
      path)
    assert(mapFiles() == before, "existing map must not be rewritten")
    val fromMap = Dedup.keepRepresentativesFromMap(docs, "doc_id", path)
      .select("doc_id").as[Long].collect().toSeq.sorted
    val direct = Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(fromMap == Seq(1L, 3L) && fromMap == direct,
      "map-served representatives must equal the direct pipeline")
  }

  test("simHashPairsAgainst: probe form equals the full pair set restricted to probe docs") {
    val docs = Tables.documents(spark, sf001)
    val sigs = Dedup.simHashTable(docs, "doc_id", "text")
    val probeSigs = sigs.where(col("doc") % 5 === 0)
    val got = Dedup.simHashPairsAgainst(probeSigs, sigs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val expected = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .where(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty && got == expected,
      s"probe pairs must be the touching-probe slice of the full pair set (${got.size} vs ${expected.size})")
  }

  test("keepBestFromMap: highest score wins its cluster, ties break on id, singletons survive") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_best_${System.nanoTime()}"
    Dedup.writeClusterMap(docs, "doc_id", pairs, path)
    // cluster {1,2}: 2 scores higher; cluster {3,4}: exact tie → min id 3
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (4L, 0.7), (5L, 0.1))
      .toDF("doc_id", "score")
    val kept = Dedup.keepBestFromMap(scored, "doc_id", "score", path)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 3L, 5L),
      s"expected best-per-cluster {2, 3} plus singleton 5, got $kept")
  }

  test("appendClusterDelta: new docs merge old components through bridges; labels equal full rebuild") {
    val oldDocs = Seq(2L, 3L, 4L, 6L, 7L).toDF("doc_id")
    val oldPairs = Seq((2L, 3L), (6L, 7L)).toDF("doc_a", "doc_b")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cluster_delta_${System.nanoTime()}"
    Dedup.writeClusterMap(oldDocs, "doc_id", oldPairs, path)
    // doc 1 joins {2,3} and becomes its new minimum; doc 5 BRIDGES the
    // singleton 4 with {6,7} — three old components relabel
    val newDocs = Seq(1L, 5L).toDF("doc_id")
    val deltaPairs = Seq((1L, 3L), (5L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    Dedup.appendClusterDelta(newDocs, "doc_id", deltaPairs, path)
    val got = spark.read.parquet(path).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    val full = Dedup.connectedClusters(
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id"), "doc_id",
        oldPairs.union(deltaPairs))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
                      (6L, 4L), (7L, 4L)))
    assert(got == full, "incremental map must equal the from-scratch rebuild")
    // marker restored by the overwrite — ensure must NOT rebuild
    Dedup.ensureClusterMap(oldDocs, "doc_id",
      oldDocs.select(col("doc_id").as("doc_a"),
        raise_error(lit("must not rebuild")).cast("long").as("doc_b")),
      path)
  }

  test("minHashCalibration: aligned slicing nests candidate sets (wider rows ⊆ narrower); width guard") {
    // two near-dup docs + one stranger: every config must verify the
    // pair; looser bandings may only ADD candidates — a (4,8) band
    // match implies all four covered (16,2) sub-bands match, so
    // candidate counts are monotone non-increasing in rows_per_band
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra tail words here"),
      (3L, (100 to 140).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.minHashCalibration(docs, "doc_id", "text")
      .orderBy("rows_per_band")
      .as[(Long, Long, Double, Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((16L, 2L), (8L, 4L), (4L, 8L)))
    val cands = got.map(_._4)
    assert(cands(0) >= cands(1) && cands(1) >= cands(2),
      s"aligned bands must nest: $got")
    assert(got.forall(_._5 >= 1L), s"the true near-dup must verify everywhere: $got")
    assert(got.head._3 == 0.25, s"s50 of (16,2) is (1/16)^(1/2) = 0.25: $got")
    intercept[IllegalArgumentException] {
      Dedup.minHashCalibration(docs, "doc_id", "text",
        configs = Seq((16, 2), (8, 2)))
    }
  }

  test("crossDuplicatedSpans: marks only benchmark-shared regions, not within-train dup") {
    val train = docs(
      // shares its first 9 tokens with the benchmark -> one span of
      // 2 windows / 9 tokens at pos 0
      (1L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 u1 u2 u3"),
      // 2 and 3 duplicate EACH OTHER, nothing from the benchmark
      (2L, "d1 d2 d3 d4 d5 d6 d7 d8 x1"),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8 x2"))
    val bench = docs((11L, "z0 q1 q2 q3 q4 q5 q6 q7 q8 q9 z1"))
    val got = Dedup.crossDuplicatedSpans(train, bench, "doc_id", "text",
        windowTokens = 8)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_tokens", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 9L, 2L)), s"got $got")
    // decontamination: the leaked region is cut out of doc 1, the
    // within-train duplicates (2, 3) keep their text untouched
    val clean = Dedup.removeCrossDuplicatedSpans(train, bench, "doc_id", "text",
        windowTokens = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(clean == Seq(
      (1L, 9L, "u1 u2 u3"),
      (2L, 0L, "d1 d2 d3 d4 d5 d6 d7 d8 x1"),
      (3L, 0L, "d1 d2 d3 d4 d5 d6 d7 d8 x2")), s"got $clean")
  }

  test("crossContainment: informative denominator removes the df-cut bias") {
    // hot1/hot2 appear in 4 corpus docs (> maxDocFreq = 2 -> cut);
    // quotea/quoteb are informative and fully contained in c1
    val corpus = docs(
      (1L, "hot1 hot2 quotea quoteb"), (2L, "hot1 hot2"),
      (3L, "hot1 hot2"), (4L, "hot1 hot2"))
    val probe = docs(
      (11L, "hot1 hot2 quotea quoteb"), // half boilerplate, half quote
      (12L, "hot1 hot2"))               // pure boilerplate
    // biased default: quote matches (2) over the FULL probe count (4)
    val biased = Dedup.crossContainment(corpus, probe, "doc_id", "text",
        shingleN = 1, minContainment = 0.4, maxDocFreq = 2)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(biased == Seq((1L, 11L, 0.5)), s"got $biased")
    // informative: same numerator over the SURVIVING probe count (2)
    val inf = Dedup.crossContainment(corpus, probe, "doc_id", "text",
        shingleN = 1, minContainment = 0.4, maxDocFreq = 2,
        informativeDenominator = true)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(inf == Seq((1L, 11L, 1.0)), s"got $inf")
    // the all-boilerplate probe doc (12) is absent under BOTH forms
    assert(!biased.exists(_._2 == 12L) && !inf.exists(_._2 == 12L))
  }

  test("duplicatedSpans: hand-computed maximal spans, gaps split islands, cross-doc only") {
    // docs 1 and 2 share the 10-token run "a b c d e f g h i j":
    // 8-token windows at doc-1 positions 0,1,2 (and doc-2 2,3,4) are
    // the ONLY duplicated windows -> one maximal span each,
    // span_tokens = 3 + 8 - 1 = 10. doc 3 shares nothing; doc 4
    // repeats a window only WITHIN itself (not cross-doc).
    val d = docs(
      (1L, "a b c d e f g h i j k l"),
      (2L, "x y a b c d e f g h i j q r"),
      (3L, "p q r s t u v w aa bb cc dd"),
      (4L, "m m m m m m m m m m m m"))
    val got = Dedup.duplicatedSpans(d, "doc_id", "text",
        windowTokens = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_tokens", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 10L, 3L), (2L, 2L, 10L, 3L)), s"got $got")
    // two shared runs separated by unique middles -> TWO islands per
    // doc, each reconstructing its own maximal span
    val d2 = docs(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 z1 z2 b1 b2 b3 b4 b5 b6 b7 b8"),
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8 y1 y2 y3 b1 b2 b3 b4 b5 b6 b7 b8"))
    val got2 = Dedup.duplicatedSpans(d2, "doc_id", "text",
        windowTokens = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_tokens", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq(
      (1L, 0L, 8L, 1L), (1L, 10L, 8L, 1L),
      (2L, 0L, 8L, 1L), (2L, 11L, 8L, 1L)), s"got $got2")
    // guards
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(d, "doc_id", "text", windowTokens = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(d, "doc_id", "text", minDocs = 1)
    }
    // removal: spans cut, the rest keeps original order; span-free
    // docs (3) and within-doc-only repetition (4) pass through
    val clean = Dedup.removeDuplicatedSpans(d, "doc_id", "text",
        windowTokens = 8, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(clean == Seq(
      (1L, 12L, 10L, "k l"),
      (2L, 14L, 10L, "x y q r"),
      (3L, 12L, 0L, "p q r s t u v w aa bb cc dd"),
      (4L, 12L, 0L, "m m m m m m m m m m m m")), s"got $clean")
  }

  test("contrastivePairsFromMap: positives are cluster mates, negatives never are") {
    import org.apache.spark.sql.SaveMode
    // planted map: {1,2,3} one cluster, {4,5} another, 6..20 singletons
    val map = ((1L to 3L).map(i => (i, 1L)) ++ Seq((4L, 4L), (5L, 4L)) ++
      (6L to 20L).map(i => (i, i))).toDF("doc_id", "cluster_id")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cpairs_${System.nanoTime()}"
    map.write.mode(SaveMode.Overwrite).parquet(path)
    val docs = (1L to 20L).toDF("doc_id")
    val got = Dedup.contrastivePairsFromMap(spark, docs, "doc_id", path, "s1")
      .select("doc_a", "doc_b", "label")
      .as[(Long, Long, String)].collect().toSeq
    val pos = got.filter(_._3 == "pos").map(r => (r._1, r._2)).toSet
    assert(pos == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)),
      s"positives must be exactly the cluster-mate pairs: $pos")
    val cl = map.as[(Long, Long)].collect().toMap
    val neg = got.filter(_._3 == "neg")
    assert(neg.nonEmpty && neg.forall(r => cl(r._1) != cl(r._2)),
      s"a negative landed inside its anchor's cluster: $neg")
    // at most one negative per distinct positive anchor
    assert(neg.map(_._1).distinct.size == neg.size &&
      neg.map(_._1).toSet.subsetOf(pos.map(_._1)))
    // deterministic across partitionings
    val again = Dedup.contrastivePairsFromMap(spark, docs.repartition(7),
        "doc_id", path, "s1")
      .select("doc_a", "doc_b", "label")
      .as[(Long, Long, String)].collect().toSeq
    assert(again.toSet == got.toSet)
  }

  test("bloomCrossMembership: no false negatives ever; saturated filter flags FPs honestly") {
    val train = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val probe = Seq((10L, "alpha"), (11L, "delta"), (12L, "beta")).toDF("doc_id", "text")
    val wide = Dedup.bloomCrossMembership(train, probe, "doc_id", "text",
        mBits = 32768, kHashes = 3)
      .select("doc_id", "bloom_hit", "exact_hit", "is_false_positive")
      .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1)
    // every exact hit MUST bloom-hit (the defining bloom guarantee)
    assert(wide.filter(_._3).forall(_._2), s"false negative: ${wide.toSeq}")
    assert(wide.filter(_._1 != 11L).forall(r => r._2 && r._3 && !r._4))
    // a 2-bit filter saturates: everything hits, the novel doc is
    // flagged as a false positive rather than silently passed off
    val tiny = Dedup.bloomCrossMembership(train, probe, "doc_id", "text",
        mBits = 2, kHashes = 3)
      .select("doc_id", "bloom_hit", "is_false_positive")
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(tiny.forall(_._2), s"2-bit filter must saturate: ${tiny.toSeq}")
    assert(tiny.find(_._1 == 11L).exists(_._3),
      s"novel doc through a saturated filter is a FLAGGED fp: ${tiny.toSeq}")
  }

  test("editDistancePairs: order-sensitive verify — small edit kept, shuffled bag cut") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("gamma", "gamme")),          // 1-char edit
      (3L, "theta eta zeta epsilon delta gamma beta alpha"), // same bag, reversed
      (4L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        maxHamming = 60, maxDist = 6) // hamming 60 = all pairs candidate
      .select("doc_a", "doc_b", "edit_dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L)),
      s"only the in-place edit survives; the reversed bag (same tokens, " +
        s"same simhash) must be cut by the exact verify: $got")
    // threshold variant returns the exact distance within the cut
    assert(got.head._3 == 1L)
  }

  test("sourceMatrixFromMap: pair counts from the product formulas, singletons invisible") {
    val map = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, "web"), (2L, "web"), (3L, "books"), // cluster 1: web², books¹
      (4L, "web"),                             // singleton
      (5L, "news"), (6L, "news")               // cluster 5: news²
    ).toDF("doc_id", "source")
    val got = Dedup.sourceMatrixFromMap(map, docs, "doc_id", "source")
      .select("source_a", "source_b", "n_pairs")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("web", "web", 1L),      // C(2,2) in cluster 1
      ("books", "web", 2L),    // 1·2 cross pairs in cluster 1
      ("news", "news", 1L)),   // C(2,2) in cluster 5
      s"matrix: $got")
  }

  test("bloom lifecycle: upsert merge equals rebuild; ensure never re-runs; probe serves") {
    def tmp(tag: String) =
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_bloom_${tag}_${System.nanoTime()}"
    val docs = (1L to 40L).map(i => (i, s"document number $i")).toDF("doc_id", "text")
    // all-at-once build vs build-half + upsert-half: identical bit sets
    val full = tmp("full"); val inc = tmp("inc")
    Dedup.writeBloomFilter(docs, "text", full, mBits = 1024, kHashes = 3)
    Dedup.writeBloomFilter(docs.where(col("doc_id") % 2 === 0), "text", inc,
      mBits = 1024, kHashes = 3)
    Dedup.appendBloomDelta(docs.where(col("doc_id") % 2 === 1), "text", inc)
    def bitsOf(p: String) =
      spark.read.parquet(s"${p}_bits").as[Long].collect().toSet
    assert(bitsOf(full) == bitsOf(inc), "merge law broken: OR != rebuild")
    // probe: every member hits (no false negatives through the lifecycle)
    val probe = Seq((100L, "document number 7"), (101L, "never ingested text zz"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomProbeFromFilter(spark, inc, probe, "doc_id", "text")
      .as[(Long, Boolean)].collect().toMap
    assert(got(100L), s"member must hit: $got")
    // ensure with a live marker must not evaluate the by-name source
    Dedup.ensureBloomFilter(
      sys.error("ensure must not rebuild over a committed filter"),
      "text", inc, mBits = 1024, kHashes = 3)
    assert(bitsOf(inc) == bitsOf(full))
  }
}
