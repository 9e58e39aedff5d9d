package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.ODataFunctions._
import graft.operators.Etl

/** Property-style tests for the pure/control-plane pieces (SURVEY §5):
  * OData escaping, /Date(ms)/ codec, dedup idempotence. Raw ScalaCheck
  * generators sampled with a fixed seed (the scalatest bridge artifact
  * is not in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("BinaryInt: encode/decode identity on random declarations; magnitude overflow decodes null") {
    import org.apache.spark.sql.types.Decimal
    val gen = for {
      p <- Gen.choose(1, 18)
      s <- Gen.choose(0, p)
      // unscaled magnitude within the declared digits
      lim = (BigInt(10).pow(p) - 1).min(BigInt(Long.MaxValue)).toLong
      v <- Gen.choose(-lim, lim)
    } yield (p, s, v)
    for ((p, s, v) <- samples(gen, 400)) {
      val d = Decimal(v, p, s)
      val bytes = graft.plans.BinaryInt.encode(d, p)
      assert(bytes.length == graft.plans.BinaryInt.bytesFor(p))
      val back = graft.plans.BinaryInt.decode(bytes, p, s)
      assert(back != null && back.toUnscaledLong == v && back.scale == s,
        s"p=$p s=$s v=$v -> $back")
    }
    // every in-storage-but-over-declaration magnitude decodes NULL
    val over = for {
      p <- Gen.choose(1, 9) // storage headroom exists below 10 digits
      bits = graft.plans.BinaryInt.bytesFor(p) * 8 - 1
      lim = BigInt(10).pow(p).toLong
      v <- Gen.choose(lim, (BigInt(2).pow(bits) - 1).toLong)
    } yield (p, v)
    for ((p, v) <- samples(over, 200)) {
      val n = graft.plans.BinaryInt.bytesFor(p)
      val bytes = (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
      assert(graft.plans.BinaryInt.decode(bytes, p, 0) == null,
        s"p=$p v=$v must exceed the declaration")
    }
  }

  test("quote escape round-trips through the stub server's unescape") {
    for (s <- samples(Gen.asciiPrintableStr, 200)) {
      val escaped = odataQuoteEscape(s)
      assert(escaped.replace("''", "'") == s)
      assert(!escaped.replace("''", "").contains("'"))
    }
  }

  test("date codec round-trips arbitrary epoch millis (batched through one plan)") {
    val ms = samples(Gen.choose(-62135596800000L, 253402300799000L), 300)
    val got = ms.toDF("ms")
      .select(unix_millis(odataDateDecode(odataDateEncode(timestamp_millis(col("ms"))))).as("r"))
      .as[Long].collect().toSeq
    assert(got == ms)
  }

  test("dedup is idempotent and order-insensitive on row multisets") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0, 5), Gen.oneOf("a", "b", "c")))
    for (rows <- samples(gen, 10) if rows.nonEmpty) {
      val df = rows.toDF("k", "v")
      val once = Etl.dedupRows(df)
      assert(once.count() == Etl.dedupRows(once).count())
      assert(once.count() == rows.distinct.size)
      val shuffled = scala.util.Random.shuffle(rows).toDF("k", "v")
      assert(Etl.dedupRows(shuffled).count() == rows.distinct.size)
    }
  }

  test("fused Md5Prefix64 equals the conv(substring(md5)) chain on arbitrary strings") {
    import graft.functions.TextFunctions.md5Prefix64
    // the fused kernel must be BIT-identical to the three-op chain it
    // replaced — every sketch oracle replays the chain's arithmetic
    val strs = samples(Gen.asciiPrintableStr, 300) ++
      Seq("", "a", "ü-unicode-Ԋ", "x" * 5000)
    val df = strs.toDF("s")
    val mismatches = df.select(
        md5Prefix64(col("s")).as("fused"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("chain"))
      .where(col("fused") =!= col("chain")).count()
    assert(mismatches == 0L)
  }

  test("connected components match a union-find reference on random graphs") {
    import graft.operators.Dedup
    // random sparse pair graphs vs an in-memory union-find: catches
    // any star-contraction edge case (self-pairs, parallel edges,
    // reversed orientation, multi-chain merges) the fixed specs miss.
    // Each graph runs three ways: the default bound (one task only),
    // bound 0 (star rounds only), and a bound below its edge count
    // (rounds, then the one-task finish).
    val nV = 24
    val genEdges = Gen.listOfN(20, Gen.zip(Gen.choose(1, nV), Gen.choose(1, nV)))
    def reference[T](nodes: Seq[T], edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
      val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
      def find(x: T): T = if (parent(x) == x) x else find(parent(x))
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      nodes.map(v => v -> find(v)).toMap
    }
    def fromStars[T](nodes: Seq[T], stars: Seq[(T, T)]): Map[T, T] =
      nodes.map(v => v -> v).toMap ++ stars
    var finishedEarly = false
    def threeWays[T](nodes: Seq[T], edges: Seq[(T, T)])(implicit ord: Ordering[T],
        e: org.apache.spark.sql.Encoder[T], pe: org.apache.spark.sql.Encoder[(T, T)]): Unit = {
      val expected = reference(nodes, edges)
      val pairs = edges.toDS().toDF("doc_a", "doc_b")
      val got = Dedup.connectedClusters(nodes.toDS().toDF("doc_id"), "doc_id", pairs)
        .as[(T, T)].collect().toMap
      assert(got == expected, s"in one task: edges=$edges")
      val nEdges = edges.collect { case (a, b) if a != b => (ord.max(a, b), ord.min(a, b)) }.distinct.size
      val (roundStars, rounds) = Dedup.starEdges(pairs, None, localEdges = 0)
      assert(fromStars(nodes, roundStars.as[(T, T)].collect()) == expected, s"in rounds: edges=$edges")
      val (mixedStars, mixedRounds) = Dedup.starEdges(pairs, None, localEdges = nEdges - 1L)
      assert(mixedRounds >= 1)
      assert(fromStars(nodes, mixedStars.as[(T, T)].collect()) == expected, s"rounds, then one task: edges=$edges")
      finishedEarly ||= mixedRounds < rounds
    }
    for (edges <- samples(genEdges, 8)) {
      threeWays((1L to nV.toLong), edges.map { case (a, b) => (a.toLong, b.toLong) })
      // string ids order as strings ("n10" < "n2"), not as numbers
      threeWays((1 to nV).map(v => s"n$v"), edges.map { case (a, b) => (s"n$a", s"n$b") })
    }
    assert(finishedEarly, "no graph reached the one-task finish after a round")
  }

  test("snapshotDiff matches a brute-force reference on random snapshot pairs") {
    val genSnap = Gen.listOfN(12, Gen.zip(Gen.choose(1L, 8L), Gen.choose(0, 3)))
      .map(_.toMap) // map ⇒ unique keys, like a snapshot
    for ((oldM, newM) <- samples(Gen.zip(genSnap, genSnap), 8)) {
      val expected = (oldM.keySet ++ newM.keySet).flatMap { k =>
        (oldM.get(k), newM.get(k)) match {
          case (None, Some(_)) => Some(k -> "added")
          case (Some(_), None) => Some(k -> "removed")
          case (Some(a), Some(b)) if a != b => Some(k -> "changed")
          case _ => None
        }
      }.toMap
      val got = Etl.snapshotDiff(
          oldM.toSeq.toDF("k", "v"), newM.toSeq.toDF("k", "v"), Seq("k"))
        .as[(Long, String)].collect().toMap
      assert(got == expected, s"old=$oldM new=$newM")
    }
  }

  test("renameForSink permits duplicate target names at the sink boundary") {
    val df = Seq(("x", "y", 1)).toDF("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE", "v")
    val out = Etl.renameForSink(df,
      Map("COCHAR_STRUCTURE" -> "Structure", "C0CHAR_STRUCTURE" -> "Structure"))
    assert(out.columns.toSeq == Seq("Structure", "Structure", "v"))
    assert(out.collect().head.toSeq == Seq("x", "y", 1))
  }

  test("codegen regex shingles equal the HOF shingles on arbitrary text") {
    import graft.functions.TextFunctions._
    // words with messy whitespace between them — the regex path
    // normalizes, the HOF path tokenizes; results must agree
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val ws = Gen.oneOf(" ", "  ", "\t", " \n ")
    val textGen = for {
      n <- Gen.choose(0, 12)
      words <- Gen.listOfN(n, word)
      seps <- Gen.listOfN(n, ws)
    } yield words.zip(seps).map { case (w, s) => w + s }.mkString.trim
    val texts = samples(textGen, 120).distinct
    if (texts.nonEmpty) {
      val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
      for (n <- Seq(2, 3)) {
        val fast = df.select(col("id"), wordShinglesFast(col("text"), n).as("s"))
          .as[(Int, Seq[String])].collect().toMap
        val hof = df.select(col("id"), wordShingles(col("text"), n).as("s"))
          .as[(Int, Seq[String])].collect().toMap
        assert(fast == hof, s"shingle mismatch at n=$n")
      }
    }
  }

  test("asOfJoin agrees with a naive inequality-join oracle on random events") {
    import graft.operators.Joins
    val rowGen = for {
      id <- Gen.choose(1L, 1000L)
      user <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 100L)
      side <- Gen.oneOf("L", "R")
    } yield (id, user, t, side)
    for (i <- 0 until 5) {
      val rows = samples(Gen.listOfN(60, rowGen), 1)(0)
        .distinctBy(_._1) // unique event ids
      val df = rows.map { case (id, u, t, s) =>
        (id, u, new java.sql.Timestamp(t * 1000), s) }
        .toDF("event_id", "user_id", "ts", "side")
      val left = df.where($"side" === "L").drop("side")
      val right = df.where($"side" === "R").drop("side")
      val got = Joins.asOfJoin(left, right, Seq("user_id"), "ts", "event_id", Seq())
        .select($"event_id", $"matched.r_event_id".as("m"))
        .as[(Long, Option[Long])].collect().toMap
      // naive oracle: max-by (ts, id) of right rows at or before each left
      val rts = rows.filter(_._4 == "R")
      val want = rows.filter(_._4 == "L").map { case (id, u, t, _) =>
        val cand = rts.filter(r => r._2 == u && r._3 <= t)
        id -> (if (cand.isEmpty) None
               else Some(cand.maxBy(r => (r._3, r._1))._1))
      }.toMap
      assert(got == want, s"iteration $i")
    }
  }

  test("rangeJoin agrees with a naive filtered cross join on random events") {
    import graft.operators.Joins
    val rowGen = for {
      id <- Gen.choose(1L, 1000L)
      user <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 50000L) // seconds, spans many bins
      side <- Gen.oneOf("L", "R")
    } yield (id, user, t, side)
    for (i <- 0 until 5) {
      val rows = samples(Gen.listOfN(50, rowGen), 1)(0).distinctBy(_._1)
      val df = rows.map { case (id, u, t, s) =>
        (id, u, new java.sql.Timestamp(t * 1000), s) }
        .toDF("event_id", "user_id", "ts", "side")
      val left = df.where($"side" === "L").drop("side")
      val right = df.where($"side" === "R").drop("side")
      val w = 3600L
      val got = Joins.rangeJoin(left, right, Seq("user_id"), "ts", w)
        .select($"l.event_id", $"r.event_id").as[(Long, Long)].collect().toSet
      val want = (for {
        l <- rows if l._4 == "L"
        r <- rows if r._4 == "R" && r._2 == l._2 &&
          r._3 >= l._3 && r._3 - l._3 < w
      } yield (l._1, r._1)).toSet
      assert(got == want, s"iteration $i")
    }
  }

  test("triangleCount matches brute-force enumeration on random multigraphs") {
    import graft.operators.Graph
    // random directed multigraphs WITH self-loops and duplicates — the
    // orientation trick must agree with the O(n^3) reference on the
    // cleaned undirected support
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11)))
    for (i <- 0 until 5) {
      val edges = samples(edgeGen, 1)(0)
      val df = edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
      val got = Graph.triangleCount(df, "src", "dst")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val und = edges.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap(e => Set(e._1, e._2))
      val adj = (u: Int, v: Int) => und((math.min(u, v), math.max(u, v)))
      val want = nodes.map { v =>
        val others = (nodes - v).toSeq
        s"n$v" -> (for {
          Seq(x, y) <- others.combinations(2)
          if adj(v, x) && adj(v, y) && adj(x, y)
        } yield 1).size.toLong
      }.toMap
      assert(got == want, s"iteration $i: got $got want $want")
    }
  }

  test("duplicatedSpans equals a brute-force span reference on random corpora") {
    import graft.operators.Dedup
    // small vocab forces cross-doc window collisions; windowTokens=3
    // keeps runs short enough for multiple islands per doc
    val docGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    for (i <- 0 until 4) {
      val texts = samples(docGen, 6).zipWithIndex
        .map { case (t, j) => (j.toLong, t) }
      val got = Dedup.duplicatedSpans(texts.toDF("doc_id", "text"),
          "doc_id", "text", windowTokens = 3, minDocs = 2)
        .select("doc_id", "span_start", "span_tokens", "n_windows")
        .as[(Long, Long, Long, Long)].collect().toSet
      // reference: mark every 3-token window appearing in >= 2 docs,
      // merge consecutive marked positions per doc
      val wins = texts.map { case (id, t) =>
        id -> t.split("\\s+").sliding(3).map(_.mkString(" ")).toVector
      }
      val docsPerWin = wins.flatMap { case (id, ws) => ws.map(_ -> id) }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
      val want = (for {
        (id, ws) <- wins
        marked = ws.zipWithIndex.filter(x => docsPerWin(x._1) >= 2).map(_._2)
        run <- marked.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
          if (acc.nonEmpty && acc.last.last == p - 1)
            acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
      } yield (id, run.head.toLong, run.size.toLong + 2, run.size.toLong)).toSet
      assert(got == want, s"iteration $i: got $got want $want")
    }
  }

  test("ppsSystematic lands exactly n grid hits for random weight lines") {
    import graft.operators.Sampling
    val wGen = Gen.listOfN(25, Gen.choose(1L, 1L << 40))
    for ((ws, i) <- samples(wGen, 5).zipWithIndex) {
      val df = ws.zipWithIndex.map { case (w, j) => (j.toLong, w) }.toDF("id", "w")
      for (n <- Seq(1, 7, 25)) {
        val hits = Sampling.ppsSystematic(df, "id", "w", n = n, seed = s"prop$i")
          .select("n_hits").as[Long].collect()
        assert(hits.sum == n.toLong,
          s"iteration $i n=$n: grid hits ${hits.sum}")
        assert(hits.forall(_ >= 1))
      }
    }
  }

  test("appendBasketDelta merge equals rebuild for random whole-container splits") {
    import graft.operators.Graph
    val relGen = Gen.listOfN(60, Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 9L)))
    for ((rel, i) <- samples(relGen, 3).zipWithIndex) {
      val df = rel.toDF("item", "c")
      // random whole-container split: containers with odd hash go to
      // the delta — the additive contract's precondition
      val oldRel = df.where(pmod(xxhash64(col("c") + i), lit(2)) === 0)
      val newRel = df.where(pmod(xxhash64(col("c") + i), lit(2)) === 1)
      val tmp = System.getProperty("java.io.tmpdir")
      val up = s"$tmp/graft_prop_basket_${System.nanoTime()}"
      val full = s"$tmp/graft_prop_basket_f_${System.nanoTime()}"
      Graph.writeBasketGraph(oldRel, "item", "c", up, maxContainerSize = 4)
      Graph.appendBasketDelta(newRel, "item", "c", up, maxContainerSize = 4)
      Graph.writeBasketGraph(df, "item", "c", full, maxContainerSize = 4)
      def pairs(p: String) = spark.read.parquet(s"${p}_pairs")
        .select("item_a", "item_b", "n_common", "w_sum")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(pairs(up) == pairs(full), s"iteration $i: merged pairs diverge")
      def deg(p: String) = spark.read.parquet(s"${p}_degrees")
        .as[(Long, Long, Long)].collect().toSet
      assert(deg(up) == deg(full), s"iteration $i: merged degrees diverge")
    }
  }

  test("neighborhoodFunction equals exact BFS ball sizes on random graphs (HLL sparse regime)") {
    import graft.operators.Graph
    val eGen = Gen.listOfN(14, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)))
    for ((raw, i) <- samples(eGen, 3).zipWithIndex) {
      val edges = raw.collect { case (u, v) if u != v => (s"n$u", s"n$v") }
      if (edges.nonEmpty) {
        val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).toSet }
        for (hops <- Seq(1, 2)) {
          val got = Graph.neighborhoodFunction(edges.toDF("src", "dst"),
              "src", "dst", hops = hops)
            .select(col("node"), round(col("n_ball_approx")).cast("long").as("n"))
            .as[(String, Long)].collect().toMap
          val want = adj.keys.map { v =>
            var ball = Set(v)
            for (_ <- 1 to hops) ball = ball ++ ball.flatMap(adj.getOrElse(_, Set.empty))
            v -> ball.size.toLong
          }.toMap
          assert(got == want, s"iteration $i hops=$hops: got $got want $want")
        }
      }
    }
  }

  test("greedyMatching equals the plain-Scala round recurrence on random graphs") {
    // Brute-force twin of the md5 propose-accept rounds: guards the
    // bitmask-packed role schedule (round-7 rewrite) pair-for-pair,
    // round-for-round against an independent implementation — the
    // DuckDB oracle replays ONE fixed corpus; this replays many
    // random graphs.
    import graft.operators.Graph
    def parity(s: String, r: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((s + "_" + r).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2
    }
    def ref(edges: Seq[(String, String)], rounds: Int): Set[(String, String, Long)] = {
      var und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).toSet
      val out = scala.collection.mutable.Set.empty[(String, String, Long)]
      for (r <- 1 to rounds) {
        val pairs = und.toSeq
          .filter { case (u, v) => parity(u, r) == 0 && parity(v, r) == 1 }
          .groupBy(_._1).map { case (u, es) => (u, es.map(_._2).min) }.toSeq
          .groupBy(_._2).map { case (c, ps) => (c, ps.map(_._1).min) }
        out ++= pairs.map { case (a, b) => (a, b, r.toLong) }
        val mn = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
        und = und.filter { case (u, v) => !mn(u) && !mn(v) }
      }
      out.toSet
    }
    val eGen = Gen.listOfN(40, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)))
    for ((raw, i) <- samples(eGen, 4).zipWithIndex) {
      val edges = raw.collect { case (u, v) if u != v => (s"n$u", s"n$v") }
      if (edges.nonEmpty) {
        val rounds = 2 + i * 3 // exercise short, mid, and drained horizons
        val got = Graph.greedyMatching(edges.toDF("src", "dst"),
            "src", "dst", rounds = rounds)
          .as[(String, String, Long)].collect().toSet
        val want = ref(edges, rounds)
        assert(got == want, s"iteration $i rounds=$rounds: got $got want $want")
      }
    }
  }

  test("greedyMatchingWeighted yields a valid maximal matching on random graphs") {
    import graft.operators.Graph
    val eGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9), Gen.choose(1L, 100L)))
    for ((raw, i) <- samples(eGen, 4).zipWithIndex) {
      val edges = raw.collect { case (u, v, w) if u != v => (s"n$u", s"n$v", w) }
      if (edges.nonEmpty) {
        val m = Graph.greedyMatchingWeighted(edges.toDF("src", "dst", "w"),
            "src", "dst", "w", rounds = 12)
          .select("node_a", "node_b").as[(String, String)].collect().toSeq
        val nodes = m.flatMap(p => Seq(p._1, p._2))
        assert(nodes.distinct.size == nodes.size, s"iteration $i: node matched twice")
        val matched = nodes.toSet
        val open = edges.count(e =>
          e._1 != e._2 && !matched.contains(e._1) && !matched.contains(e._2))
        assert(open == 0, s"iteration $i: $open open edges (not maximal)")
      }
    }
  }

  test("dbscan matches a plain-Scala density reference on random point sets") {
    import graft.operators.Similarity
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val genPts = Gen.listOfN(22, Gen.listOfN(4, Gen.choose(-3, 3)))
    for ((raw, it) <- samples(genPts, 6).zipWithIndex) {
      val eps = Seq(0.2, 0.6, 1.0)(it % 3)
      val minPts = 2 + it % 3
      val pts = raw.zipWithIndex
        .map { case (v, id) => (id.toLong, v.map(_.toFloat).toArray) }
        .filter(_._2.exists(_ != 0f)) // cosine undefined on the zero vector
      // plain-Scala reference: exact same double op order as the kernel
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val ids = pts.map(_._1)
      val vec = pts.toMap
      val nbr = ids.map { a =>
        a -> ids.filter(b => b != a && r6(1.0 - cos(vec(a), vec(b))) <= eps)
      }.toMap
      val cores = ids.filter(a => nbr(a).size + 1 >= minPts).toSet
      // union-find over core-core eps-edges
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      for (a <- ids if cores(a); b <- nbr(a) if cores(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val cl = cores.map(c => c -> find(c)).toMap
      val expected = ids.map { p =>
        if (cores(p)) p -> (("core", Some(cl(p))))
        else {
          val cn = nbr(p).filter(cores).map(cl)
          if (cn.nonEmpty) p -> (("border", Some(cn.min)))
          else p -> (("noise", None))
        }
      }.toMap
      val got = Similarity.dbscan(pts.toDF("vec_id", "embedding"),
          "vec_id", "embedding", eps, minPts)
        .select("p", "role", "cluster_id")
        .as[(Long, String, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"iteration $it eps=$eps minPts=$minPts")
    }
  }

  test("kTruss matches a plain-Scala peel reference on random basket relations") {
    import graft.operators.Graph
    // random (container, item) relations; the reference recomputes the
    // df-cut pair graph and peels supports in plain Scala
    val genRel = Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 8L), Gen.choose(1L, 10L)))
    for ((rel, it) <- samples(genRel, 4).zipWithIndex) {
      val df = rel.toDF("c", "i")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_prop_truss_${System.nanoTime()}"
      Graph.ensureBasketGraph(df, "i", "c", path)
      val got = Graph.kTrussFromGraph(spark, path, k = 3, rounds = 3,
          minSupport = 2)
        .select("item_a", "item_b", "support")
        .as[(Long, Long, Long)].collect().toSet
      // reference: distinct (c, i), containers with 2..200 items,
      // pair co-occurrence counts, support-2 edges, 3 peel rounds
      val byC = rel.distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted).toMap
        .filter { case (_, items) => items.size >= 2 && items.size <= 200 }
      val pairCount = scala.collection.mutable.Map[(Long, Long), Int]()
      for ((_, items) <- byC; a <- items; b <- items if a < b)
        pairCount((a, b)) = pairCount.getOrElse((a, b), 0) + 1
      var e = pairCount.filter(_._2 >= 2).keySet.toSet
      def support(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
        val adj = es.flatMap(p => Seq(p, p.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        es.map { case (x, y) =>
          (x, y) -> adj.getOrElse(x, Set.empty[Long])
            .count(z => adj.getOrElse(y, Set.empty[Long]).contains(z))
        }.toMap
      }
      for (_ <- 1 to 3) e = support(e).filter(_._2 >= 1).keySet.toSet
      val fin = support(e)
      val expected = e.map(p => (p._1, p._2, fin(p).toLong))
      assert(got == expected, s"iteration $it rel=$rel")
    }
  }

  test("rocAuc: label swap flips AUC to 1-AUC; AUC matches the O(P*N) pair count") {
    import graft.operators.Profiling
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 1000), Gen.oneOf(true, false)))
    for (rows <- samples(gen, 8)
         if rows.exists(_._2) && rows.exists(!_._2)) {
      val df = rows.map { case (q, y) => (q / 1000.0, y) }.toDF("score", "y")
      val (p, n, auc, gini, _) = Profiling.rocAuc(df, "score", "y")
        .as[(Long, Long, Double, Double, Double)].head()
      // brute-force pair definition on the quantized scores
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val wins = (for (a <- pos; b <- neg)
        yield if (a > b) 2L else if (a == b) 1L else 0L).sum
      val exact = BigDecimal(wins.toDouble / (2.0 * pos.size * neg.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((p, n) == ((pos.size.toLong, neg.size.toLong)))
      assert(auc == exact, s"auc $auc != pairwise $exact for $rows")
      // label swap: P(s+ > s-) mirrors, ties stay halved -> 1 - AUC
      val sw = rows.map { case (q, y) => (q / 1000.0, !y) }.toDF("score", "y")
      val aucSw = Profiling.rocAuc(sw, "score", "y")
        .as[(Long, Long, Double, Double, Double)].head()._3
      assert(math.abs(auc + aucSw - 1.0) < 2e-6,
        s"swap symmetry: $auc + $aucSw != 1")
      assert(math.abs(gini - (2 * auc - 1)) < 2e-6, s"gini: $gini vs $auc")
    }
  }

  test("ODataMetadata.convert: typed decode roundtrips random values exactly; garbage fails naming the field") {
    import graft.sources.odata.ODataMetadata.convert
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // integers: text → native and back through toString
    for (v <- samples(Gen.choose(Long.MinValue, Long.MaxValue), 200))
      assert(convert(v.toString, LongType, "f") == v)
    for (v <- samples(Gen.choose(Int.MinValue, Int.MaxValue), 200))
      assert(convert(v.toString, IntegerType, "f") == v)
    // doubles: Double.toString is the shortest uniquely-parsing form,
    // so text → double is bit-exact
    for (v <- samples(Gen.choose(-1e12, 1e12), 200))
      assert(java.lang.Double.doubleToLongBits(
        convert(v.toString, DoubleType, "f").asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(v))
    // decimals: unscaled-long magnitudes within the declared digits
    val decGen = for {
      p <- Gen.choose(1, 18); s <- Gen.choose(0, p)
      lim = (BigInt(10).pow(p) - 1).min(BigInt(Long.MaxValue)).toLong
      v <- Gen.choose(-lim, lim)
    } yield (p, s, v)
    for ((p, s, v) <- samples(decGen, 200)) {
      val txt = Decimal(v, p, s).toJavaBigDecimal.toPlainString
      val back = convert(txt, DecimalType(p, s), "f")
        .asInstanceOf[Decimal]
      assert(back.toUnscaledLong == v && back.scale == s, s"p=$p s=$s v=$v -> $back")
    }
    // timestamps: epoch micros → ISO instant text → micros (whole-ms
    // grain, the OData wire's practical precision)
    for (ms <- samples(Gen.choose(-62135596800000L, 253402300799000L), 200)) {
      val iso = java.time.Instant.ofEpochMilli(ms).toString
      assert(convert(iso, TimestampType, "f") == ms * 1000L, s"$ms / $iso")
      // the v2 envelope decodes to the same instant space
      assert(convert(s"/Date($ms)/", TimestampType, "f") == ms * 1000L)
    }
    // dates: epoch days → ISO → days
    for (d <- samples(Gen.choose(-719162, 2932896), 200)) {
      val iso = java.time.LocalDate.ofEpochDay(d.toLong).toString
      assert(convert(iso, DateType, "f") == d, s"$d / $iso")
    }
    // strings pass through untouched
    for (s <- samples(Gen.asciiPrintableStr, 100))
      assert(convert(s, StringType, "f") == UTF8String.fromString(s))
    // garbage fails LOUDLY, naming the field and the offending text
    val e = intercept[IllegalStateException] {
      convert("not-a-number", LongType, "MY_FIELD") }
    assert(e.getMessage.contains("MY_FIELD") &&
      e.getMessage.contains("not-a-number"), e.getMessage)
  }
}
