package etlbench

/** One output check: its name, whether it held, and what it saw. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Plain-Scala reference computations the output checks compare the
  * program against. None of them calls into the program.
  */
object Checks {

  def check(name: String)(ok: Boolean, detail: => String): Check =
    Check(name, ok, if (ok) "" else detail)

  /** Distinct word n-grams of the whitespace-normalized text: the
    * documented shingle definition of the dedup operators.
    */
  def shingles(text: String, n: Int): Set[String] = {
    val w = text.trim.split("\\s+").filter(_.nonEmpty)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner). */
  def damerauLevenshtein(a: String, b: String): Int = {
    val inf = a.length + b.length
    val d = Array.ofDim[Int](a.length + 2, b.length + 2)
    d(0)(0) = inf
    for (i <- 0 to a.length) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to b.length) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    val last = scala.collection.mutable.Map.empty[Char, Int]
    for (i <- 1 to a.length) {
      var db = 0
      for (j <- 1 to b.length) {
        val i1 = last.getOrElse(b(j - 1), 0)
        val j1 = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = Seq(d(i)(j) + cost, d(i + 1)(j) + 1, d(i)(j + 1) + 1,
          d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)).min
      }
      last(a(i - 1)) = i
    }
    d(a.length + 1)(b.length + 1)
  }

  /** Union-find components of `pairs` over `ids`: id → smallest member. */
  def components(ids: Iterable[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    for ((a, b) <- pairs if parent.contains(a) && parent.contains(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(i => i -> find(i)).toMap
  }

  /** PageRank by power iteration with the dangling mass spread
    * uniformly: pr'(v) = (1-d)/N + d * (sum_in pr(u) w(u,v)/out(u) + dangling/N).
    */
  def pageRank(edges: Seq[(String, String, Double)], iters: Int, d: Double = 0.85): Map[String, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toDouble
    val out = edges.groupMapReduce(_._1)(_._3)(_ + _)
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val in = edges.groupMapReduce(_._2)(e => pr(e._1) * e._3 / out(e._1))(_ + _)
      pr = nodes.map(v => v -> ((1 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    pr
  }
}
