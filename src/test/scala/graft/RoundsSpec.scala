package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Rounds}

class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def awaitUntil(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    assert(cond, s"timed out waiting for $what")
  }

  /** The number of Spark jobs `body` runs: job starts reach the
    * listener asynchronously but in submission order, so the jobs
    * between two marker jobs are the ones `body` ran.
    */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("job"))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("rounds: before")
      body
      marker("rounds: after")
      awaitUntil("the marker job")(jobs.contains("rounds: after"))
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = jobs.toArray(Array.empty[String]).toSeq
      .dropWhile(_ != "rounds: before").drop(1)
    seen.takeWhile(_ != "rounds: after").size
  }

  /** The `rdd-*` directories reliable checkpoints left under `dir`. */
  private def checkpointDirs(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(dir))
      .filter(f => f.isDirectory && f.getName.startsWith("rdd-")).map(_.getPath).toSet
  }

  private def tinyGraph: DataFrame =
    Seq(("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "d", 1.0),
        ("d", "e", 1.0), ("e", "d", 3.0)).toDF("src", "dst", "w")

  test("iterate keeps only the final state's blocks; release is idempotent") {
    val before = persisted
    val init = spark.range(0, 50).toDF("x").localCheckpoint()
    val out = Rounds.iterate(init, 5)((s, r) => s.select((col("x") + r).as("x")))
    assert(out.agg(sum("x")).head().getLong(0) == (0 until 50).sum + 50 * 15)
    val added = persisted -- before
    assert(added.size == 1, added)
    Rounds.release(out)
    Rounds.release(out)
    assert((persisted -- before).isEmpty)
  }

  test("iterate stops at the first round whose step returns its input") {
    var calls = 0
    val out = Rounds.iterate(spark.range(0, 10).toDF("x"), 6) { (s, r) =>
      calls += 1
      if (r > 2) s else s.where(col("x") >= r)
    }
    assert(calls == 3)
    assert(out.count() == 8) // rounds 1 and 2 ran: x >= 2
    Rounds.release(out)
  }

  test("checkpointDir mode: release deletes a round's checkpoint; starEdges leaves only its result's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rounds").toString
    def rddDirs(): Set[String] = checkpointDirs(dir)
    // one round by hand: the next state lands, then the previous is released
    val first = Rounds.materialize(spark.range(0, 20).toDF("x"), Some(dir))
    val firstDirs = rddDirs()
    assert(firstDirs.size == 1, firstDirs)
    val second = Rounds.materialize(first.select((col("x") * 2).as("x")), Some(dir))
    assert(rddDirs().size == 2)
    Rounds.release(first)
    val secondDirs = rddDirs()
    assert(secondDirs.size == 1 && (secondDirs & firstDirs).isEmpty, s"$secondDirs vs $firstDirs")
    assert(second.agg(sum("x")).head().getLong(0) == 2 * (0 until 20).sum)
    Rounds.release(second)
    assert(rddDirs().isEmpty)
    // the reliable-checkpoint loop: a 16-chain takes several rounds, and
    // only the converged edge set's checkpoint is left on disk
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (stars, rounds) = Dedup.starEdges(chain, Some(dir), localEdges = 0)
    assert(rounds >= 2, s"$rounds rounds")
    assert(rddDirs().size == 1, rddDirs())
    assert(stars.count() == 15)
    Rounds.release(stars)
    assert(rddDirs().isEmpty)
  }

  test("checkpointDir mode: starEdges' one-task finish leaves only its result's checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rounds").toString
    def rddDirs(): Set[String] = checkpointDirs(dir)
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (stars, rounds) = Dedup.starEdges(chain, Some(dir))
    assert(rounds == 0, s"$rounds rounds")
    assert(rddDirs().size == 1, rddDirs())
    assert(stars.where(col("v") === 1L).count() == 15)
    Rounds.release(stars)
    assert(rddDirs().isEmpty, rddDirs())
  }

  test("release of a never-materialized frame is a no-op: a cached frame stays cached") {
    val cached = spark.range(0, 100).toDF("x").where(col("x") % 3 === 0).cache()
    assert(cached.count() == 34)
    val before = persisted
    Rounds.release(cached.select(col("x") + 1), cached.where(col("x") > 5),
      spark.range(0, 100).toDF("x").where(col("x") % 3 === 0))
    assert(persisted == before)
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    cached.unpersist()
  }

  test("pageRank, labelPropagation, coreness keep exactly one block set: their output") {
    val g = tinyGraph
    def grows(op: => DataFrame): Int = {
      val before = persisted
      val out = op
      val added = persisted -- before
      assert(out.count() > 0)
      added.size
    }
    assert(grows(Graph.pageRank(g, "src", "dst", "w", iters = 4)) == 1)
    assert(grows(Graph.labelPropagation(g, "src", "dst", "w", iters = 4)) == 1)
    assert(grows(Graph.coreness(g, "src", "dst", rounds = 3)) == 1)
  }

  test("job counts: pageRank(iters = 3) and connectedClusters on a fixed tiny graph") {
    val g = tinyGraph
    val pr = jobsOf(Graph.pageRank(g, "src", "dst", "w", iters = 3))
    val ids = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("doc_a", "doc_b")
    val cc = jobsOf(Dedup.connectedClusters(ids, "id", pairs))
    // measured on the per-loop code this helper replaced; a refactor
    // that adds a job per round moves these. connectedClusters runs no
    // star round on a graph this small: one task finishes it (37 jobs
    // when it ran the rounds)
    assert(pr == 39, s"pageRank ran $pr jobs")
    assert(cc == 6, s"connectedClusters ran $cc jobs")
  }
}
