package etlbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Dedup

final case class DedupOut(exact: Set[(String, Long, Long)], minhash: Seq[(Long, Long, Double)],
                          jaccard: Seq[(Long, Long, Double)], kept: Set[Long], written: Set[Long])

/** The LLM-pipeline dedup path on a corpus generated to the measured
  * shape of sf0.1 `documents.parquet` ([[Gen.corpus]]), with planted
  * exact and near copies: exact → MinHash pairs → Jaccard pairs → one
  * representative per cluster → parquet.
  */
final class DedupCorpus(spark: SparkSession, work: File, seed: Long, small: Boolean)
    extends Workload(spark, work, seed, small) {
  type Out = DedupOut

  private val nBase = if (small) 400 else DedupCorpus.Docs
  private val (docs, planted) = Gen.corpus(seed, nBase, nBase / 50, nBase / 50)
  private val inPath = path("documents.parquet")
  private val outPath = path("deduped.parquet")
  private var exact, minhash, jaccard, reps: DataFrame = _

  def setup(): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(Session.cores).write.parquet(inPath)
  }

  def pass(t: Tracer): Unit = {
    val in = spark.read.parquet(inPath)
    exact = t("dedup.exact")(Dedup.exact(in, "doc_id", "text").localCheckpoint())
    val kept = in.join(exact.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    minhash = t("dedup.minhash")(Dedup.minHashPairs(kept, "doc_id", "text").localCheckpoint())
    jaccard = t("dedup.jaccard")(
      Dedup.jaccardPairs(kept, "doc_id", "text", n = 3, threshold = DedupCorpus.JaccardT).localCheckpoint())
    val pairs = minhash.select("doc_a", "doc_b").union(jaccard.select("doc_a", "doc_b"))
    reps = t("dedup.representatives")(
      Dedup.keepClusterRepresentatives(kept, "doc_id", pairs).localCheckpoint())
    t("dedup.write")(reps.write.mode("overwrite").parquet(outPath))
  }

  def outputs(): Out = {
    def pairs(df: DataFrame) = df.collect().map((r: Row) => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    DedupOut(
      exact.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      pairs(minhash), pairs(jaccard),
      exact.select("keep_id").collect().map(_.getLong(0)).toSet,
      spark.read.parquet(outPath).select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  private val texts: Map[Long, String] = docs.map(d => d.id -> d.text).toMap
  private val shingles = scala.collection.mutable.Map.empty[Long, Set[String]]
  private def sh(id: Long) = shingles.getOrElseUpdate(id, Checks.shingles(texts(id), 3))

  def checks(o: Out): Seq[Check] = {
    val expectedExact = docs.groupBy(d => Checks.md5Hex(d.text)).map { case (h, g) =>
      (h, g.map(_.id).min, g.size.toLong)
    }.toSet
    // df over the deduplicated corpus the Jaccard operator saw; its
    // documented df-cut keeps shingles in 2..maxDocFreq (200) documents
    val df = o.kept.toSeq.flatMap(sh).groupMapReduce(identity)(_ => 1)(_ + _)
    def cutJaccard(a: Long, b: Long): Double = {
      val common = (sh(a) intersect sh(b)).count(s => df(s) >= 2 && df(s) <= 200)
      common.toDouble / (sh(a).size + sh(b).size - common)
    }
    def badPairs(ps: Seq[(Long, Long, Double)], sim: (Long, Long) => Double, t: Double) =
      ps.filter { case (a, b, j) =>
        val s = sim(a, b)
        !(a < b && s >= t - 1e-9 && math.abs(Checks.round6(s) - j) <= 1e-6)
      }
    val badMh = badPairs(o.minhash, (a, b) => Checks.jaccard(sh(a), sh(b)), DedupCorpus.MinHashT)
    val badJp = badPairs(o.jaccard, cutJaccard, DedupCorpus.JaccardT)
    val mhSet = o.minhash.map(p => (p._1, p._2)).toSet
    val jpSet = o.jaccard.map(p => (p._1, p._2)).toSet
    val missed = planted.filter(p => !mhSet(p) || !jpSet(p))
    val comp = Checks.components(o.kept, mhSet ++ jpSet)
    val expectedReps = comp.values.toSet
    Seq(
      Checks.check("dedup.exact_groups")(o.exact == expectedExact,
        s"${o.exact.size} groups, expected ${expectedExact.size}; differing ${(o.exact diff expectedExact).size}"),
      Checks.check("dedup.minhash_similarity")(badMh.isEmpty, s"${badMh.size} pairs fail, e.g. ${badMh.take(3)}"),
      Checks.check("dedup.jaccard_similarity")(badJp.isEmpty, s"${badJp.size} pairs fail, e.g. ${badJp.take(3)}"),
      Checks.check("dedup.near_copy_recall")(missed.isEmpty, s"${missed.size} planted near copies missed: ${missed.take(3)}"),
      Checks.check("dedup.representatives")(o.written == expectedReps,
        s"${o.written.size} written, expected ${expectedReps.size} (one per component)"))
  }

  override def figures(o: Out): Map[String, Double] = Map(
    "output_mb" -> dirBytes(outPath) / (1024.0 * 1024.0),
    "dedup.minhash_pairs" -> o.minhash.size.toDouble,
    "dedup.jaccard_pairs" -> o.jaccard.size.toDouble)

  def corruptions: Seq[(String, String, Out => Out)] = Seq(
    ("bogus pair", "dedup.jaccard_similarity", o => {
      val ids = o.kept.toSeq.sorted
      o.copy(jaccard = o.jaccard :+ ((ids.head, ids.last, 0.95)))
    }))

  override def afterPass(): Unit = {
    release(exact, minhash, jaccard, reps)
    deleteDir(outPath)
  }

  override def close(): Unit = shingles.clear()
}

object DedupCorpus {
  val Docs = 5000
  val MinHashT = 0.6
  val JaccardT = 0.8
}
