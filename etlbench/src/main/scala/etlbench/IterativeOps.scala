package etlbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lead, lit}
import graft.operators.{Dedup, Graph, Joins, TextAnalysis}

final case class IterOut(typo: Seq[(Long, Long, Long, Long)], clusters: Map[Long, Long],
                         edges: Seq[(String, String, Double)], ranks: Map[String, Double],
                         labels: Map[String, String], keywords: Seq[(String, Double, Long)])

/** Many small rounds on tiny data: the typo self-join and connected
  * clusters of `join_er_clusters`, PageRank and label propagation on the
  * events type-transition graph, and TextRank keywords.
  */
final class IterativeOps(spark: SparkSession, work: File, seed: Long, small: Boolean)
    extends Workload(spark, work, seed, small) {
  type Out = IterOut

  private val (customers, typos) = Gen.customers(seed, if (small) 300 else IterativeOps.Customers)
  private var cust, events, docs: DataFrame = _
  private var edges: DataFrame = _
  private var typo, clusters, ranks, labels, keywords: DataFrame = _

  // tiny inputs stay in memory: the workload is about rounds, not scans
  def setup(): Unit = {
    import spark.implicits._
    cust = customers.toDF("c_custkey", "c_name")
    events = Gen.events(seed, if (small) 5000 else IterativeOps.Events, if (small) 100 else IterativeOps.Users)
      .map(e => (e.eventId, new java.sql.Timestamp(e.tsMs), e.userId, e.eventType, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    docs = Gen.corpus(seed + 1, if (small) 200 else IterativeOps.Docs, 0, 0)._1
      .map(d => (d.id, d.text)).toDF("doc_id", "text")
    edges = transitionEdges(events).localCheckpoint()
  }

  /** The type-transition graph, built as the `events_pagerank` registry
    * query builds it: per user, each event to the next by (ts, event_id).
    */
  private def transitionEdges(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("to_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
  }

  def pass(t: Tracer): Unit = {
    typo = t("joins.typo")(Joins.typoSelfJoin(cust, "c_custkey", "c_name").localCheckpoint())
    clusters = t("dedup.clusters")(Dedup.connectedClusters(cust.select("c_custkey"), "c_custkey",
      typo.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))).localCheckpoint())
    ranks = t("graph.pagerank")(Graph.pageRank(edges, "src", "dst", "w", iters = IterativeOps.Rounds))
    labels = t("graph.lpa")(Graph.labelPropagation(edges, "src", "dst", "w", iters = IterativeOps.Rounds))
    keywords = t("text.textrank")(
      TextAnalysis.textRankKeywords(docs, "text", iters = IterativeOps.TextRankRounds, k = 20).localCheckpoint())
  }

  def outputs(): Out = IterOut(
    typo.select("id_a", "id_b", "lev", "dl").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
    clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
    edges.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq,
    ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap,
    labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap,
    keywords.select("term", "rank", "rnk").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)

  private val names = customers.toMap

  def checks(o: Out): Seq[Check] = {
    val badTypo = o.typo.filter { case (a, b, lev, dl) =>
      !(a < b && dl <= 1 && Checks.damerauLevenshtein(names(a), names(b)) == dl &&
        Checks.levenshtein(names(a), names(b)) == lev)
    }
    val found = o.typo.map(p => (p._1, p._2)).toSet
    val missed = typos.filter { case (a, b) => !found((math.min(a, b), math.max(a, b))) }
    val comp = Checks.components(names.keys, found)
    val ref = Checks.pageRank(o.edges, iters = IterativeOps.Rounds)
    val nodes = ref.keySet
    val rankErr = if (o.ranks.keySet != nodes) Double.PositiveInfinity
      else nodes.map(v => math.abs(o.ranks(v) - ref(v))).max
    val kw = o.keywords.sortBy(_._3)
    Seq(
      Checks.check("iter.typo_pairs")(badTypo.isEmpty, s"${badTypo.size} pairs outside the bound, e.g. ${badTypo.take(3)}"),
      Checks.check("iter.typo_recall")(missed.isEmpty, s"${missed.size} planted typos missed: ${missed.take(3)}"),
      Checks.check("iter.clusters")(o.clusters == comp,
        s"${o.clusters.count { case (k, v) => comp.get(k) != Some(v) }} ids in the wrong cluster"),
      Checks.check("iter.pagerank")(rankErr <= 1e-6 && math.abs(o.ranks.values.sum - 1) <= 1e-6,
        s"max error $rankErr, sum ${o.ranks.values.sum}"),
      Checks.check("iter.lpa_labels")(o.labels.keySet == nodes && o.labels.values.forall(nodes),
        s"${o.labels.size} labelled nodes of ${nodes.size}; labels ${o.labels.values.toSet.diff(nodes)} are not nodes"),
      Checks.check("iter.textrank_topk")(kw.size == 20 && kw.map(_._3) == (1L to 20L) &&
        kw.zip(kw.drop(1)).forall { case (x, y) => x._2 >= y._2 }, s"top-k $kw"))
  }

  def corruptions: Seq[(String, String, Out => Out)] = Seq(
    ("bogus pair", "iter.typo_pairs", o => {
      val ids = names.keys.toSeq.sorted
      o.copy(typo = o.typo :+ ((ids.head, ids.last, 1L, 1L)))
    }),
    ("two merged clusters", "iter.clusters", o => {
      val roots = o.clusters.values.toSeq.distinct.sorted
      o.copy(clusters = o.clusters.map { case (k, v) => k -> (if (v == roots(1)) roots(0) else v) })
    }),
    ("perturbed rank", "iter.pagerank", o => {
      val (v, r) = o.ranks.minBy(_._1)
      o.copy(ranks = o.ranks.updated(v, r + 1e-3))
    }))

  override def afterPass(): Unit = release(typo, clusters, ranks, labels, keywords)

  override def close(): Unit = release(edges)
}

object IterativeOps {
  val Customers = 1500
  val Events = 60000
  val Users = 1500
  val Docs = 2000
  val Rounds = 5
  val TextRankRounds = 4
}
