package etlbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: inputs made at set-up, one timed pass of
  * calls into the library, and output checks computed apart from it.
  */
abstract class Workload(val spark: SparkSession, val work: File, val seed: Long, val small: Boolean) {
  type Out

  /** Generate inputs and start whatever serves them. */
  def setup(): Unit

  /** One timed pass; every call into the library sits in a span. */
  def pass(t: Tracer): Unit

  /** The pass's outputs, read back after the timing. */
  def outputs(): Out

  def checks(o: Out): Seq[Check]

  /** Per-pass figures read from the outputs (sizes, pair counts). */
  def figures(o: Out): Map[String, Double] = Map.empty

  /** Untimed passes after the cold one, until the JIT has compiled the
    * program's hot paths and pass times stop falling.
    */
  def warmupPasses: Int = 1

  /** Cumulative counters outside the engine (requests at the server). */
  def counters(): Map[String, Double] = Map.empty

  /** Deliberate corruptions for the self-test: (corruption, the check
    * that must then fail, the corrupting function).
    */
  def corruptions: Seq[(String, String, Out => Out)]

  /** Release what the pass materialized and delete its outputs. */
  def afterPass(): Unit = ()

  def close(): Unit = ()

  // -- helpers shared by the workloads

  protected def path(name: String): String = new File(work, name).getPath

  protected def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    if (df != null) df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => df.unpersist(blocking = true)
    }
  }

  protected def dirBytes(p: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
    walk(new File(p))
  }

  def deleteWork(): Unit = deleteDir(work.getPath)

  protected def deleteDir(p: String): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    rm(new File(p))
  }
}

object Workload {
  val Names = Seq("odata_etl", "dedup_corpus", "iterative_ops")

  def apply(name: String, spark: SparkSession, work: File, seed: Long, small: Boolean): Workload =
    name match {
      case "odata_etl" => new ODataEtl(spark, work, seed, small)
      case "dedup_corpus" => new DedupCorpus(spark, work, seed, small)
      case "iterative_ops" => new IterativeOps(spark, work, seed, small)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

object Session {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** `local[N]` with N at most the machine's cores. Status retention is
    * capped so the heap kept for finished jobs stops growing after a
    * few passes and does not depend on how many passes a run made.
    */
  def create(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
