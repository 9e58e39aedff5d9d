package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Etl

/** The user-facing equivalent of the reference's `main()` chain
  * (reference `src/etl.py:185-224`): OData extract → rename →
  * reorder → stringify+dedup → single-CSV sink. Everything the
  * GitHub-Actions cron did per day becomes one idempotent batch job;
  * config moves from env vars to explicit options (SURVEY §3.3).
  *
  * Usage:
  * {{{
  * val cfg = EtlPipeline.Config(
  *   baseUrl = "https://host", servicePath = "sap/byd/odata/analytics.svc",
  *   entity = "RPZ...QueryResults",
  *   selectFields = Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", ...),
  *   structureCandidates = Seq("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE"),
  *   renameMap = Map("TEMPLOYEE_UUID" -> "Employee", ...),
  *   expectedOrder = Seq("Employee", ...),
  *   outputPath = "/data/employee_data")
  * EtlPipeline.run(spark, cfg)
  * }}}
  */
object EtlPipeline {

  case class Config(
      baseUrl: String,
      servicePath: String,
      entity: String,
      selectFields: Seq[String],
      structureCandidates: Seq[String],
      renameMap: Map[String, String] = Map.empty,
      expectedOrder: Seq[String] = Seq.empty,
      outputPath: String,
      codesEntity: Option[String] = None,
      user: Option[String] = None,
      password: Option[String] = None,
      failFast: Boolean = false,
      requestPauseMs: Long = 0L,
      singleFile: Boolean = true)

  /** Extract through the DataSourceV2 connector (pushdowns, probe,
    * partition-per-key all engaged by Catalyst).
    */
  def extract(spark: SparkSession, cfg: Config): DataFrame = {
    var r = spark.read.format("odata")
      .option("baseUrl", cfg.baseUrl)
      .option("servicePath", cfg.servicePath)
      .option("entity", cfg.entity)
      .option("selectFields", cfg.selectFields.mkString(","))
      .option("structureCandidates", cfg.structureCandidates.mkString(","))
      .option("failFast", cfg.failFast.toString)
      .option("requestPauseMs", cfg.requestPauseMs.toString)
    cfg.codesEntity.foreach(e => r = r.option("codesEntity", e))
    cfg.user.foreach(u => r = r.option("user", u))
    cfg.password.foreach(p => r = r.option("password", p))
    r.load()
  }

  /** The reference's transform chain on any extracted frame. Rename
    * runs at the SINK boundary (renameForSink) so duplicate business
    * names (two source fields → "Structure") are legal, matching the
    * reference CSV; reorder/dedup run on the unique source names.
    *
    * Lazy end to end: no request, no job. The R10 empty-result guard
    * is an observed row count placed above the dedup aggregate, so the
    * write is the job's only action and the scan (its codes
    * enumeration included) is planned once. Above the aggregate the
    * count survives AQE: a chain set that is empty only at runtime
    * makes AQE drop the stages below the aggregate, and an observation
    * there would complete without a count. `log` gets the warning
    * when the write finds no rows.
    */
  def transform(df: DataFrame, cfg: Config,
                log: String => Unit = m => System.err.println(m)): DataFrame = {
    val ordered = Etl.reorderColumns(df,
      cfg.expectedOrder.flatMap(t => cfg.renameMap.collect {
        case (src, tgt) if tgt == t => src
      }) ++ cfg.expectedOrder.filterNot(cfg.renameMap.values.toSet))
    val deduped = Etl.emptyGuard(Etl.dedupRows(ordered), log)
    Etl.renameForSink(deduped, cfg.renameMap)
  }

  def run(spark: SparkSession, cfg: Config,
          log: String => Unit = m => System.err.println(m)): Unit =
    Etl.writeCsv(transform(extract(spark, cfg), cfg, log), cfg.outputPath, cfg.singleFile)
}
