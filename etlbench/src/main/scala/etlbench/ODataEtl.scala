package etlbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.EtlPipeline
import graft.operators.Etl

/** The paper's daily job: OData v2 extract partitioned by structure
  * value → rename / reorder / dedup → one CSV, against the stub server.
  */
final class ODataEtl(spark: SparkSession, work: File, seed: Long, small: Boolean)
    extends Workload(spark, work, seed, small) {

  /** CSV part files written, and the lines of the first one. */
  type Out = (Seq[String], Vector[String])

  val rows: Int = if (small) 4000 else ODataEtl.Rows
  val codes: Int = if (small) 8 else ODataEtl.Codes
  private val outPath = path("employee_data")
  private var stub: StubProcess = _
  private var expected: Vector[String] = _

  private def cfg = EtlPipeline.Config(
    baseUrl = stub.url, servicePath = "sap/byd/odata/analytics.svc", entity = Gen.OData.Entity,
    selectFields = Gen.OData.Select, structureCandidates = Gen.OData.Candidates,
    renameMap = Gen.OData.Rename, expectedOrder = Gen.OData.Order, outputPath = outPath)

  def setup(): Unit = stub = new StubProcess(seed, rows, codes)

  def pass(t: Tracer): Unit = {
    val c = cfg
    val extracted = t("odata.extract")(EtlPipeline.extract(spark, c))
    val transformed = t("etl.transform")(EtlPipeline.transform(extracted, c))
    t("etl.write")(Etl.writeCsv(transformed, c.outputPath, c.singleFile))
  }

  def outputs(): Out = {
    val parts = Option(new File(outPath).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).sortBy(_.getName)
    val lines = parts.headOption.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }.getOrElse(Vector.empty)
    (parts.map(_.getName).toSeq, lines)
  }

  def checks(o: Out): Seq[Check] = {
    if (expected == null) expected = Gen.OData.expectedLines(Gen.OData.rows(seed, rows, codes)).sorted
    val (parts, lines) = o
    val got = lines.drop(1).sorted
    Seq(
      Checks.check("odata.single_csv")(parts.size == 1, s"${parts.size} part files"),
      Checks.check("odata.header")(lines.headOption.contains(Gen.OData.expectedHeader),
        s"header ${lines.headOption}"),
      Checks.check("odata.rows")(got == expected, {
        val (g, e) = (got.toSet, expected.toSet)
        s"${got.size} rows, expected ${expected.size}; missing ${(e -- g).size}, unexpected ${(g -- e).size}"
      }))
  }

  override def figures(o: Out): Map[String, Double] =
    Map("output_mb" -> dirBytes(outPath) / (1024.0 * 1024.0))

  override def counters(): Map[String, Double] = stub.stats()

  override def warmupPasses: Int = 2

  def corruptions: Seq[(String, String, Out => Out)] = Seq(
    ("dropped CSV row", "odata.rows", o => (o._1, o._2.patch(o._2.size / 2, Nil, 1))))

  override def afterPass(): Unit = deleteDir(outPath)

  override def close(): Unit = {
    if (stub != null) { stub.stop(); stub = null }
    expected = null
  }
}

object ODataEtl {
  val Rows = 150000
  val Codes = 32
}
