package graft
import org.apache.spark.sql.SparkSession

/** The session the mains Bench, Verify and PlanAudit run in:
  * `local[cores]` with one shuffle partition per core, the library's
  * SQL extensions, UTC, AQE, parquet nanosecond timestamps read as
  * longs (see [[Tables.events]]) and no UI.
  */
object LocalSession {
  def apply(cores: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
