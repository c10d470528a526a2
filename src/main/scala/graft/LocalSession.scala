package graft

import org.apache.spark.sql.SparkSession

/** The local session the repo's mains (`Bench`, `PlanDump`, `Verify`)
  * and the test suite run on: `local[cpus]` with one shuffle
  * partition per core, and `graft.GraftExtensions` wired in — the one
  * place graft enters a local session. `Serve` (spark-submit supplies
  * its master) and `StateSoak` (picks its state provider) keep their
  * own builders.
  */
object LocalSession {

  /** Cores from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Read pandas-written naive parquet timestamps as TimestampType
      // (session-UTC), not TIMESTAMP_NTZ — keeps epoch/ms functions
      // applicable and matches DuckDB's naive-timestamp semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Timestamp dumps stay on the INT96 default deliberately:
      // pyarrow reads INT96 as NAIVE ns, matching DuckDB's naive
      // micros after value canonicalization (driver-verified).
      // TIMESTAMP_MICROS would be physically closer but is written
      // isAdjustedToUTC=true, which reads back tz-AWARE and fails a
      // value compare against DuckDB's naive timestamps — a worse
      // divergence than the ns/us width difference.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
