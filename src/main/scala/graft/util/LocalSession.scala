package graft.util

import org.apache.spark.sql.SparkSession

/**
 * The one local session every driver-contract main shares (Bench, Verify,
 * BenchOne, PlanDump). A single builder keeps the four environments in
 * lockstep — config drift between Bench and a profiling main would make
 * cliff attribution measure a different engine than the one benched.
 */
object LocalSession {
  def create(exactSums: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // driver testdata writes naive parquet timestamps (isAdjustedToUTC =
      // false); read them as TIMESTAMP (not NTZ) so event-time semantics —
      // watermarks, windows — work, identical to DuckDB under UTC session tz
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-graft"))
    // bit-stable double sums (sorted sequential folds) so results
    // hash-match the DuckDB oracle; production/bench use plain sums
    val spark =
      (if (exactSums) b.config("spark.graft.exactSums", "true") else b)
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
