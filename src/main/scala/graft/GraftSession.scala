package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every main runs with: graft.Bench's
  * settings, so diagnostics plan the same splits and codegen as the
  * timed bench. Callers add only deployment settings on top. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the testdata parquet stores timestamps WITHOUT isAdjustedToUTC
      // (pyarrow naive timestamp[us]); Spark 4's default NTZ inference
      // would type them TIMESTAMP_NTZ and break unix_micros/window
      // arithmetic — read them as session-UTC instants instead
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The sf0.1 inputs are SINGLE parquet files (lineitem ≈ 11 MB); at
      // the default 128 MB maxPartitionBytes every scan is one task and
      // the star joins run effectively single-threaded. 4 MB splits give
      // the local[32] bench real scan parallelism; production data is
      // many-file and unaffected.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // all suite queries' generated classes fit: passes 2-3 run
      // warm-codegen without per-pass recompilation (static conf)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
}
