package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every graft entry point: `Bench`,
  * `Verify`, `Cli`, the test suites and the dev tools. It owns the
  * settings that must agree wherever graded results are produced:
  *
  *   - a UTC session time zone, so dates and timestamps parse and
  *     render the same on every box;
  *   - `nanosAsLong`: `events.parquet` stores TIMESTAMP(NANOS), which
  *     Spark reads only as longs (`Tables.load` converts to micros);
  *   - no Spark UI, and log level WARN.
  *
  * Callers choose only the master and the shuffle partition count.
  */
object Session {
  def build(master: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
