package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every main and the specs (NOTES
  * invariants 6-7): the settings every verified, benched or published
  * result depends on live here, so no entry point can drift from them.
  *
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - session zone UTC: Tables.events' Spark-4 path casts
  *     TIMESTAMP_NTZ under the session zone, so a non-UTC host would
  *     group event/asof/range queries differently than the oracle;
  *   - ANSI off: classic semantics (double/0 → NULL etc.) match the
  *     DuckDB oracle, and Spark 4.x flips the default to ANSI-on;
  *   - `graft.GraftExtensions`, which registers `dot_f32` and the other
  *     native functions;
  *   - `parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS),
  *     read as Long (Tables.events converts to micros, matching DuckDB's
  *     truncation).
  *
  * Callers add only what is theirs and call `getOrCreate()`.
  */
object GraftSession {
  def builder(cpus: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
