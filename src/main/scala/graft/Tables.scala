package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness star schema (TESTDATA.md).
  *
  * Mirrors the reference's scan surface (SURVEY.md §2.1): the reference
  * reads CSV/parquet paths into DataFrames (generate-asset.scala:38-40);
  * here every table is a parquet directory under the scale-factor dir.
  * Plain `spark.read.parquet` keeps the scan declarative so Catalyst can
  * push filters/projections into the vectorized parquet reader.
  */
object Tables {
  final val AsOf = "2002-01-01" // frozen `as_of` replacing current_date (SURVEY.md §7.5.2)

  /** Resolve a corpus dir that is a VERSION CHAIN (ext/Versioned: a
    * CURRENT pointer naming snapshot dirs — the Publish serving corpus)
    * to its committed snapshot; a plain directory resolves to itself.
    * Callers keep the STABLE logical path (artifact currency keys stay
    * path-stable across publishes); the flip to a new snapshot is
    * observed here, at scan time, atomically.
    */
  def resolve(sfDir: String): String =
    if (new java.io.File(sfDir, "CURRENT").exists())
      ext.Versioned.versionDir(sfDir, ext.Versioned.currentVersion(sfDir))
    else sfDir

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"${resolve(sfDir)}/$name.parquet")

  /** A shared-SQL query (one text, run verbatim by Spark and the DuckDB
    * oracle): register each listed table as a temp view of its parquet
    * read, then run `sql`.
    */
  def viaSql(tables: Seq[String], sql: String): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      tables.foreach(t => table(spark, dir, t).createOrReplaceTempView(t))
      spark.sql(sql)
    }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces that type
    * changed across majors, so normalize BY OBSERVED TYPE, not by config:
    *   - Spark 3.x + spark.sql.legacy.parquet.nanosAsLong: raw ns Long →
    *     truncate DIV 1000 to micros (matches DuckDB's ns→µs truncation).
    *     Integer DIV, not `/`: ns epoch (~1.7e18) exceeds double's 2^53.
    *   - Spark 4.x ignores that legacy conf and reads TIMESTAMP(NANOS,
    *     isAdjustedToUTC=false) as TIMESTAMP_NTZ (micros, ns truncated) —
    *     cast to TIMESTAMP under the UTC session zone (same instant, and
    *     unix_micros/window() require the zoned type). Round-9 regression:
    *     every unix_micros(ts) query threw DATATYPE_MISMATCH on this path.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", raw.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
