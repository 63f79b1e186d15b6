package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession

/** Workflow driver — the reference's run-all.sh re-expressed in-process
  * (S11, SURVEY.md §3.1): generate fixtures → Job 1 → gate → Job 2 →
  * gate → lineage summary + DOT. Gates are the same semantics as the
  * `hdfs dfs -test/-count` checks (exists + rowcount > 0); process
  * boundaries collapse to method calls, storage boundaries stay real
  * (every stage interchange is parquet on disk).
  *
  * Usage: runMain graft.etl.Pipeline [workDir]
  */
object Pipeline {

  def run(spark: SparkSession, workDir: String): (Long, Long) = {
    val asOf = Fixtures.asOf
    // Deterministic job id (the reference uses UUID.randomUUID at
    // generate-asset.scala:30 — banned from verified outputs, §7.5.2).
    val jobId = s"JOB_${asOf}"
    val lineage = new Lineage(spark, s"$workDir/lineage_registry", jobId,
      Timestamp.valueOf(s"$asOf 00:00:00"))

    // Step 1 — data generation (fixture CSVs, header, coalesce(1)).
    Fixtures.writeCsvs(spark, s"$workDir/raw")
    require(new java.io.File(s"$workDir/raw/customers").exists(), "gate: raw customers missing")

    // Step 2 — Job 1 → external parquet table.
    val n1 = Job1.run(spark, s"$workDir/raw", s"$workDir/processed_sales", asOf, lineage)
    require(n1 > 0, "gate: Job1 produced no rows")

    // Step 3 — Job 2 → asset table + registry.
    val n2 = Job2.run(spark, s"$workDir/processed_sales", s"$workDir/sales_analytics_asset",
      asOf, jobId, lineage)
    require(n2 > 0, "gate: Job2 produced no rows")

    // Lineage DOT emission (README.md:87-93).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/lineage.dot"), lineage.toDot)

    val registry = spark.read.parquet(s"$workDir/lineage_registry")
    println(s"[pipeline] job=$jobId sales=$n1 asset=$n2 registry=${registry.count()}")
    (n1, n2)
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-etl-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, workDir)
    finally spark.stop()
  }
}
