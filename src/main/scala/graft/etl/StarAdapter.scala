package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapter from the harness star schema (TESTDATA.md) to the reference's
  * source-table shapes, so the reconstructed Job1→Job2 pipeline runs
  * unchanged on the big synthetic tables: customer→customers, part→
  * products, orders⋈lineitem→orders (one reference order per line item).
  * All derived fields are deterministic functions of the inputs —
  * nothing random, so pipeline runs are reproducible at any sf.
  */
object StarAdapter {

  def customers(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.customer(spark, sfDir).select(
      col("c_custkey").cast("int").as("customer_id"),
      col("c_name").as("name"),
      concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")), lit("@example.com"))
        .as("email"),
      to_date(lit("2020-01-01")).as("signup_date"),
      when(col("c_acctbal") >= 0.0, "active").otherwise("inactive").as("status"))

  def products(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.part(spark, sfDir).select(
      col("p_partkey").cast("int").as("product_id"),
      col("p_name").as("name"),
      col("p_type").as("category"),
      col("p_retailprice").as("price"),
      (col("p_size") % 10 =!= 0).as("in_stock"))

  /** One reference order per line item (the reference's orders carry one
    * product each): synthetic order_id = orderkey*10 + linenumber (safe:
    * linenumber ≤ 7), order_date from the parent order, total =
    * price-discounted extended price.
    */
  def orders(spark: SparkSession, sfDir: String): DataFrame = {
    val l = graft.Tables.lineitem(spark, sfDir)
    val o = graft.Tables.orders(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey")).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("int").as("order_id"),
      col("o_custkey").cast("int").as("customer_id"),
      col("l_partkey").cast("int").as("product_id"),
      col("l_quantity").cast("int").as("quantity"),
      col("o_orderdate").as("order_date"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_amount"))
  }

  /** Job1 → Job2 over the adapted star schema. The recency cutoff is
    * anchored to the data's own max order date (the TPC-H-ish dates end
    * in 1998 — a fixed 2024 asOf would filter everything).
    */
  def runPipeline(spark: SparkSession, sfDir: String, workDir: String): (Long, Long) = {
    val maxDate = orders(spark, sfDir).agg(max(to_date(col("order_date")))).collect()(0).getDate(0)
    val asOf = maxDate
    val jobId = s"JOB_STAR_$asOf"
    val lineage = new Lineage(spark, s"$workDir/lineage_registry", jobId,
      java.sql.Timestamp.valueOf(s"$asOf 00:00:00"))
    val out = Job1.transform(customers(spark, sfDir), orders(spark, sfDir),
      products(spark, sfDir), asOf)
    out.write.mode("overwrite").parquet(s"$workDir/processed_sales")
    val n1 = spark.read.parquet(s"$workDir/processed_sales").count()
    require(n1 > 0, "gate: star Job1 produced no rows")
    lineage.log(s"$sfDir/{customer,part,orders,lineitem}", s"$workDir/processed_sales",
      4, n1, "Job1 over star schema")
    val n2 = Job2.run(spark, s"$workDir/processed_sales", s"$workDir/sales_analytics_asset",
      asOf, jobId, lineage)
    require(n2 > 0, "gate: star Job2 produced no rows")
    (n1, n2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.drop(1).headOption.getOrElse("/tmp/graft_star_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-star-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (n1, n2) = runPipeline(spark, sfDir, workDir)
      println(s"[star-pipeline] sf=$sfDir sales=$n1 asset=$n2")
    } finally spark.stop()
  }
}
