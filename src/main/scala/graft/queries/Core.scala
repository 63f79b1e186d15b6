package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Core parity queries — scans, filters, projections, hash aggregations
  * (SURVEY.md §2.1, §2.2, §2.4, §2.8).
  *
  * Every query is deterministic: frozen `as_of` instead of current_date
  * (reference uses current_date at generate-asset.scala:73-74), canonical
  * ORDER BY on the full key, and Det numerics so Spark's parallel
  * execution and DuckDB's hash bit-identically.
  */
object Core {
  import Tables._
  import Det._

  type Q = (SparkSession, String) => DataFrame

  /** A1 — customer analytics (generate-asset.scala:57-84) translated to the
    * harness star schema: count / countDistinct / sum / min / max /
    * avg-over-expression / conditional weekend sums, plus derived metrics.
    * The two small joins (customer is tiny) broadcast; the aggregation is a
    * partial+final HashAggregate shuffled on the group keys — scales
    * linearly with lineitem.
    */
  val aggCustomer: Q = (spark, dir) => {
    val l = lineitem(spark, dir)
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val joined = l
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .withColumn("final_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .withColumn("is_weekend", dayofweek(col("o_orderdate")).isin(1, 7))
    joined
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("line_count"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        r2(dsum(col("final_price"))).as("total_spent"),
        max(col("o_orderdate")).as("last_order"),
        min(col("o_orderdate")).as("first_order"),
        r4(davg(col("final_price") / col("l_quantity"))).as("avg_unit_price"),
        r2(dsum(when(col("is_weekend"), col("final_price")).otherwise(0.0))).as("weekend_spent"),
        r2(dsum(when(!col("is_weekend"), col("final_price")).otherwise(0.0))).as("weekday_spent")
      )
      .withColumn("days_since_last_order",
        datediff(lit(AsOf).cast("date"), col("last_order")).cast("long"))
      .orderBy(col("c_custkey"))
  }

  val aggCustomerSql: String =
    s"""WITH j AS (
       |  SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, l.l_partkey, l.l_quantity,
       |         l.l_extendedprice * (1.0 - l.l_discount) AS final_price,
       |         dayofweek(o.o_orderdate) IN (0, 6) AS is_weekend
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey)
       |SELECT c_custkey, c_name,
       |  count(o_orderkey) AS line_count,
       |  count(DISTINCT l_partkey) AS distinct_parts,
       |  ${sqlR2(sqlDsum("final_price"))} AS total_spent,
       |  max(o_orderdate) AS last_order,
       |  min(o_orderdate) AS first_order,
       |  ${sqlR4(sqlDavg("final_price / l_quantity"))} AS avg_unit_price,
       |  ${sqlR2(sqlDsum("CASE WHEN is_weekend THEN final_price ELSE 0.0 END"))} AS weekend_spent,
       |  ${sqlR2(sqlDsum("CASE WHEN NOT is_weekend THEN final_price ELSE 0.0 END"))} AS weekday_spent,
       |  date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '$AsOf') AS days_since_last_order
       |FROM j GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** A2 — product analytics (generate-asset.scala:98-109): ratio-then-avg
    * (NOT avg-of-sums) discount ratio, distinct suppliers, post-agg derived
    * revenue_per_unit. Group keys are (id, brand, type) — functional
    * dependency keeps the shuffle keyed on p_partkey.
    */
  val aggProduct: Q = (spark, dir) => {
    val l = lineitem(spark, dir)
    val p = part(spark, dir)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .withColumn("final_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("p_partkey"), col("p_brand"), col("p_type"))
      .agg(
        count(col("l_orderkey")).as("order_count"),
        r2(dsum(col("l_quantity"))).as("total_quantity"),
        r2(dsum(col("final_price"))).as("total_revenue"),
        r2(davg(col("p_retailprice"))).as("avg_price"),
        r6(davg(col("l_extendedprice") * col("l_discount") / nullif(col("l_extendedprice"), lit(0.0))))
          .as("avg_discount_ratio"),
        countDistinct(col("l_suppkey")).as("distinct_suppliers")
      )
      .withColumn("revenue_per_unit",
        r4(col("total_revenue") / nullif(col("total_quantity"), lit(0.0))))
      .orderBy(col("p_partkey"))
  }

  val aggProductSql: String =
    s"""WITH j AS (
       |  SELECT p.p_partkey, p.p_brand, p.p_type, p.p_retailprice,
       |         l.l_orderkey, l.l_quantity, l.l_suppkey, l.l_extendedprice, l.l_discount,
       |         l.l_extendedprice * (1.0 - l.l_discount) AS final_price
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       |a AS (
       |  SELECT p_partkey, p_brand, p_type,
       |    count(l_orderkey) AS order_count,
       |    ${sqlR2(sqlDsum("l_quantity"))} AS total_quantity,
       |    ${sqlR2(sqlDsum("final_price"))} AS total_revenue,
       |    ${sqlR2(sqlDavg("p_retailprice"))} AS avg_price,
       |    ${sqlR6(sqlDavg("l_extendedprice * l_discount / nullif(l_extendedprice, 0.0)"))} AS avg_discount_ratio,
       |    count(DISTINCT l_suppkey) AS distinct_suppliers
       |  FROM j GROUP BY p_partkey, p_brand, p_type)
       |SELECT *, ${sqlR4("total_revenue / nullif(total_quantity, 0.0)")} AS revenue_per_unit
       |FROM a ORDER BY p_partkey""".stripMargin

  /** A3 — time analytics (generate-asset.scala:130-143): two distinct
    * aggregates in one groupBy (Expand-based plan), day/month names via
    * upper(date_format(...)) to match java.time enum casing (SURVEY.md §2.3
    * hazard), post-agg revenue_per_customer / items_per_line.
    */
  val aggTime: Q = (spark, dir) => {
    val l = lineitem(spark, dir)
    val o = orders(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .withColumn("final_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(
        to_date(col("l_shipdate")).as("ship_date"),
        upper(date_format(col("l_shipdate"), "EEEE")).as("day_of_week"),
        upper(date_format(col("l_shipdate"), "MMMM")).as("month_name"),
        year(col("l_shipdate")).cast("long").as("year")
      )
      .agg(
        count(col("o_orderkey")).as("line_count"),
        countDistinct(col("o_custkey")).as("distinct_customers"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        r2(dsum(col("final_price"))).as("total_revenue"),
        r4(davg(col("final_price"))).as("avg_revenue"),
        r2(dsum(col("l_quantity"))).as("total_quantity")
      )
      .withColumn("revenue_per_customer",
        r4(col("total_revenue") / nullif(col("distinct_customers").cast("double"), lit(0.0))))
      .withColumn("items_per_line",
        r4(col("total_quantity") / nullif(col("line_count").cast("double"), lit(0.0))))
      .orderBy(col("ship_date"))
  }

  val aggTimeSql: String =
    s"""WITH j AS (
       |  SELECT CAST(l.l_shipdate AS DATE) AS ship_date,
       |         upper(dayname(l.l_shipdate)) AS day_of_week,
       |         upper(monthname(l.l_shipdate)) AS month_name,
       |         CAST(year(l.l_shipdate) AS BIGINT) AS year,
       |         o.o_orderkey, o.o_custkey, l.l_partkey, l.l_quantity,
       |         l.l_extendedprice * (1.0 - l.l_discount) AS final_price
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |a AS (
       |  SELECT ship_date, day_of_week, month_name, year,
       |    count(o_orderkey) AS line_count,
       |    count(DISTINCT o_custkey) AS distinct_customers,
       |    count(DISTINCT l_partkey) AS distinct_parts,
       |    ${sqlR2(sqlDsum("final_price"))} AS total_revenue,
       |    ${sqlR4(sqlDavg("final_price"))} AS avg_revenue,
       |    ${sqlR2(sqlDsum("l_quantity"))} AS total_quantity
       |  FROM j GROUP BY ship_date, day_of_week, month_name, year)
       |SELECT *,
       |  ${sqlR4("total_revenue / nullif(CAST(distinct_customers AS DOUBLE), 0.0)")} AS revenue_per_customer,
       |  ${sqlR4("total_quantity / nullif(CAST(line_count AS DOUBLE), 0.0)")} AS items_per_line
       |FROM a ORDER BY ship_date""".stripMargin

  /** The longest `globalCounts` waits for its ten table counts. */
  private val GlobalCountsTimeout = scala.concurrent.duration.Duration(10, "minutes")

  /** Runs the named counts concurrently from a 4-thread driver pool and
    * waits at most `timeout` for all of them. Each count's Spark jobs
    * carry one job tag, so on timeout the counts still running are
    * cancelled (they would otherwise keep using the shared SparkContext)
    * and a `TimeoutException` names them.
    */
  private[graft] def countAll(spark: SparkSession, counts: Seq[(String, () => Long)],
                              timeout: scala.concurrent.duration.FiniteDuration): Seq[(String, Long)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val sc = spark.sparkContext
    val tag = s"graft-counts-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = counts.map { case (n, c) =>
        n -> Future { sc.addJobTag(tag); try c() finally sc.removeJobTag(tag) }
      }
      try Await.result(Future.sequence(futures.map { case (n, f) => f.map(n -> _) }), timeout)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          sc.cancelJobsWithTag(tag)
          val pending = futures.collect { case (n, f) if !f.isCompleted => n }
          throw new java.util.concurrent.TimeoutException(
            s"still pending after $timeout: ${pending.mkString(", ")}")
      }
    } finally pool.shutdownNow()
  }

  /** A4 — global counts (generate-asset.scala:338,360) over every table.
    *
    * r16: the ten per-table counts are INDEPENDENT single-row jobs, so
    * they run concurrently from a small driver thread pool (guide §2.6
    * "overlap independent jobs" — the union-of-aggregates plan walked
    * its 20-odd tiny stages mostly serially and the wall was pure
    * scheduling latency). Every run recomputes every count from the
    * parquet inputs — nothing is memoized or cached; the result enters
    * the plan as a local relation, same as the ANN driver-LUT class.
    * Same rows, names, types as the union-of-aggregates form.
    *
    * Eager: the counts run when the query function is CALLED, not when
    * its result is executed, and the call waits at most
    * `GlobalCountsTimeout`, then cancels the counts still running and
    * fails naming their tables.
    */
  val globalCounts: Q = (spark, dir) => {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val counts = countAll(spark,
      names.map(n => n -> (() => table(spark, dir, n).count())), GlobalCountsTimeout)
    import spark.implicits._
    counts.toDF("table_name", "row_count")
      .select(col("table_name"), col("row_count"))
      .orderBy(col("table_name"))
  }

  val globalCountsSql: String =
    """SELECT * FROM (
      |  SELECT 'region' AS table_name, count(*) AS row_count FROM region UNION ALL
      |  SELECT 'nation', count(*) FROM nation UNION ALL
      |  SELECT 'customer', count(*) FROM customer UNION ALL
      |  SELECT 'supplier', count(*) FROM supplier UNION ALL
      |  SELECT 'part', count(*) FROM part UNION ALL
      |  SELECT 'orders', count(*) FROM orders UNION ALL
      |  SELECT 'lineitem', count(*) FROM lineitem UNION ALL
      |  SELECT 'events', count(*) FROM events UNION ALL
      |  SELECT 'documents', count(*) FROM documents UNION ALL
      |  SELECT 'embeddings', count(*) FROM embeddings)
      |ORDER BY table_name""".stripMargin

  /** P1+P3+P8 — filter + projection; predicates and the narrow read
    * schema push into the parquet scan (PushedFilters / ReadSchema).
    */
  val scanFilterProject: Q = (spark, dir) =>
    lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_shipdate").isNotNull && col("l_quantity") > 30)
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"),
        r2(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("final_price")
      )
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val scanFilterProjectSql: String =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
       |  ${sqlR2("l_extendedprice * (1.0 - l_discount)")} AS final_price
       |FROM lineitem
       |WHERE l_returnflag = 'R' AND l_shipdate IS NOT NULL AND l_quantity > 30
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** §2.8 scalar-function surface: concat, date_format, to_date, datediff,
    * when/otherwise with typed NULL, upper(day/month names), arithmetic.
    */
  val scalarFuncs: Q = (spark, dir) =>
    orders(spark, dir)
      .select(
        col("o_orderkey"),
        concat(lit("ORD_"), col("o_orderkey")).as("order_tag"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("date_key"),
        to_date(col("o_orderdate")).as("order_date"),
        upper(date_format(col("o_orderdate"), "EEEE")).as("day_of_week"),
        upper(date_format(col("o_orderdate"), "MMMM")).as("month_name"),
        datediff(lit(AsOf).cast("date"), col("o_orderdate")).cast("long").as("order_age_days"),
        when(col("o_totalprice") > 300000.0, lit("high"))
          .when(col("o_totalprice") > 100000.0, lit("mid"))
          .otherwise(lit("low")).as("price_band"),
        when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(null).cast("double"))
          .as("finished_price"),
        r4(col("o_totalprice") * 0.07 + 1.5).as("fee")
      )
      .orderBy(col("o_orderkey"))

  val scalarFuncsSql: String =
    s"""SELECT o_orderkey,
       |  'ORD_' || o_orderkey AS order_tag,
       |  strftime(o_orderdate, '%Y%m%d') AS date_key,
       |  CAST(o_orderdate AS DATE) AS order_date,
       |  upper(dayname(o_orderdate)) AS day_of_week,
       |  upper(monthname(o_orderdate)) AS month_name,
       |  date_diff('day', CAST(o_orderdate AS DATE), DATE '$AsOf') AS order_age_days,
       |  CASE WHEN o_totalprice > 300000.0 THEN 'high'
       |       WHEN o_totalprice > 100000.0 THEN 'mid'
       |       ELSE 'low' END AS price_band,
       |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE NULL END AS finished_price,
       |  ${sqlR4("o_totalprice * 0.07 + 1.5")} AS fee
       |FROM orders ORDER BY o_orderkey""".stripMargin

  /** O2 — deterministic LIMIT (generate-asset.scala:333): top-10 orders by
    * price with total-order tie-break.
    */
  val limitTopN: Q = (spark, dir) =>
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val limitTopNSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** S9 — the SQL-string surface: one SQL text, parsed and executed by
    * BOTH engines verbatim (Spark via temp view + spark.sql, DuckDB as
    * the oracle) — full parse → analyze → optimize path (SURVEY.md §3.3),
    * in the shape of the classic pricing-summary report. The Det numeric
    * convention is inlined as plain SQL (decimal sums, floor-round), so
    * the shared text is engine-portable by construction.
    */
  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sum_qty,
      |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS sum_base_price,
      |  floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
      |  floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS sum_charge,
      |  floor(CAST(sum(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) / count(l_discount) * 1e6 + 0.5) / 1e6 AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val sqlPricingSummary: Q = viaSql(Seq("lineitem"), pricingSummarySql)

  val queries: Map[String, Q] = Map(
    "q_sql_pricing_summary" -> sqlPricingSummary,
    "q_agg_customer" -> aggCustomer,
    "q_agg_product" -> aggProduct,
    "q_agg_time" -> aggTime,
    "q_global_counts" -> globalCounts,
    "q_scan_filter_project" -> scanFilterProject,
    "q_scalar_funcs" -> scalarFuncs,
    "q_limit_topn" -> limitTopN
  )

  val oracles: Map[String, String] = Map(
    "q_sql_pricing_summary" -> pricingSummarySql, // same text, both engines
    "q_agg_customer" -> aggCustomerSql,
    "q_agg_product" -> aggProductSql,
    "q_agg_time" -> aggTimeSql,
    "q_global_counts" -> globalCountsSql,
    "q_scan_filter_project" -> scanFilterProjectSql,
    "q_scalar_funcs" -> scalarFuncsSql,
    "q_limit_topn" -> limitTopNSql
  )
}
