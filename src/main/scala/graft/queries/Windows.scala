package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window-function parity queries (SURVEY.md §2.5, §2.6).
  *
  * W1-W3: rank / percent_rank / top-k flag per category
  * (generate-asset.scala:112-116). W4-W6: 7- and 30-day RANGE-frame moving
  * averages + trend flag (generate-asset.scala:146-161) — the reference's
  * literal `rangeBetween(-6, 0)` over a DateType ordering column does not
  * analyze in stock Spark, so both engines order by an integer day number
  * (days since epoch) for bit-identical framing (SURVEY.md §7.5.1).
  *
  * All windowed double sums/avgs go through Det (DuckDB evaluates window
  * aggregates with segment trees — a different summation order than
  * Spark's frames; decimal accumulation is exact under any order).
  */
object Windows {
  import Tables._
  import Det._
  type Q = (SparkSession, String) => DataFrame

  /** W1-W3 — revenue rank within category. The window orders by the
    * ROUNDED revenue (already engine-identical via Det), so ties resolve
    * identically in both engines (rank semantics). Output is total-ordered
    * with p_partkey as tie-break.
    */
  val windowRank: Q = (spark, dir) => {
    val l = lineitem(spark, dir)
    val p = part(spark, dir)
    val perPart = l
      .join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .withColumn("final_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("p_partkey"), col("p_type"))
      .agg(r2(dsum(col("final_price"))).as("total_revenue"))
    val w = Window.partitionBy(col("p_type")).orderBy(col("total_revenue").desc)
    perPart
      .withColumn("revenue_rank", rank().over(w).cast("long"))
      .withColumn("revenue_percentile", r6(percent_rank().over(w)))
      .withColumn("is_top_seller", col("revenue_rank") <= 3)
      .orderBy(col("p_type"), col("revenue_rank"), col("p_partkey"))
  }

  val windowRankSql: String =
    s"""WITH per_part AS (
       |  SELECT p.p_partkey, p.p_type,
       |    ${sqlR2(sqlDsum("l.l_extendedprice * (1.0 - l.l_discount)"))} AS total_revenue
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY p.p_partkey, p.p_type)
       |SELECT p_partkey, p_type, total_revenue,
       |  CAST(rank() OVER w AS BIGINT) AS revenue_rank,
       |  ${sqlR6("percent_rank() OVER w")} AS revenue_percentile,
       |  rank() OVER w <= 3 AS is_top_seller
       |FROM per_part
       |WINDOW w AS (PARTITION BY p_type ORDER BY total_revenue DESC)
       |ORDER BY p_type, revenue_rank, p_partkey""".stripMargin

  /** W4-W6 — calendar-day RANGE frames. `day_num = datediff(date, epoch)`
    * makes the integer rangeBetween equivalent to `RANGE BETWEEN INTERVAL n
    * DAYS PRECEDING AND CURRENT ROW` while framing identically in Spark and
    * DuckDB (gaps in the date series are honored — value range, not rows).
    *
    * The frame is unpartitioned, as in the reference — a deliberate
    * single-partition sort over the ~2500-row DAILY aggregate (the raw
    * lineitem never passes through the window; the heavy groupBy shuffles
    * normally). The 100 TB formulation partitions by a coarse time bucket
    * and stitches boundary days from the previous bucket.
    */
  val windowMovingAvg: Q = (spark, dir) => {
    val l = lineitem(spark, dir)
    val daily = l
      .groupBy(to_date(col("l_shipdate")).as("ship_date"))
      .agg(
        r2(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_revenue"),
        count(lit(1)).as("line_count")
      )
      .withColumn("day_num", datediff(col("ship_date"), lit("1970-01-01").cast("date")))
    val w7 = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    val w30 = Window.orderBy(col("day_num")).rangeBetween(-29, 0)
    daily
      .withColumn("revenue_7day_avg", r4(davgOver(col("total_revenue"), w7)))
      .withColumn("revenue_30day_avg", r4(davgOver(col("total_revenue"), w30)))
      .withColumn("lines_7day_avg", r4(davgOver(col("line_count"), w7)))
      .withColumn("is_upward_trend", col("revenue_7day_avg") > col("revenue_30day_avg") * 1.1)
      .select(col("ship_date"), col("total_revenue"), col("line_count"),
        col("revenue_7day_avg"), col("revenue_30day_avg"), col("lines_7day_avg"),
        col("is_upward_trend"))
      .orderBy(col("ship_date"))
  }

  val windowMovingAvgSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(l_shipdate AS DATE) AS ship_date,
       |    ${sqlR2(sqlDsum("l_extendedprice * (1.0 - l_discount)"))} AS total_revenue,
       |    count(*) AS line_count,
       |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num
       |  FROM lineitem GROUP BY 1, 4),
       |win AS (
       |  SELECT ship_date, total_revenue, line_count,
       |    ${sqlR4(sqlDavgOver("total_revenue", "w7"))} AS revenue_7day_avg,
       |    ${sqlR4(sqlDavgOver("total_revenue", "w30"))} AS revenue_30day_avg,
       |    ${sqlR4(sqlDavgOver("line_count", "w7"))} AS lines_7day_avg
       |  FROM daily
       |  WINDOW
       |    w7 AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
       |    w30 AS (ORDER BY day_num RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
       |SELECT ship_date, total_revenue, line_count,
       |  revenue_7day_avg, revenue_30day_avg, lines_7day_avg,
       |  revenue_7day_avg > revenue_30day_avg * 1.1 AS is_upward_trend
       |FROM win ORDER BY ship_date""".stripMargin

  /** lag/lead/row_number/ntile — beyond the reference's rank family,
    * completing the window surface: per-customer order sequencing with
    * day gaps between consecutive orders. The running sum accumulates in
    * decimal (Det) — DuckDB's segment-tree cumulative sums would otherwise
    * drift from Spark's sequential frame in the last ulp.
    */
  val windowLagLead: Q = (spark, dir) => {
    val o = orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("order_seq", row_number().over(w).cast("long"))
      .withColumn("prev_order_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("next_order_date", lead(col("o_orderdate"), 1).over(w))
      .withColumn("days_since_prev",
        datediff(col("o_orderdate"), col("prev_order_date")).cast("long"))
      .withColumn("spend_quartile",
        ntile(4).over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long"))
      .withColumn("running_spend",
        r2(dsumOver(col("o_totalprice"),
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  val windowLagLeadSql: String =
    s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  CAST(row_number() OVER w AS BIGINT) AS order_seq,
       |  lag(o_orderdate, 1) OVER w AS prev_order_date,
       |  lead(o_orderdate, 1) OVER w AS next_order_date,
       |  date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
       |            CAST(o_orderdate AS DATE)) AS days_since_prev,
       |  CAST(ntile(4) OVER (PARTITION BY o_custkey
       |       ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS spend_quartile,
       |  ${sqlR2(sqlDsumOver("o_totalprice", "wrun"))} AS running_spend
       |FROM orders
       |WINDOW
       |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       |  wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY o_custkey, order_seq""".stripMargin

  /** Value window functions — first_value / last_value / nth_value /
    * cume_dist / dense_rank — with explicit frames and total-order sort
    * keys (last_value over the default frame is current-row-bounded, a
    * classic trap; the explicit ROWS frame pins full-partition semantics
    * in both engines).
    */
  val windowValueFns: Q = (spark, dir) => {
    val o = orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
      .withColumn("first_order_key", first(col("o_orderkey")).over(wFull))
      .withColumn("last_order_key", last(col("o_orderkey")).over(wFull))
      .withColumn("second_order_key", nth_value(col("o_orderkey"), 2).over(wFull))
      .withColumn("cume", r6(cume_dist().over(w)))
      .withColumn("dense_rnk", dense_rank().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))).cast("long"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowValueFnsSql: String =
    s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, o_orderpriority,
       |  first_value(o_orderkey) OVER wf AS first_order_key,
       |  last_value(o_orderkey) OVER wf AS last_order_key,
       |  nth_value(o_orderkey, 2) OVER wf AS second_order_key,
       |  ${sqlR6("cume_dist() OVER w")} AS cume,
       |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS dense_rnk
       |FROM orders
       |WINDOW
       |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Ratio-to-report: each nation's share of its region's revenue via an
    * unordered window total over the region partition — the
    * percent-of-parent shape, one pass over the grouped table with no
    * self-join. The window total sums the rounded per-nation revenues in
    * DECIMAL (dsumOver): a plain double window sum would be
    * partition-order-dependent in the last ulp.
    */
  val windowShare: Q = (spark, dir) => {
    val per = customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .join(orders(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(r2(dsum(col("o_totalprice"))).as("revenue"))
    val w = Window.partitionBy(col("r_name"))
    per
      .withColumn("region_total", r2(dsumOver(col("revenue"), w)))
      .withColumn("share", r6(col("revenue") / dsumOver(col("revenue"), w)))
      .orderBy(col("r_name"), col("n_name"))
  }

  val windowShareSql: String =
    s"""WITH per AS (
       |  SELECT r.r_name, n.n_name,
       |    ${sqlR2(sqlDsum("o.o_totalprice"))} AS revenue
       |  FROM customer c
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  JOIN orders o ON o.o_custkey = c.c_custkey
       |  GROUP BY r.r_name, n.n_name)
       |SELECT r_name, n_name, revenue,
       |  ${sqlR2(sqlDsumOver("revenue", "(PARTITION BY r_name)"))} AS region_total,
       |  ${sqlR6("revenue / " + sqlDsumOver("revenue", "(PARTITION BY r_name)"))} AS share
       |FROM per ORDER BY r_name, n_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_window_value_fns" -> windowValueFns,
    "q_window_rank" -> windowRank,
    "q_window_moving_avg" -> windowMovingAvg,
    "q_window_lag_lead" -> windowLagLead,
    "q_window_share" -> windowShare
  )

  val oracles: Map[String, String] = Map(
    "q_window_value_fns" -> windowValueFnsSql,
    "q_window_rank" -> windowRankSql,
    "q_window_moving_avg" -> windowMovingAvgSql,
    "q_window_lag_lead" -> windowLagLeadSql,
    "q_window_share" -> windowShareSql
  )
}
