package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Classic multi-table analytics in the shared-SQL form (one text, both
  * engines verbatim): a selective scan-aggregate, a 3-way
  * join-aggregate-topk, and a SIX-way star join — the first plan in the
  * suite deep enough for Catalyst's join-reorder and DuckDB's optimizer
  * to make genuinely different ordering choices while producing the same
  * rows (SURVEY.md §4 listed join reorder as unexercised by the
  * reference). Det numerics inlined as portable SQL throughout.
  */
object Classic {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  /** Selective scan-aggregate (forecast-revenue shape): one tight filter,
    * one exact-decimal product sum — pushdown does all the work.
    */
  val revenueForecastSql: String =
    """SELECT
      |  floor(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2
      |    AS potential_revenue,
      |  count(*) AS qualifying_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** 3-way join + aggregate + top-k (shipping-priority shape). */
  val shippingPrioritySql: String =
    """SELECT l.l_orderkey,
      |  floor(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2
      |    AS revenue,
      |  CAST(o.o_orderdate AS DATE) AS order_date
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      |GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 20""".stripMargin

  /** SIX-way star join (local-supplier-volume shape): region → nation →
    * customer/supplier → orders → lineitem, with the
    * customer-and-supplier-in-same-nation constraint. Catalyst plans the
    * dimension edges as broadcasts and reorders the rest.
    */
  val localVolumeSql: String =
    """SELECT n.n_name,
      |  floor(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2
      |    AS revenue,
      |  count(*) AS line_count
      |FROM region r
      |JOIN nation n ON n.n_regionkey = r.r_regionkey
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin

  /** Market-share shape (grouped subquery over an EIGHT-way join): the
    * supplier nation's share of PROMO-part revenue sold into ASIA, per
    * order year. The inner query joins part → lineitem → supplier/orders →
    * customer → nation → region (plus the second nation edge for the
    * supplier side) and the outer computes the conditional-sum ratio —
    * the deepest reorder problem in the suite, and the shape where a bad
    * join order (fact-first instead of selective-dimension-first) is
    * catastrophic at 100×.
    */
  val marketShareSql: String =
    """SELECT o_year,
      |  floor((nation_volume / total_volume) * 1e4 + 0.5) / 1e4 AS mkt_share,
      |  floor(total_volume * 1e2 + 0.5) / 1e2 AS total_volume
      |FROM (
      |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |    CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_2'
      |                       THEN l.l_extendedprice * (1.0 - l.l_discount)
      |                       ELSE 0.0 END AS DECIMAL(28,8))) AS DOUBLE) AS nation_volume,
      |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS total_volume
      |  FROM part p
      |  JOIN lineitem l ON l.l_partkey = p.p_partkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n1.n_regionkey
      |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |  WHERE r.r_name = 'ASIA'
      |    AND p.p_type = 'PROMO'
      |    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY year(o.o_orderdate)
      |) t
      |ORDER BY o_year""".stripMargin

  /** Large-volume-order shape (semi-join via IN + grouped HAVING): orders
    * whose total quantity exceeds 250, re-joined to customer detail. The
    * IN subquery decorrelates to a semi-join against a grouped aggregate
    * of the same fact table — at scale the aggregate prunes before the
    * 3-way join runs, so the expensive path only sees qualifying keys.
    * Quantities are integral doubles, so the HAVING sum is exact in both
    * engines.
    */
  val bigOrdersSql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey,
      |  CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice,
      |  floor(CAST(sum(CAST(l.l_quantity AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_qty
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** Top-supplier shape (argmax via scalar subquery over an aggregated
    * CTE): per-supplier revenue over a ship-date window, then the
    * supplier(s) whose revenue EQUALS the maximum of that same CTE —
    * the classic "create view revenue…" pattern. The CTE is referenced
    * twice (detail + scalar max); both engines must evaluate it
    * consistently, and the revenue equality comparison is exact because
    * both sides come through the identical decimal-sum/floor-round
    * pipeline. At scale: one fact shuffle for the aggregate; the scalar
    * max is a broadcast single row.
    */
  val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) * 1e2 + 0.5) / 1e2
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, r.total_revenue
      |FROM supplier s
      |JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_sql_top_supplier" -> viaSql(Seq("supplier", "lineitem"), topSupplierSql),
    "q_sql_revenue_forecast" -> viaSql(Seq("lineitem"), revenueForecastSql),
    "q_sql_shipping_priority" -> viaSql(Seq("customer", "orders", "lineitem"), shippingPrioritySql),
    "q_sql_local_volume" -> viaSql(
      Seq("region", "nation", "customer", "orders", "lineitem", "supplier"), localVolumeSql),
    "q_sql_market_share" -> viaSql(
      Seq("region", "nation", "customer", "orders", "lineitem", "supplier", "part"), marketShareSql),
    "q_sql_big_orders" -> viaSql(Seq("customer", "orders", "lineitem"), bigOrdersSql)
  )

  val oracles: Map[String, String] = Map(
    "q_sql_top_supplier" -> topSupplierSql,
    "q_sql_revenue_forecast" -> revenueForecastSql,
    "q_sql_shipping_priority" -> shippingPrioritySql,
    "q_sql_local_volume" -> localVolumeSql,
    "q_sql_market_share" -> marketShareSql,
    "q_sql_big_orders" -> bigOrdersSql
  )
}
