package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Subquery surface — EXISTS / NOT EXISTS / IN / scalar / correlated —
  * exercised through the SQL path so Catalyst's subquery decorrelation
  * (RewriteCorrelatedScalarSubquery, RewritePredicateSubquery) does the
  * planning (SURVEY.md §4 listed decorrelation as unexercised; this
  * closes it). One SQL text per query, executed VERBATIM by both Spark
  * (temp views) and the DuckDB oracle.
  *
  * NOT IN is written over a provably NULL-free subquery — the classic
  * three-valued-logic trap (any NULL in the list makes NOT IN never
  * true) is the same in both engines, but keeping the list NULL-free
  * keeps the semantics obvious.
  */
object Subqueries {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  /** Correlated EXISTS + NOT EXISTS: customers with ≥1 urgent order but
    * no F-status order.
    */
  val existsSql: String =
    """SELECT c.c_custkey, c.c_name, c.c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c.c_custkey""".stripMargin

  /** IN / NOT IN over NULL-free key subqueries: parts ordered in urgent
    * orders but never by supplier 1.
    */
  val inNotInSql: String =
    """SELECT p.p_partkey, p.p_brand
      |FROM part p
      |WHERE p.p_partkey IN (SELECT l.l_partkey FROM lineitem l
      |                      JOIN orders o ON l.l_orderkey = o.o_orderkey
      |                      WHERE o.o_orderpriority = '1-URGENT')
      |  AND p.p_partkey NOT IN (SELECT l2.l_partkey FROM lineitem l2
      |                          WHERE l2.l_suppkey = 1)
      |ORDER BY p.p_partkey""".stripMargin

  /** Correlated scalar subquery + uncorrelated scalar subquery: each
    * order's price as a share of its customer's total and of the global
    * max (Det floor-round inlined as portable SQL).
    */
  val scalarSubquerySql: String =
    """SELECT o.o_orderkey, o.o_custkey,
      |  floor(o.o_totalprice / (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
      |                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey) * 1e6 + 0.5) / 1e6
      |    AS share_of_customer,
      |  floor(o.o_totalprice / (SELECT max(o3.o_totalprice) FROM orders o3) * 1e6 + 0.5) / 1e6
      |    AS share_of_max
      |FROM orders o
      |ORDER BY o.o_orderkey""".stripMargin

  /** CORRELATED scalar subquery: each customer's orders at their personal
    * maximum price. Catalyst must decorrelate the per-row aggregate into
    * a grouped join (RewriteCorrelatedScalarSubquery) — the uncorrelated
    * scalars in q_sql_scalar_subquery don't exercise that path. Ties
    * (two orders at the max) surface identically in both engines: the
    * compare is on stored doubles, no arithmetic.
    */
  val correlatedMaxSql: String =
    """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
      |FROM orders o
      |WHERE o.o_totalprice = (SELECT max(o2.o_totalprice)
      |                        FROM orders o2
      |                        WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_sql_exists" -> viaSql(Seq("customer", "orders"), existsSql),
    "q_sql_in_notin" -> viaSql(Seq("part", "lineitem", "orders"), inNotInSql),
    "q_sql_scalar_subquery" -> viaSql(Seq("orders"), scalarSubquerySql),
    "q_sql_correlated_max" -> viaSql(Seq("orders"), correlatedMaxSql)
  )

  val oracles: Map[String, String] = Map(
    "q_sql_exists" -> existsSql,
    "q_sql_in_notin" -> inNotInSql,
    "q_sql_scalar_subquery" -> scalarSubquerySql,
    "q_sql_correlated_max" -> correlatedMaxSql
  )
}
