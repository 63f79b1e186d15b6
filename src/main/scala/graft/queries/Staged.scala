package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables

/** Per-family staged fact scans (r16, guide §6 + §2.4).
  *
  * Every harness table is a single-file, SINGLE-ROW-GROUP parquet, so a
  * scan stage is ONE task no matter how many cores the session has — and
  * each consumer of a fact table re-pays that serial decode (plus the
  * join/partial-agg work fused into the same stage) on every run. The
  * round-15 fix attempt (repartition after every read) was measured and
  * rejected: per-run, the spread shuffle costs more than the serial
  * decode it parallelizes. Per FAMILY it is a different trade: the
  * projected fact columns are decoded and spread ONCE (inside the timed
  * region of the family's first run — the bench releases all pins at
  * family boundaries and after the uncounted warmup), and every
  * consumer stage of every family query then starts at the session's
  * parallelism from an in-memory columnar scan.
  *
  * At 100 TB this is the staged projection table a report family shares
  * (reference C1 pattern — persist what multiple consumers read); the
  * input split sizing problem this works around is fixture-specific
  * (real inputs are multi-file and scan-parallel by themselves, but the
  * staged projection still saves N−1 decodes of the fat fact table).
  *
  * The spread is hash-on-key (NOT round-robin: keyless repartition pays
  * a sort of the whole input — SPARK-23207 — measured as the reason the
  * per-run spread lost) at the session's default parallelism, so the
  * 8-core and 32-core bench runs each get their own machine-matched
  * width. Row values are untouched: same columns, same rows, and every
  * downstream aggregate in the suite is order-free by the Det
  * convention, so results are bit-identical to the unstaged scan.
  */
object Staged {

  /** Memoized projected+spread scan of `table` under `memoKey:dir`,
    * released at the family boundary / end of sweep (releasePins).
    *
    * Materialized as a localCheckpoint ROW RDD, not a columnar cache:
    * the first staging attempt used Det's `.cache()` pin and every
    * consumer stage paid an InMemoryTableScan columnar decode measured
    * at ~3.4 CPU-s per 600k-row scan — ~10× the pruned PARQUET read it
    * replaced (q_sql_top_supplier warm cpu 1.3 → 13.7 with wall +0.29).
    * The checkpointed blocks iterate as in-memory rows with no decode;
    * Det releases the RDD via unpersistDeep like the dedup fixpoint
    * stages.
    */
  def scan(spark: SparkSession, dir: String, table: String, memoKey: String,
           cols: Seq[String], spreadKey: String): DataFrame =
    Det.memo(spark, s"$memoKey:$dir", cache = false) {
      val n = math.max(1, spark.sparkContext.defaultParallelism)
      Tables.table(spark, dir, table)
        .select(cols.map(col): _*)
        .repartition(n, col(spreadKey))
        .localCheckpoint()
    }

  // ---- the shared-SQL (q_sql) family: one staged lineitem + orders ----

  /** Union of lineitem columns referenced by the q_sql family texts. */
  private val sqlLineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  /** Union of orders columns referenced by the q_sql family texts. */
  private val sqlOrdersCols = Seq(
    "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
    "o_orderpriority", "o_orderstatus")

  /** Register the temp views a shared-SQL text needs. With
    * `stageFacts = true` the two fact tables resolve to the family's
    * staged scans; dimensions always stay plain parquet (their
    * single-task reads are already right-sized). Queries that scan a
    * fact table TWICE behind a selective pushable filter
    * (q_sql_top_supplier's quarter-window revenue CTE ×2,
    * q_sql_correlated_max's decorrelated per-customer max,
    * q_sql_revenue_forecast's tight one-pass filter) keep the raw
    * parquet views — the r16 ONLY-family A/B measured the staged scan
    * at ~+2 CPU-s per full pass vs the pushed parquet read, so the
    * double-scan queries regressed (+0.50 / +0.14 s) while the
    * join-heavy ones won (−0.07..−0.15 s each).
    */
  def registerSqlViews(spark: SparkSession, dir: String, tables: Seq[String],
                       stageFacts: Boolean): Unit =
    tables.foreach {
      case "lineitem" if stageFacts =>
        scan(spark, dir, "lineitem", "classic.li", sqlLineitemCols, "l_orderkey")
          .createOrReplaceTempView("lineitem")
      case "orders" if stageFacts =>
        scan(spark, dir, "orders", "classic.ord", sqlOrdersCols, "o_orderkey")
          .createOrReplaceTempView("orders")
      case t =>
        Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
}
