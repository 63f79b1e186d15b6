package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-factor inflater for the empirical scaling curve (r12 VERDICT
  * #5: every bench datapoint was sf0.1 — the "survives 100×" claims
  * rested on plan inspection alone). Replicates a source sf dir R× with
  * FOREIGN-KEY-CONSISTENT key shifting: replica r adds r·(max key + 1)
  * to every primary key and the SAME offset to every foreign key that
  * references it, so join fan-outs, group cardinalities and key
  * distributions scale linearly while per-key row counts stay constant —
  * the shape a bigger crawl/orderbook actually has. Dimension tables
  * (region, nation) stay fixed, as dimensions do.
  *
  * Embeddings get a tiny deterministic per-replica jitter (±0.002,
  * hash-derived — no RNG, reruns byte-identical) so replicated vectors
  * are near their original (same coarse cluster) without being exact
  * ties; documents replicate text verbatim — a corpus inflated by
  * duplication, which is exactly what the dedup families should be
  * timed against at scale.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> <replicas>
  */
object ScaleData {

  private def offsetOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** Replicate `df` R times, adding r·offset(col) to each listed key
    * column. The replica spine is a broadcast-able R-row range crossed
    * in — one wide scan, no shuffle.
    */
  private def inflate(df: DataFrame, replicas: Int,
                      shifts: Map[String, Long]): DataFrame = {
    val spine = df.sparkSession.range(replicas).toDF("__r")
    val crossed = df.crossJoin(broadcast(spine))
    shifts.foldLeft(crossed) { case (d, (c, off)) =>
      d.withColumn(c, col(c) + col("__r") * lit(off))
    }.drop("__r")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcSfDir> <outDir> <replicas>")
    val Array(src, out, rStr) = args
    val replicas = rStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(cpus, "graft-scale-data").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def w(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")

    // Dimensions ship through unchanged.
    for (d <- Seq("region", "nation"))
      t(d).coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/$d.parquet")

    val offC = offsetOf(t("customer"), "c_custkey")
    val offS = offsetOf(t("supplier"), "s_suppkey")
    val offP = offsetOf(t("part"), "p_partkey")
    val offO = offsetOf(t("orders"), "o_orderkey")
    val offE = offsetOf(t("events"), "event_id")
    val offU = offsetOf(t("events"), "user_id")
    val offD = offsetOf(t("documents"), "doc_id")
    val offV = offsetOf(t("embeddings"), "vec_id")

    w(inflate(t("customer"), replicas, Map("c_custkey" -> offC)), "customer", 2)
    w(inflate(t("supplier"), replicas, Map("s_suppkey" -> offS)), "supplier", 1)
    w(inflate(t("part"), replicas, Map("p_partkey" -> offP)), "part", 2)
    w(inflate(t("orders"), replicas,
      Map("o_orderkey" -> offO, "o_custkey" -> offC)), "orders", 4)
    w(inflate(t("lineitem"), replicas,
      Map("l_orderkey" -> offO, "l_partkey" -> offP, "l_suppkey" -> offS)),
      "lineitem", math.max(4, replicas * 2))
    w(inflate(t("events"), replicas,
      Map("event_id" -> offE, "user_id" -> offU)), "events", 4)
    // Replica documents DIVERGE textually (every token prefixed with the
    // replica tag): each replica carries the base corpus's internal
    // near-dup/exact-dup/phrase structure verbatim, but shares no
    // shingle, hash or term across replicas — so dedup candidate pairs
    // and phrase matches grow LINEARLY with scale, which is what a
    // bigger crawl looks like (duplication RATE constant). Verbatim
    // replication would instead grow near-dup cliques with R and
    // candidate pairs with R² — a corpus pathology measurement, not an
    // engine one. Term-selective queries (phrase search) keep
    // constant-size answers over a growing corpus — the pruning
    // scenario a term-partitioned postings artifact exists for.
    w(t("documents").crossJoin(broadcast(spark.range(replicas).toDF("__r")))
      .withColumn("doc_id", col("doc_id") + col("__r") * lit(offD))
      // Replica 0 IS the source corpus verbatim; replicas keep NULL text
      // NULL (a null doc tagged through transform/concat_ws would turn
      // into an empty string and change the corpus's null profile).
      .withColumn("text", when(col("__r") === 0 || col("text").isNull,
        col("text")).otherwise(
        concat_ws(" ", expr(
          "transform(split(text, ' '), t -> concat('x', CAST(__r AS STRING), t))"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r"), "documents", 2)
    // Embedding jitter: hash-derived ±0.002 per (vec_id, dim) — replicas
    // stay in their original's coarse neighborhood, never exact ties.
    // Replica 0 ships UNCHANGED (gated like the documents path), so the
    // scaled dir contains the source corpus's vectors verbatim.
    w(t("embeddings").crossJoin(broadcast(spark.range(replicas).toDF("__r")))
      .withColumn("vec_id", col("vec_id") + col("__r") * lit(offV))
      .withColumn("embedding", when(col("__r") === 0, col("embedding")).otherwise(expr(
        "transform(embedding, (x, i) -> x + CAST(pmod(vec_id * 31 + i * 7, 5) - 2 AS FLOAT) * CAST(0.001 AS FLOAT))")))
      .drop("__r"), "embeddings", 2)

    val counts = Seq("customer", "orders", "lineitem", "events", "documents",
      "embeddings").map(n => s"$n=${spark.read.parquet(s"$out/$n.parquet").count()}")
    println(s"[scaledata] $out (${replicas}x of $src): ${counts.mkString(", ")}")
    spark.stop()
  }
}
