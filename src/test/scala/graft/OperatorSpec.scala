package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-operator semantics on tiny literal DataFrames (SURVEY.md §5.2):
  * null handling of aggregates, rank ties, range-frame gap behavior,
  * union type alignment — the hazards the oracle comparison punishes.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("aggregates ignore NULLs; count(col) counts non-null only") {
    val df = Seq[(Integer, java.lang.Double)]((1, 1.0), (2, null), (3, 3.0))
      .toDF("k", "v")
    val r = df.agg(count(col("v")), sum(col("v")), avg(col("v"))).collect()(0)
    assert(r.getLong(0) == 2 && r.getDouble(1) == 4.0 && r.getDouble(2) == 2.0)
  }

  test("countDistinct excludes NULL") {
    val df = Seq[(Integer)](1, 2, 2, null.asInstanceOf[Integer]).toDF("v")
    assert(df.agg(countDistinct(col("v"))).collect()(0).getLong(0) == 2)
  }

  test("rank leaves gaps on ties; ties can exceed top-k") {
    val df = Seq(("a", 10), ("a", 10), ("a", 5), ("b", 1)).toDF("cat", "rev")
    val w = Window.partitionBy("cat").orderBy(col("rev").desc)
    val ranks = df.withColumn("r", rank().over(w))
      .filter(col("cat") === "a").select("rev", "r")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(ranks == Set((10, 1), (5, 3))) // two rank-1 ties, then rank 3
  }

  test("integer range frame honors day gaps (value range, not rows)") {
    // days 0,1,2,10 — the 7-day frame at day 10 must see only day 10.
    val df = Seq((0, 1.0), (1, 2.0), (2, 4.0), (10, 8.0)).toDF("day_num", "v")
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    val got = df.withColumn("s", sum(col("v")).over(w))
      .orderBy(col("day_num")).select("s").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 3.0, 7.0, 8.0))
  }

  test("unionAll is positional and keeps duplicates") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((1, "x")).toDF("id", "s")
    assert(a.unionAll(b).count() == 2)
  }

  test("session split at exactly 30min gap boundary is exclusive") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 00:30:00") // gap == 1800s → same session
    val t2 = Timestamp.valueOf("2024-01-01 01:00:01") // gap 1801s → new session
    val df = Seq((1L, 1L, t0, 1.0), (1L, 2L, t1, 1.0), (1L, 3L, t2, 1.0))
      .toDF("user_id", "event_id", "ts", "value")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = df
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seqs = sess.orderBy(col("event_id")).select("session_seq")
      .collect().map(_.getLong(0)).toSeq
    assert(seqs == Seq(1L, 1L, 2L))
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val distinctDoc = (100 to 160).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, distinctDoc))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")).cast("long"))
    docs.createOrReplaceTempView("test_docs")
    // Reuse the production operator by pointing it at a temp parquet dir.
    val dir = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = graft.queries.Dedup.dedupMinHash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("knn brute-force returns k neighbors per query, ranked by cosine") {
    val dir = java.nio.file.Files.createTempDirectory("knn").toString
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = graft.queries.Similarity.knnBrute(spark, dir)
    val byQuery = res.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(byQuery == Set(5L))
    // ranks are 1..5 and cosine non-increasing within query
    val rows = res.filter(col("query_id") === 0).orderBy("rank")
      .select("cosine").collect().map(_.getDouble(0)).toSeq
    assert(rows == rows.sorted.reverse)
  }

  test("a bounded count wait cancels and names only the counts still pending") {
    import scala.concurrent.duration._
    // A count whose one task spins until Spark kills it (capped at 60s).
    val stuck = () => spark.range(0, 1, 1, 1).map { i =>
      val t0 = System.nanoTime()
      while (!org.apache.spark.TaskContext.get().isInterrupted() &&
        System.nanoTime() - t0 < 60e9) Thread.sleep(20)
      i
    }.count()
    val err = intercept[java.util.concurrent.TimeoutException](
      graft.queries.Core.countAll(spark, Seq("region" -> (() => 5L), "lineitem" -> stuck),
        2.seconds))
    assert(err.getMessage.endsWith(": lineitem"), err.getMessage)
    // The abandoned count's job is cancelled, not left running.
    val deadline = System.nanoTime() + 10e9
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "the timed-out count's job is still running")
    assert(graft.queries.Core.countAll(spark, Seq("region" -> (() => 5L)), 1.second) ==
      Seq("region" -> 5L))
  }
}
