package graft

/** Empirical scaling curve (r12 VERDICT #5): run the headline families
  * at several scale factors and emit per-query sf-to-sf wall ratios
  * next to the data ratio, so "survives a scale-up" is a measurement,
  * not a plan-inspection argument. A query scaling ≈ linearly in input
  * has ratio ≈ data ratio (modulo fixed per-query overhead, which
  * DEFLATES the ratio at these sizes); anything super-linear by more
  * than `SUPERLINEAR_SLACK` is named in the output.
  *
  * The sweep reuses the exact `SparkEntry.queries` bodies the oracle
  * verifies at sf0.01 and Bench times at sf0.1 — same plans, bigger
  * inputs. Serving queries (q_knn_served*, q_phrase_search,
  * q_knn_rp_rerank) build their artifacts on the first run (the
  * artifact dirs are keyed by corpus path, so each sf gets its own);
  * min-of-N reports the warm serve, as in Bench.
  *
  * Usage: runMain graft.BenchScale <dir1> <dir2> ... (first dir is the
  * ratio base). Writes BENCH_SCALE.json (override via
  * SPARK_GRAFT_BENCH_SCALE) and prints the same JSON to stdout.
  */
object BenchScale {

  /** One query per major engine shape — scan-agg, distinct-agg,
    * broadcast star join, shuffle join, SQL subquery chain, window
    * (rank + RANGE frame), event sessionization, text scan, sketch
    * aggregate, exact dedup, LSH near-dup pair search, connected
    * components, brute/served ANN, postings phrase search, RP rerank,
    * sequence packing.
    */
  val ScaleQueries: Seq[String] = Seq(
    "q_scan_filter_project", "q_agg_customer", "q_agg_time",
    "q_global_counts", "q_join_3way", "q_join_multikey",
    "q_sql_pricing_summary", "q_sql_big_orders", "q_sql_market_share",
    "q_window_rank", "q_window_moving_avg", "q_events_session",
    "q_events_tumbling", "q_text_stats", "q_text_langid",
    "q_sketch_hll", "q_sketch_quantile", "q_dedup_exact",
    // containment rides its CAPPED variant here: the uncapped exact
    // detector measured 47 s / 67× at sf10 (the high-df d² term) — the
    // capped twin is the 100 TB path, same as minhash vs exact ngram.
    "q_dedup_minhash", "q_dedup_groups", "q_dedup_fuzzy",
    "q_dedup_containment_capped", "q_knn_brute", "q_knn_served_pq",
    "q_phrase_search", "q_bm25_search", "q_lm_score", "q_knn_rp_rerank",
    // The artifact-served contamination check: its corpus side is a
    // contamgrams scan (gram-count-scale — the largest serving table),
    // exactly what a 100× corpus stresses.
    "q_text_contamination_served",
    "q_pack_sequences")

  private val SuperlinearSlack = 1.5

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchScale <sfDir1> <sfDir2> ...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val n = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val spark = GraftSession.builder(cpus, "graft-bench-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // A ScaleQueries name absent from the registry is a bug (typo or a
    // renamed query), not a query to silently drop — a shrunk sweep would
    // read as "covered" (the repo's no-silent-caps bench principle).
    val unknown = ScaleQueries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"ScaleQueries name(s) not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val sweep = ScaleQueries.filter(q => only.forall(q.startsWith))
    def label(dir: String) = dir.split("/").last

    // dir -> (rows(lineitem+documents+events), query -> best sec)
    val results: Seq[(String, Long, Seq[(String, Double)])] = args.toSeq.map { dir =>
      val rows = Seq("lineitem", "events", "documents")
        .map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
      // Warmup per dir (uncounted): scan + shuffle + codegen paths.
      try SparkEntry.queries("q_agg_customer")(spark, dir).count()
      catch { case _: Throwable => () }
      val times = sweep.map { q =>
        val fn = SparkEntry.queries(q)
        val best = (1 to n).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        System.err.println(s"[scale] ${label(dir)} $q ${fmt(best)}s")
        (q, best)
      }
      graft.queries.Det.releasePins(spark)
      (dir, rows, times)
    }

    val (baseDir, baseRows, baseTimes) = results.head
    val baseMap = baseTimes.toMap
    val perSf = results.map { case (dir, rows, times) =>
      val qjs = times.map { case (q, s) => s""""$q":${fmt(s)}""" }.mkString(",")
      s""""${label(dir)}":{"dir":"$dir","rows":$rows,"total":${fmt(times.map(_._2).sum)},"queries":{$qjs}}"""
    }.mkString(",")
    // Per-query time ratio vs the base dir, next to the data ratio.
    val ratioJs = results.tail.map { case (dir, rows, times) =>
      val dataRatio = rows.toDouble / baseRows
      val qjs = times.map { case (q, s) =>
        s""""$q":${fmt(s / math.max(baseMap(q), 1e-3))}"""
      }.mkString(",")
      val superlinear = times.collect {
        case (q, s) if s / math.max(baseMap(q), 1e-3) > dataRatio * SuperlinearSlack => q
      }
      val slJs = superlinear.map(q => s""""$q"""").mkString("[", ",", "]")
      s""""${label(dir)}":{"data_ratio":${fmt(dataRatio)},"time_ratio_total":${fmt(
        times.map(_._2).sum / baseTimes.map(_._2).sum)},"superlinear":$slJs,"time_ratios":{$qjs}}"""
    }.mkString(",")
    val out = s"""{"metric":"scale_curve","base":"${label(baseDir)}","n":$n,"cpus":$cpus,"sfs":{$perSf},"vs_base":{$ratioJs}}"""
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "BENCH_SCALE.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (out + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[scale] write failed: $e") }
    try spark.stop() catch { case _: Throwable => () }
    println(out)
  }
}
