package graft

/** Plan-shape assertions over the real query suite: the properties that
  * decide 100 TB viability — filters/projections reaching the parquet
  * scan, dimension joins broadcasting, aggregates inside whole-stage
  * codegen, and NO cartesian product anywhere — checked on every
  * registered query, so a regression in plan quality fails CI even while
  * results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("filters and projection are pushed into the parquet scan") {
    val plan = planOf("q_scan_filter_project")
    assert(plan.contains("PushedFilters: ["), s"no pushdown metadata:\n$plan")
    assert(!plan.replaceAll("\\s", "").contains("PushedFilters:[]"),
      s"filter list pushed down empty:\n$plan")
    // Projection pruning: the scan must not read the full 11-column
    // lineitem schema (the query needs 7).
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1).split(",").length).getOrElse(Int.MaxValue)
    assert(scanCols <= 8, s"scan reads $scanCols of 11 lineitem columns:\n$plan")
  }

  test("fact tables are read in place, not from a per-family copy") {
    // Reading the columnar files directly keeps column pruning and filter
    // pushdown; an in-memory row copy of a fact table (Scan ExistingRDD)
    // has neither and is lost with its executor.
    for (q <- Seq("q_agg_customer", "q_sql_big_orders", "q_sql_exists",
                  "q_events_funnel", "q_events_json")) {
      val plan = planOf(q)
      assert(plan.contains("FileScan parquet"), s"$q reads no parquet:\n$plan")
      assert(!plan.contains("Scan ExistingRDD"), s"$q reads a row copy:\n$plan")
    }
  }

  test("star-join dimensions broadcast") {
    val plan = planOf("q_sql_local_volume")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$plan")
  }

  test("aggregation pipelines run inside whole-stage codegen") {
    for (q <- Seq("q_agg_customer", "q_agg_product", "q_sql_pricing_summary")) {
      // Codegen wrapping only shows in the FINAL adaptive plan — execute
      // THIS df's own queryExecution first (count() would plan a separate
      // execution and leave this one initial).
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("codegen id"), s"$q left codegen:\n$plan")
    }
  }

  test("native text-hash kernels stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    // r3 gap: MinHashSig/SimHash32 were CodegenFallback, breaking the
    // enclosing stage out of codegen for every dedup-pipeline scan. The
    // projection computing them must now print as a `*(n)`-starred
    // (codegen'd) node.
    val df = Tables.documents(spark, sfDir)
      .withColumn("sh", split(col("text"), " "))
      .select(col("doc_id"), expr("minhash_sig(sh)").as("sig"), expr("simhash32(sh)").as("fp"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("minhash_sig"))
      .getOrElse(fail(s"no minhash_sig node in plan:\n$plan"))
    assert(line.trim.startsWith("*("), s"text-hash projection left codegen:\n$plan")
  }

  test("BM25 top-k aggregates in two stages (partial caps the shuffle)") {
    // The bounded TopKTerms aggregator must plan as partial + final
    // aggregation: the shuffle then carries ≤k rows per (partition, doc)
    // instead of every scored term (r3's window-rank formulation).
    val plan = planOf("q_text_bm25")
    assert(plan.contains("partial_topkterms"),
      s"no partial top-k stage — shuffle ships the full term set:\n$plan")
    assert(!plan.contains("Window"), s"window-rank formulation crept back:\n$plan")
  }

  test("vocab top-50 plans a bounded TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition bounded top-k for the vocabulary limit:\n$plan")
  }

  test("sequence packing reuses the window's partitioning for the aggregate") {
    // The groupBy(source, seq_id) after the per-source window must NOT
    // add a shuffle: it is co-partitioned with the window's hash
    // exchange on source. Expected exchanges: window input + output
    // sort — exactly two. A third means Catalyst stopped recognizing
    // the co-partitioning and the operator shuffles the exploded
    // (doc × sequence) fan-out at full volume.
    val plan = planOf("q_pack_sequences")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"packing plans $exchanges exchanges (want 2):\n$plan")
  }

  test("diversity selection broadcasts the doc side and shares one cluster sort") {
    val plan = planOf("q_select_diverse")
    assert(plan.contains("BroadcastHashJoin"),
      s"doc/embedding join stopped broadcasting:\n$plan")
    // Both windows (rank + cell count) run off the same label sort.
    val sorts = "Sort ".r.findAllIn(plan).length
    assert(sorts <= 2, s"windows re-sort per function ($sorts sorts):\n$plan")
  }

  test("df-capped dedup verify joins broadcast the survivors (no shingle sort)") {
    // The optimizer's post-aggregate row estimate used to plan a
    // shuffle+sort of the shingle-array table for the exact-verify
    // joins; the explicit broadcast hint pins the cheap shape (r7).
    val plan = planOf("q_dedup_ngram_capped")
    val tail = plan.substring(plan.indexOf("array_intersect") max 0)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast verify joins:\n$plan")
    assert(!tail.contains("SortMergeJoin"),
      s"exact-verify join must not sort-merge the shingle table:\n$plan")
    queries.Det.releasePins(spark)
  }

  test("survivors broadcast hint is gated: dense-corpus fallback keeps semantics") {
    // Above spark.graft.dedup.survivorsBroadcastMaxRows the hint is
    // dropped so a near-dup-dense corpus degrades to a shuffled join
    // instead of collecting the survivors to the driver. Semantics must
    // be identical either way; forcing the threshold to 0 exercises the
    // fallback path on the same data.
    val hinted = SparkEntry.queries("q_dedup_ngram_capped")(spark, sfDir).collect().toSeq
    spark.conf.set("spark.graft.dedup.survivorsBroadcastMaxRows", "0")
    try {
      val unhinted = SparkEntry.queries("q_dedup_ngram_capped")(spark, sfDir)
      assert(unhinted.collect().toSeq == hinted,
        "gated (no-hint) plan must return the identical pair set")
    } finally {
      spark.conf.unset("spark.graft.dedup.survivorsBroadcastMaxRows")
      queries.Det.releasePins(spark)
    }
  }

  test("IVF queries share one staged centroid table (warm plan reads the memo)") {
    // Four registered queries consume the per-(label, dim) centroids;
    // the shared memo means a warm consumer's plan reads the cache
    // instead of re-running the embedding explode + aggregation.
    queries.Det.releasePins(spark)
    SparkEntry.queries("q_knn_ivf")(spark, sfDir).collect() // builds the memo
    val warm = SparkEntry.queries("q_knn_ivf_mp")(spark, sfDir)
    warm.collect()
    val plan = warm.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"multi-probe IVF must read the staged centroids:\n$plan")
    queries.Det.releasePins(spark)
  }

  test("BPE reduction is a join-free codegen map over the vocabulary") {
    // The literal merge table compiles to a replace() chain — a learned
    // rules JOIN here would mean the quadratic lazy formulation came
    // back (r7: it made q_pack_bpe2 the most expensive query).
    // A range-derived vocabulary: a local Seq would constant-fold the
    // whole reduction into a LocalTableScan and prove nothing.
    val wcount = spark.range(0, 100)
      .selectExpr("concat('word', CAST(id % 7 AS STRING)) AS word", "1L AS one")
      .groupBy("word").agg(org.apache.spark.sql.functions.sum("one").as("wcnt"))
    val rules = queries.TextOps.bpeLearnRules(wcount, rounds = 2, perRound = 2)
    val df = queries.TextOps.bpeReduce(wcount, rules)
    df.collect() // codegen wrapping only shows in the FINAL adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"BPE reduce must not join:\n$plan")
    assert(plan.contains("*("), s"BPE reduce left whole-stage codegen:\n$plan")
  }

  test("partition filters prune a partitioned layout at plan time") {
    import org.apache.spark.sql.functions._
    // Hive-style partition layout on the high-cardinality-scan side: at
    // 100 TB, partitioning events by type/date means a filtered read
    // lists only matching directories — the scan never touches the rest.
    val dir = java.nio.file.Files.createTempDirectory("events_part").toString
    Tables.events(spark, sfDir).write
      .partitionBy("event_type").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filter metadata:\n$plan")
    assert(plan.contains("event_type"), s"partition filter lost:\n$plan")
    assert(!plan.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"partition filter list empty — scan reads every partition:\n$plan")
    // And the pruned read returns exactly the filtered rows.
    val expected = Tables.events(spark, sfDir).filter(col("event_type") === "click").count()
    assert(df.count() == expected)
  }

  test("quality model and URL canonicalization stay scan-shaped (minimal exchanges)") {
    // qualityModel is a pure per-row map + canonical sort: exactly one
    // (range) exchange. A hash-agg shuffle appearing here means the
    // scorer stopped being a scan-speed map — the property that lets it
    // run over 100 TB at read throughput.
    val qm = planOf("q_quality_model")
    assert("Exchange".r.findAllIn(qm).length <= 1,
      s"quality model gained a shuffle:\n$qm")
    // urlCanon: the exact count(DISTINCT url) plans the standard
    // two-phase distinct aggregate (exchange on (canon_url, url), then
    // on canon_url) + the canonical sort — 3 exchanges, nothing else.
    val uc = planOf("q_url_canon")
    assert("Exchange".r.findAllIn(uc).length <= 3,
      s"url canonicalization plans extra shuffles:\n$uc")
  }

  test("contamination bloom pre-pass probes inside codegen before the exact join") {
    // The probe must be a codegen'd Filter on the train-gram side (a
    // constant-bloom predicate evaluated at scan speed), with the exact
    // broadcast semi-join still behind it to kill false positives.
    // Codegen wrapping only shows in the FINAL adaptive plan — execute
    // this df's own queryExecution first (same idiom as the agg test).
    val df = SparkEntry.queries("q_text_contamination_bloom")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val probeLines = plan.linesIterator
      .filter(l => l.contains("might_contain") && l.contains("Filter")).toSeq
    assert(probeLines.nonEmpty, s"no bloom probe Filter in plan:\n${plan.take(4000)}")
    assert(probeLines.exists(_.contains("*(")),
      s"bloom probe left whole-stage codegen:\n${probeLines.mkString("\n").take(4000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"exact verify join no longer broadcasts:\n${plan.take(4000)}")
  }

  test("random projection: matrix broadcasts in the artifact build, query serves the artifact") {
    // The 16×64 projection matrix is 1024 rows — in the BUILD it must
    // ride a broadcast into the exploded-dims join, never shuffle the
    // corpus side on `i`...
    val build = graft.queries.Similarity.rpProjectInSession(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastHashJoin"),
      s"projection matrix join is not broadcast:\n$build")
    // ...and the QUERY no longer derives at all (r12): it scans the
    // persisted projection and still broadcasts its probe-side joins.
    val plan = planOf("q_embed_rp")
    assert(plan.contains(graft.ext.RpIndex.defaultDir(sfDir)),
      s"q_embed_rp must serve from the persisted projection:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe joins must broadcast:\n$plan")
  }

  test("boilerplate rewrite broadcasts the hot-segment set back to the corpus") {
    // The df≥3 hot set is tiny (~dozens of segments); the rewrite join
    // must broadcast it, not shuffle the exploded corpus a second time.
    val plan = planOf("q_text_boilerplate")
    assert(plan.contains("BroadcastHashJoin"), s"hot set not broadcast:\n$plan")
  }

  test("shard shuffle plans one hash exchange (window) plus the output sort only") {
    val plan = planOf("q_shard_shuffle")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"shard shuffle plans $exchanges exchanges (expected window + sort):\n$plan")
    assert(plan.contains("Window"), s"no window for pos_in_shard:\n$plan")
  }

  test("stratified sample aggregates in two stages (partial caps the shuffle at k)") {
    // Same bounded top-k discipline as BM25: the shuffle must carry ≤ k
    // draws per (partition, stratum), never the stratum population.
    val plan = planOf("q_sample_stratified")
    assert(plan.contains("partial_minkdraws"),
      s"no partial sampling stage — shuffle ships whole strata:\n$plan")
    assert(!plan.contains("Window"), s"window-rank formulation crept back:\n$plan")
  }

  test("fuzzy join evaluates the edit distance LAST in the pair condition") {
    // And short-circuits left-to-right: the banded levenshtein must sit
    // after the id-order and length-window conjuncts, or it runs on every
    // prefix-collision pair (including the doc_a ≥ doc_b half) — observed
    // as a 9× query cost before the condition was ordered explicitly.
    val plan = planOf("q_dedup_fuzzy")
    val cond = plan.linesIterator.find(l => l.contains("Join") && l.contains("levenshtein"))
      .getOrElse(fail(s"no join condition carries the edit distance:\n$plan"))
    val lev = cond.indexOf("levenshtein")
    assert(cond.indexOf("<") < lev && cond.indexOf("abs(") < lev,
      s"edit distance not last in the join condition:\n$cond")
  }

  test("z-order layout broadcasts the 1-row bounds and stays two-exchange") {
    // bounds ride a broadcast nested-loop into the scan (never a shuffle);
    // after that the whole query is the grouping exchange + output sort.
    // The bounds aggregate itself contributes no data-sized exchange (its
    // input partials are 4 values per task).
    val plan = planOf("q_zorder_layout")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bounds row not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"bounds join shuffled:\n$plan")
  }

  test("CMS probe and sketch joins broadcast (counter table never shuffles the corpus)") {
    val plan = planOf("q_sketch_cms")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"CMS joins not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"512-row sketch join planned a shuffle join:\n$plan")
  }

  test("phrase-search lookup legs are broadcast term filters, not corpus shuffles") {
    // Each postings leg is equi-joined against a 1-row broadcast phrase
    // frame BEFORE the doc/pos alignment joins — the plan must show
    // broadcast hash joins feeding the alignment, and the alignment
    // itself joins only term-selective postings.
    val plan = planOf("q_phrase_search")
    assert(plan.contains("BroadcastHashJoin"),
      s"phrase term filters not broadcast:\n$plan")
  }

  test("sketch aggregations combine map-side (register/histogram partials cap the shuffle)") {
    // The sketches' whole point at scale: partials ship ≤ m rows per
    // (partition, source) through the exchange regardless of token
    // count. partial_max/partial_count in the plan IS that guarantee.
    val hll = planOf("q_sketch_hll")
    assert(hll.contains("partial_max"),
      s"HLL registers must combine map-side:\n$hll")
    val qq = planOf("q_sketch_quantile")
    assert(qq.contains("partial_count"),
      s"histogram must combine map-side:\n$qq")
    assert(qq.contains("BroadcastNestedLoopJoin") || qq.contains("BroadcastExchange"),
      s"the 1-row global bounds must broadcast:\n$qq")
  }

  test("served ANN scans push the probed-cluster filter into the inverted-list layout") {
    // v5 layout: membership and res_codes are cluster-range-partitioned
    // and the serve prefilters them to the query batch's probed
    // clusters — the literal IN must reach the parquet scan (parquet
    // min/max then skips every non-probed file; the 100 TB serve reads
    // ~nprobe/k of the lists instead of scanning and discarding).
    graft.ext.AnnIndex.ensure(spark, sfDir, graft.ext.AnnIndex.defaultIndexDir(sfDir))
    for (q <- Seq("q_knn_served", "q_knn_served_res")) {
      val plan = planOf(q)
      assert(plan.contains("PushedFilters: [In(cluster"),
        s"$q must push the probed-cluster IN filter into the artifact scan:\n$plan")
    }
    graft.queries.Det.releasePins(spark)
  }

  test("no query in the suite plans a cartesian product") {
    // Broadcast nested-loop joins against tiny probe/block-pair sets are
    // legitimate; an actual CartesianProduct (both sides shuffled, n×m)
    // never is.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = planOf(name)
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
