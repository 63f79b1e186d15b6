package graft

import org.apache.spark.sql.functions._
import graft.queries.Dedup

/** Connected components: correctness on multi-component graphs and the
  * pointer-jumping round bound — a planted chain of length n must
  * converge in O(log n) rounds, not O(n) (the property that keeps a
  * long-chain component from costing 40 shuffle rounds at scale).
  */
class DedupGroupsSpec extends SparkSpec {

  test("chain converges in O(log n) rounds with pointer jumping") {
    import spark.implicits._
    // 0-1-2-...-15: diameter 15. Plain propagation needs ~15 rounds;
    // doubling must finish in ≤ ceil(log2(15)) + 2 = 6. A union-find
    // limit of 0 runs the rounds on this small graph; by default its 31
    // staged edges take the one-task union-find.
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.connectedComponents(edges, maxLocalEdges = 0L)
    val lbls = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbls.size == 16 && lbls.values.forall(_ == 0L),
      s"single chain component labeled by its min: $lbls")
    assert(rounds <= 6, s"pointer jumping should need ≤6 rounds for diameter 15, took $rounds")
    assert(rounds >= 2, s"expected the pointer-jumping rounds, took $rounds round(s)")
    labels.unpersist()
    val (ufLabels, ufRounds) = Dedup.connectedComponents(edges)
    assert(ufRounds == 1, s"expected the one-task union-find, took $ufRounds round(s)")
    assert(ufLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == lbls)
    ufLabels.unpersist()
  }

  test("disjoint components get distinct min labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("src", "dst")
    val (labels, _) = Dedup.connectedComponents(edges)
    val lbls = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(lbls(_) == 1L))
    assert(Seq(10L, 11L).forall(lbls(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(lbls(_) == 20L))
    labels.unpersist()
  }

  test("durable (parquet-checkpoint) variant agrees with the local one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("src", "dst")
    val (labels, rounds) = Dedup.connectedComponentsDurable(edges, dir)
    val lbls = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(lbls(_) == 1L))
    assert(Seq(10L, 11L).forall(lbls(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(lbls(_) == 20L))
    // Labels AND the symmetrized edge list really live on durable
    // storage (the 100 TB recovery story: every fixpoint input replays
    // from parquet, with no lineage into the upstream pair pipeline).
    assert(new java.io.File(s"$dir/labels_${rounds % 2}").exists())
    assert(new java.io.File(s"$dir/edges").exists())
  }

  /** Component min labels by BFS over an undirected edge list. */
  private def bfsLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var labels = Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !labels.contains(start)) {
      // Ascending starts: the first unlabelled vertex is its component's min.
      var frontier = List(start)
      labels += start -> start
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).filterNot(labels.contains).distinct
        frontier.foreach(v => labels += v -> start)
      }
    }
    labels
  }

  /** A seeded random graph with duplicate edges, reversed duplicates and
    * self-loops: `nEdges` random edges over `nVertices` ids (offset so
    * ids are not dense from 0), plus a copy of every 7th edge, a
    * reversal of every 5th and a self-loop on every 11th.
    */
  private def randomGraph(seed: Long, nVertices: Int, nEdges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(nEdges)(
      (1000L + rnd.nextInt(nVertices), 1000L + rnd.nextInt(nVertices)))
    base ++ base.grouped(7).map(_.head) ++ base.grouped(5).map(_.head.swap) ++
      base.grouped(11).map { g => (g.head._1, g.head._1) }
  }

  /** Both variants must label `edges` as BFS does: by the union-find
    * (default limit) and, if `fixpoint`, by the pointer-jumping rounds
    * too (limit 0).
    */
  private def assertLabelsMatchBfs(edges: Seq[(Long, Long)], fixpoint: Boolean): Unit = {
    import spark.implicits._
    val expected = bfsLabels(edges)
    val df = edges.toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("cc_random").toString
    val paths = Seq("union-find" -> Long.MaxValue) ++
      (if (fixpoint) Seq("fixpoint" -> 0L) else Nil)
    for ((path, limit) <- paths;
         (variant, run) <- Seq[(String, () => (org.apache.spark.sql.DataFrame, Int))](
           "local" -> (() => Dedup.connectedComponents(df, limit)),
           "durable" -> (() => Dedup.connectedComponentsDurable(df, dir, limit)))) {
      val (labels, rounds) = run()
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"$variant $path labels differ from BFS on ${got.size} vertices")
      assert((rounds >= 2) == (path == "fixpoint"), s"$variant $path took $rounds round(s)")
      labels.unpersist()
    }
  }

  test("random graph, ~5k staged edges: union-find labels equal BFS's, both variants") {
    // ~2.3k edges over 3k ids: a mix of trees, cycles and singletons.
    // The rounds are not run here: on a graph this sparse they grow with
    // the diameter (18-26 rounds by simulation, against maxRounds 25)
    // and the local variant's plan statistics square every round, the
    // open fixpoint defect recorded in ROADMAP.md.
    assertLabelsMatchBfs(randomGraph(seed = 11L, nVertices = 3000, nEdges = 1600),
      fixpoint = false)
  }

  test("random graph, ~100k staged edges: union-find and fixpoint labels equal BFS's, both variants") {
    // 40k random edges over 20k vertices (+ duplicates, reversals,
    // self-loops) stage ~100k edges: two partitions of fixpoint work.
    // Average degree 4 keeps the diameter short: on random ids the
    // rounds grow with the diameter, not its log, and a sparser graph
    // (60k ids, 40k edges) needs more rounds than maxRounds allows.
    assertLabelsMatchBfs(randomGraph(seed = 12L, nVertices = 20000, nEdges = 40000),
      fixpoint = true)
  }

  test("non-bigint or null edge ids fail loudly in both variants") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_bad").toString
    val ints = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val nulls = Seq((1L, Some(2L)), (3L, None)).toDF("src", "dst")
    for (bad <- Seq(ints, nulls)) {
      intercept[Dedup.EdgeIdException](Dedup.connectedComponents(bad))
      intercept[Dedup.EdgeIdException](Dedup.connectedComponentsDurable(bad, dir))
    }
  }

  test("df-capped postings prune candidates, never invent pairs") {
    val sfDir = "/root/testdata/sf0.001"
    def pairs(q: String) = Dedup.queries(q)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs("q_dedup_ngram")
    val capped = pairs("q_dedup_ngram_capped")
    assert(capped.subsetOf(full),
      s"capping added pairs: ${capped.diff(full)}")
    graft.queries.Det.releasePins(spark)
  }

  test("planted skew: boilerplate-only pairs pruned, true dups with boilerplate survive via the hd bound") {
    // The sf0.001/sf0.01 corpora are unskewed (max df ≤ 9), so on them
    // the hd table is empty and the capped path degenerates to the
    // ground-truth plan (the r6 #5 adaptive bypass). This fixture is the
    // skew case that path exists for: a 12-token boilerplate sentence in
    // 27 docs puts its internal shingles over the df=20 cap.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    val boiler = "zebra yak xray walrus vulture toad snake rhino quail panda otter newt"
    val tail = "alpha beta gamma delta epsilon"
    val docs =
      // 25 docs that ARE the boilerplate: every pair has true Jaccard
      // 1.0 but shares no rare shingle — the documented deliberate miss.
      (1L to 25L).map(i => (i, boiler)) ++
        // Identical twins carrying boilerplate + a unique tail: their
        // rare-only shared count (5) bounds Jaccard at 0.2, so ONLY the
        // hd addback (10 high-df shingles each) lets the upper bound
        // pass and the exact verify recover jac = 1.0.
        Seq((100L, s"$boiler $tail"), (101L, s"$boiler $tail"))
    docs.map { case (id, t) => (id, t, "en", s"src${id % 4}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val capped = Dedup.queries("q_dedup_ngram_capped")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((100L, 101L)),
      s"expected only the rare-sharing twin pair, got ${capped.keySet}")
    assert(capped((100L, 101L)) == 1.0, "exact verify must score the full shingle sets")
    // The uncapped ground truth sees all 300 boiler pairs too — the
    // capped variant's miss is the skew guard working, not a bug.
    val full = Dedup.queries("q_dedup_ngram")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size == 301 && full.contains((100L, 101L)),
      s"ground truth should hold 300 boiler pairs + the twins, got ${full.size}")
    graft.queries.Det.releasePins(spark)
  }

  test("containment catches a quoted passage that Jaccard misses") {
    import spark.implicits._
    // Doc 2 is a verbatim 10-token span of doc 1: every one of its 8
    // shingles is in doc 1's set (containment = 1.0), but the union is
    // dominated by doc 1 (jaccard = 8/38 ≈ 0.21) — a jaccard-0.8 dedup
    // keeps both copies and the span trains twice.
    val long = (0 until 40).map(i => s"w$i").mkString(" ")
    val quote = (10 until 20).map(i => s"w$i").mkString(" ")
    val other = (0 until 30).map(i => s"z$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, long), (2L, quote), (3L, other))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.dedupContainment(spark, dir).collect()
    assert(rows.length == 1, s"exactly the planted pair: ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("contained_doc") == 2L, "the quote is the contained side")
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Boolean]("jaccard_missed"),
      s"the pair must sit below the jaccard threshold: $r")
    graft.queries.Det.releasePins(spark)
  }

  test("incremental dedup: new-vs-old and new-vs-new, old never re-paired") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val t3 = "red green blue yellow purple orange"
    Seq(
      (1L, t1, "en", "src0", t1.length.toLong),   // standing corpus
      (2L, t1, "en", "src1", t1.length.toLong),   // old dup of old — must NOT appear
      (101L, t1, "en", "src15", t1.length.toLong), // new, dups old doc 1
      (102L, t2, "en", "src15", t2.length.toLong), // new, unique
      (103L, t3, "en", "src16", t3.length.toLong), // new, survivor of 103/104
      (104L, t3, "en", "src16", t3.length.toLong)) // new, dups earlier new 103
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.queries("q_dedup_incremental")(spark, dir).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))
      .toMap
    // Only the increment is reported — old docs never re-pair.
    assert(rows.keySet == Set(101L, 102L, 103L, 104L))
    assert(rows(101L) == (Some(1L), false)) // min match: old doc 1, not old doc 2
    assert(rows(102L) == (None, true))
    assert(rows(103L) == (None, true))     // earlier id survives its new-new pair
    assert(rows(104L) == (Some(103L), false))
    graft.queries.Det.releasePins(spark)
  }

  test("pagerank: hub of a planted star out-ranks leaves, mass conserved") {
    import spark.implicits._
    // Star 1—{2,3,4}: hub degree 3, leaves degree 1. Hand iteration 1
    // from uniform 1/4: hub ← 0.15/4 + 0.85·(3·0.25) = 0.675.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val r1 = Dedup.pagerank(sym, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // Tolerance: contribution sums pass through DECIMAL(28,8) (order-free
    // determinism), so each is quantized to 5e-9 — e.g. 0.25/3 reaches
    // the hub as 0.08333333 exactly, not 0.08333… repeating.
    assert(math.abs(r1(1L) - 0.675) < 1e-7)
    assert(math.abs(r1(2L) - (0.0375 + 0.85 * 0.25 / 3.0)) < 1e-7)
    val r5 = Dedup.pagerank(sym, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(r5.values.sum - 1.0) < 1e-6, s"mass ${r5.values.sum}")
    assert(r5(1L) > r5(2L) && r5(2L) == r5(3L) && r5(3L) == r5(4L))
  }

  test("converged pagerank agrees with the fixed-iteration form at equal rounds") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L)).toDF("src", "dst")
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val (converged, rounds) = Dedup.pagerankConverged(sym, tol = 1e-4)
    assert(rounds > 1 && rounds < 120, s"rounds=$rounds")
    val a = converged.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = Dedup.pagerank(sym, iters = rounds).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a.keySet == b.keySet)
    // Same expressions, same round count — checkpointing must not change
    // a single bit.
    a.foreach { case (k, v) => assert(v == b(k), s"node $k: $v vs ${b(k)}") }
    assert(math.abs(a.values.sum - 1.0) < 1e-6)
    assert(a(1L) > a(2L)) // star hub still dominates at convergence
  }

  test("pagerank at volume: 60k-leaf star concentrates rank on the hub") {
    val star = spark.range(0, 60000)
      .selectExpr("CAST(100000 AS BIGINT) AS src", "id AS dst")
    val sym = star.union(star.selectExpr("dst AS src", "src AS dst"))
    val t0 = System.nanoTime()
    val ranks = Dedup.pagerank(sym, iters = 5).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val hub = ranks.find(_.getLong(0) == 100000L).get.getDouble(2)
    val maxLeaf = ranks.filter(_.getLong(0) != 100000L).map(_.getDouble(2)).max
    // Mass alternates hub↔leaves with damping; after 5 rounds the hub
    // holds ~0.66 of all rank and each leaf ~5e-6.
    assert(hub > 0.2, s"hub=$hub")
    assert(hub > 1000 * maxLeaf, s"hub=$hub maxLeaf=$maxLeaf")
    assert(math.abs(ranks.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    assert(secs < 120, s"5 rank iterations over 120k edges took $secs s")
  }

  test("pagerank on the harness near-dup graph: cliques rank uniformly") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Dedup.queries("q_graph_pagerank")(spark, sfDir).collect()
    assert(rows.nonEmpty, "expected a near-dup graph at sf0.001")
    // Every near-dup component is a clique ⇒ each node receives exactly
    // its own rank back ⇒ the fixpoint is uniform 1/|V| — verifying the
    // implementation reproduces the closed-form answer, r6-rounded.
    val n = rows.length.toDouble
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("pagerank") - 1.0 / n) < 5e-7)
    }
    graft.queries.Det.releasePins(spark)
  }

  test("fixpoint at volume: 10^5 edges — chain + star + many small components") {
    // The r3 gap: nothing stressed the fixpoint past ~50 edges. Planted
    // shape: a 10k-vertex chain (diameter 10k — the pointer-jumping
    // stress), a 60k-leaf star (one huge shallow component — the skew
    // stress), 15k disjoint pairs (label-table width) ≈ 10^5 edges.
    // The graph is far under the union-find's limit, so limit 0 makes
    // both it and the calibration run the pointer-jumping rounds.
    // Machine calibration: the same fixpoint machinery (scheduler,
    // codegen-per-round, checkpoint staging) on a 300-edge chain. The
    // volume budget scales off this instead of a wall-clock constant —
    // an absolute 90s bound flaked 1.3–3.3× on an externally-slowed
    // host with IDENTICAL code (r7; same noise class as the r6 driver
    // bench contamination). A real scheduling-overhead regression
    // inflates the big run far more than the 300-edge one (more rounds,
    // more tasks per round), so the ratio keeps the regression signal.
    // Calibrated on BOTH sides of the volume run (a contention burst
    // hitting only the middle would otherwise break the ratio) and
    // budgeted at 15× the slower calibration: a healthy host budgets
    // ~90-135s against a ~60-80s run, so a 3× scheduling regression
    // still fails, while a host-wide slowdown inflates both sides.
    def calibrate(): Double = {
      val t = System.nanoTime()
      Dedup.connectedComponents(
        spark.range(0, 299).selectExpr("id AS src", "id + 1 AS dst"), maxLocalEdges = 0L)
        ._1.count()
      (System.nanoTime() - t) / 1e9
    }
    val calibBefore = calibrate()
    val chain = spark.range(0, 9999).selectExpr("id AS src", "id + 1 AS dst")
    val star = spark.range(0, 60000)
      .selectExpr("CAST(100000 AS BIGINT) AS src", "id + 100001 AS dst")
    val pairs = spark.range(0, 15000)
      .selectExpr("id * 2 + 200000 AS src", "id * 2 + 200001 AS dst")
    val t0 = System.nanoTime()
    val edges = chain.union(star).union(pairs)
    val (labels, rounds) = Dedup.connectedComponents(edges, maxLocalEdges = 0L)
    val byLabel = labels.groupBy("lbl").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rounds >= 2, s"expected the pointer-jumping fixpoint, took $rounds round(s)")
    // Pointer jumping: ≤ ceil(log2(diameter)) + 2 rounds, not O(diameter).
    assert(rounds <= math.ceil(math.log(10000) / math.log(2)).toInt + 2,
      s"expected O(log d) rounds for diameter 10k, took $rounds")
    assert(byLabel(0L) == 10000L, "chain collapses to its min vertex")
    assert(byLabel(100000L) == 60001L, "star collapses to its hub-min")
    assert(byLabel.count(_._1 >= 200000L) == 15000 &&
      byLabel.filter(_._1 >= 200000L).values.forall(_ == 2L),
      "15k disjoint pairs keep distinct labels")
    val calibAfter = calibrate()
    val budget = math.max(90.0, 15.0 * math.max(calibBefore, calibAfter))
    assert(secs < budget,
      s"volume fixpoint took ${secs}s vs budget ${budget}s " +
        s"(calibration before=${calibBefore}s after=${calibAfter}s) — " +
        "scheduling overhead regression")
    // By default the same graph takes the one-task union-find: same labels.
    val (ufLabels, ufRounds) = Dedup.connectedComponents(edges)
    assert(ufRounds == 1, s"expected the one-task union-find, took $ufRounds round(s)")
    assert(ufLabels.count() == labels.count() && ufLabels.exceptAll(labels).isEmpty,
      "union-find labels differ from the fixpoint's at volume")
    ufLabels.unpersist()
    labels.unpersist()
  }
}
