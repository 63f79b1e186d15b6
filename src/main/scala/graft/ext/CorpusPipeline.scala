package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning pipeline — the extension operators
  * (TextOps quality gate, exact + MinHash dedup) composed the way a real
  * 100 TB ingest would run them, cheapest-first so each stage shrinks the
  * data the next one sees:
  *
  *   0. PII scrub     — per-row regexp map (TextOps.scrubPii), before
  *                      any hash/shingle derivation can embed PII;
  *   1. quality gate  — per-row map, no shuffle, drops low-quality docs;
  *   1.8. URL dedup   — when the corpus carries a `url` column: keep min
  *                      doc_id per TextOps.canonUrlCol canonical key
  *                      (refetches under tracking-param/www/port/fragment
  *                      variants die before any text hashing);
  *   1.9. boilerplate — optional C4-style segment cut (boilerplateMinDocs):
  *                      corpus-frequent segments removed from every doc
  *                      BEFORE hashing, so navbar-only differences
  *                      collapse into exact duplicates;
  *   2. exact dedup   — one shuffle on the normalized content hash;
  *   3. near dedup    — MinHash/LSH bucket join, keeps min-id per pair
  *                      cluster (union-find-free greedy: drop any doc
  *                      that has a near-dup with a smaller id);
  *   3.3. containment — optional (containmentThreshold): drops docs
  *                      CONTAINED in a survivor (the quote/subset class
  *                      whose Jaccard sits below stage 3's bar), keeping
  *                      the container;
  *   4. sequence packing — the surviving stream concatenated per source
  *                      and cut into 256-token training sequences
  *                      (TextOps.packSequencesOver);
  *   5. partition + write — cleaned corpus parquet partitioned by lang,
  *                      the packed-sequence manifest, and a per-stage
  *                      survival report.
  *
  * Usage: runMain graft.ext.CorpusPipeline [sfDir] [outDir]
  */
object CorpusPipeline {

  final case class StageCounts(input: Long, afterQuality: Long,
                               afterModel: Long,
                               afterContam: Long, afterUrl: Long,
                               afterBoiler: Long,
                               afterExact: Long,
                               afterNear: Long, afterContain: Long,
                               afterSemantic: Long,
                               afterCap: Long, sequences: Long)

  /** `benchmark`: eval-suite documents (a `text` column) — when given,
    * stage 1.5 drops any doc whose distinct 8-grams overlap the
    * benchmark's by more than 10% (the q_text_contamination rule),
    * logging the dropped docs with their overlap ratios to
    * `outDir/contaminated` the way the quality gate logs reasons.
    * `embeddings`: (doc_id, embedding array<float>) side table — when
    * given, stage 3.5 drops semantic (paraphrase-class) near-dups the
    * token shingles cannot see, via hyperplane-sketch LSH buckets +
    * exact cosine ≥ `cosineThreshold` verify.
    * `maxDocsPerSource`: when given, stage 3.7 caps each `source`'s
    * surviving docs at the quota by the q_domain_cap md5-rank rule —
    * dedup runs FIRST so duplicates never consume quota, and the
    * hash-stable selection means a re-run (or growth in OTHER sources)
    * keeps the same docs.
    * `urlDedup` (default on): stage 1.8 — when the ingested corpus has a
    * `url` column, collapse canonical-URL duplicates (keep min doc_id),
    * logging (doc_id, url, canon_url, keeper_doc, reason) to
    * `outDir/url_dropped`; docs with a NULL url always pass through.
    * `modelMinScore`: when given, stage 1.2 drops docs whose
    * q_quality_model hashed-linear score falls below the threshold,
    * logging (doc_id, model_score, reason) to `outDir/model_dropped` —
    * the learned-classifier pass after the cheap heuristic gate.
    * `containmentThreshold`: when given, stage 3.3 drops docs CONTAINED
    * in a surviving doc (q_dedup_containment's rule: shared shingles /
    * min set size ≥ threshold — the quote/subset class whose Jaccard
    * sits below stage 3's bar), keeping the container; drops log to
    * `outDir/contained` with dup_of = the container.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          minQuality: Double = 0.5, jaccardThreshold: Double = 0.8,
          benchmark: Option[DataFrame] = None,
          embeddings: Option[DataFrame] = None,
          cosineThreshold: Double = 0.98,
          maxDocsPerSource: Option[Int] = None,
          modelMinScore: Option[Double] = None,
          urlDedup: Boolean = true,
          boilerplateMinDocs: Option[Int] = None,
          containmentThreshold: Option[Double] = None): StageCounts = {
    // 0. PII scrub — BEFORE any content derivation, so hashes, shingles
    // and packed sequences never embed an email/phone/id/IP (the order a
    // compliant pipeline requires: scrubbing after dedup would leave PII
    // in the dedup keys and the dropped-duplicate audit trail). Per-row
    // regexp chain, no shuffle; oracle-verified as q_pii_scrub, planted
    // shapes covered by PiiScrubSpec (the harness corpus itself carries
    // no PII, so here it is a verified no-op).
    val docs = graft.Tables.documents(spark, sfDir)
      .withColumn("text", graft.queries.TextOps.scrubPii(col("text")))
    val input = docs.count()

    // 1. quality gate (same scoring as q_text_stats)
    val scored = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("uniq_ratio", size(array_distinct(col("toks"))) / col("n_tokens"))
      .withColumn("stop_ratio", expr(
        "size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))") / col("n_tokens"))
      .withColumn("quality_score",
        lit(0.3) * least(col("n_tokens") / 100.0, lit(1.0))
          + lit(0.4) * col("uniq_ratio")
          + lit(0.3) * (lit(1.0) - col("stop_ratio")))
    val quality = scored.filter(col("quality_score") >= minQuality)
      .select(docs.columns.map(col).toSeq: _*)
    val nQuality = quality.count()

    // 1.2. model-scored gate — the learned-classifier pass a production
    // pipeline runs AFTER the cheap heuristics (q_quality_model's
    // hashed-linear scorer: per-row map, scan speed, no shuffle).
    // Heuristics catch degenerate shape (length, repetition, stopword
    // soup); the model ranks content. Dropped docs log to
    // outDir/model_dropped with their scores — same auditable-drop
    // discipline as every other curation stage.
    val model = modelMinScore match {
      case None => quality
      case Some(minScore) =>
        val ms = quality
          .withColumn("__mtoks", split(col("text"), " "))
          .withColumn("__mscore",
            greatest(lit(0.0), least(lit(1.0), lit(0.5) +
              expr(graft.queries.TextOps.modelWsumExpr("__mtoks")) /
                size(col("__mtoks")).cast("double"))))
        ms.filter(col("__mscore") < minScore)
          .select(col("doc_id"), col("__mscore").as("model_score"),
            lit("model_score_below_min").as("drop_reason"))
          .write.mode("overwrite").parquet(s"$outDir/model_dropped")
        ms.filter(col("__mscore") >= minScore)
          .select(docs.columns.map(col).toSeq: _*)
    }
    val nModel = model.count()

    // 1.5. contamination gate — the decontamination pass q_text_
    // contamination verifies, as a DROP stage: any doc whose distinct
    // 8-grams overlap the benchmark suite's by > 10% is removed BEFORE
    // the dedup stages (an eval answer must not survive by being the
    // canonical copy of a dup group). Benchmark grams broadcast; the
    // corpus side is explode → broadcast-semi-join → per-doc ratio —
    // one corpus scan, no gram shuffle. Dropped docs log to
    // outDir/contaminated with their ratios (the quality gate's
    // reasons discipline: a curation drop is always auditable).
    val gram8 =
      """array_distinct(transform(sequence(1, size(toks) - 7),
        |                         i -> concat_ws(' ', slice(toks, i, 8))))""".stripMargin
    val contam = benchmark match {
      case None => model
      case Some(benchDocs) =>
        val bGrams = benchDocs
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 8)
          .select(explode(expr(gram8)).as("gram")).distinct()
        val tGrams = model
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"), explode(expr(gram8)).as("gram"))
        val dropped = tGrams
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
          .join(tGrams.join(broadcast(bGrams), Seq("gram"), "left_semi")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit")),
            Seq("doc_id"), "left_outer")
          .withColumn("overlap_ratio",
            coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams").cast("double"))
          .filter(col("overlap_ratio") > 0.1)
        dropped.select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("overlap_ratio"),
            lit("benchmark_8gram_overlap").as("drop_reason"))
          .write.mode("overwrite").parquet(s"$outDir/contaminated")
        model.join(dropped.select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
    val nContam = contam.count()

    // 1.8. URL-canonical dedup — a real crawl dedups on canonical URL
    // BEFORE touching text: refetches of the same page under tracking-
    // param / www / port / fragment variants are the cheapest duplicate
    // class to kill (one string key vs a full content hash or shingle
    // set), and dropping them here shrinks every text stage downstream.
    // Runs only when the ingested corpus carries a `url` column (the
    // harness `documents` table does not; JSONL crawl drops do) and the
    // switch is on. Key = TextOps.canonUrlCol — the exact rule
    // q_url_canon oracle-verifies — keep min doc_id per canonical key,
    // drops audited to outDir/url_dropped with their canonical key and
    // keeper (the same discipline as every other curation stage).
    val url = if (urlDedup && contam.columns.contains("url")) {
      // Null url = "no crawl provenance": such docs must pass through
      // untouched (a shared NULL canonical key would collapse every
      // url-less doc into one survivor).
      val keyed = contam.withColumn("__canon",
        when(col("url").isNotNull,
          graft.queries.TextOps.canonUrlCol(col("url"))))
      val ranked = keyed.withColumn("__keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__canon"))))
      ranked.filter(col("url").isNotNull && col("doc_id") =!= col("__keeper"))
        .select(col("doc_id"), col("url"), col("__canon").as("canon_url"),
          col("__keeper").as("keeper_doc"),
          lit("url_canonical_dup").as("drop_reason"))
        .write.mode("overwrite").parquet(s"$outDir/url_dropped")
      ranked.filter(col("url").isNull || col("doc_id") === col("__keeper"))
        .drop("__canon", "__keeper")
    } else contam
    val nUrl = url.count()

    // 1.9. boilerplate removal — the C4 line-dedup pass (q_text_
    // boilerplate's exact rule): segments occurring verbatim in ≥
    // `boilerplateMinDocs` surviving docs are cut from EVERY carrier
    // before content hashing, so two pages differing only in a shared
    // navbar/footer become exact duplicates stage 2 can kill (boilerplate
    // inflates shingle similarity AND masks exact duplication — cutting
    // it first makes both dedup stages sharper, the order C4 runs).
    // Docs whose every segment is boilerplate come out empty and drop.
    // Rewrites + drops log to outDir/boiler_removed per audit discipline.
    val boil = boilerplateMinDocs match {
      case None => url
      case Some(minDocs) =>
        val cleaned = graft.queries.TextOps.boilerplateCleanOver(url, minDocs)
          .select(col("doc_id"), col("n_seg"), col("n_boiler"), col("clean_text"))
        val joined = url.drop("text").join(cleaned, Seq("doc_id"))
        joined.filter(col("n_boiler") > 0)
          .select(col("doc_id"), col("n_seg"), col("n_boiler"),
            when(length(col("clean_text")) === 0, "all_boilerplate")
              .otherwise("boilerplate_segments_cut").as("drop_reason"))
          .write.mode("overwrite").parquet(s"$outDir/boiler_removed")
        joined.filter(length(col("clean_text")) > 0)
          .withColumn("text", col("clean_text"))
          .select(url.columns.map(col).toSeq: _*)
    }
    val nBoiler = boil.count()

    // 2. exact dedup — keep min doc_id per TRUE content hash. (The
    // sorted-distinct-token normalized hash of q_dedup_exact is too
    // aggressive as a removal rule on a small-vocabulary corpus —
    // unrelated docs can share a token SET; permuted near-dups are the
    // near-dedup stage's job.)
    val exact = boil
      .withColumn("content_hash", md5(col("text")))
      .withColumn("canonical", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))))
      .filter(col("doc_id") === col("canonical"))
      .drop("content_hash", "canonical")
    val nExact = exact.count()

    // 3. near dedup — drop docs having a MinHash-verified near-dup with a
    // smaller id. Reuses the verified operator for candidate pairs.
    exact.createOrReplaceTempView("corpus_stage2")
    val pairs = nearDupPairs(spark, exact, jaccardThreshold)
    val losers = pairs.select(col("doc_b").as("doc_id")).distinct()
    val near = exact.join(losers, Seq("doc_id"), "left_anti")
    val nNear = near.count()

    // 3.3. containment dedup — the quote/subset class stage 3 cannot
    // see: a short doc wholly embedded in a long survivor has Jaccard
    // far below the near-dup bar (the union is dominated by the long
    // side), so both copies survive and the shared span trains twice.
    // The CONTAINED side drops, the container is kept regardless of id
    // (the full document is the more valuable copy); drops audited
    // with dup_of = the container, like every curation stage.
    val contain = containmentThreshold match {
      case None => near
      case Some(th) =>
        val cpairs = containmentPairs(spark, near, th)
        cpairs.select(col("contained_doc").as("doc_id"),
            lit("contained_in_doc").as("drop_reason"),
            col("container_doc").as("dup_of"), col("containment"))
          .write.mode("overwrite").parquet(s"$outDir/contained")
        near.join(cpairs.select(col("contained_doc").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
    }
    val nContain = contain.count()

    // 3.5. semantic dedup — the paraphrase class token shingles cannot
    // see: same meaning (≈ same embedding), different surface tokens.
    // Only survivors' embeddings are sketched (semi-join first — the
    // stages upstream already shrank the corpus), candidates come from
    // shared (band, nibble) LSH buckets, and an exact cosine ≥
    // threshold verifies every pair. Same greedy keep-rule as stage 3
    // (drop any doc with a verified smaller-id neighbor) so the two
    // dedup stages compose with one canonicalization semantics.
    val sem = embeddings match {
      case None => contain
      case Some(emb) =>
        val embS = emb.join(contain.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val pairs = semanticNearDupPairs(spark, embS, cosineThreshold)
        val semLosers = pairs.select(col("doc_b").as("doc_id")).distinct()
        contain.join(semLosers, Seq("doc_id"), "left_anti")
    }
    val nSem = sem.count()

    // 3.7. per-source cap — over-represented sources (one crawl domain
    // dominating the mix) are downsampled to a fixed quota AFTER dedup,
    // so duplicates never consume it. Selection is the verified
    // q_domain_cap rule: rank within source by md5(doc_id || ':domcap')
    // and keep the first `cap` — a pure function of each doc's own id,
    // so re-runs and growth in other sources keep the same docs.
    // Dropped docs log to outDir/capped with their ranks (the same
    // auditable-drop discipline as the contamination stage).
    val capped = maxDocsPerSource match {
      case None => sem
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("__caph"), col("doc_id"))
        val ranked = sem
          .withColumn("__caph", md5(concat(col("doc_id").cast("string"), lit(":domcap"))))
          .withColumn("__caprnk", row_number().over(w))
        ranked.filter(col("__caprnk") > cap)
          .select(col("doc_id"), col("source"),
            col("__caprnk").as("source_rank"),
            lit("per_source_cap").as("drop_reason"))
          .write.mode("overwrite").parquet(s"$outDir/capped")
        ranked.filter(col("__caprnk") <= cap).drop("__caph", "__caprnk")
    }
    val nCap = capped.count()

    // 4. pack the cleaned stream into fixed-budget training sequences
    val seqs = graft.queries.TextOps.packSequencesOver(capped, 256)
    seqs.write.mode("overwrite").parquet(s"$outDir/sequences")
    val nSeqs = spark.read.parquet(s"$outDir/sequences").count()

    // 5. write partitioned by lang + report
    capped.write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/corpus_clean")
    val report = StageCounts(input, nQuality, nModel, nContam, nUrl, nBoiler, nExact, nNear, nContain, nSem, nCap, nSeqs)
    import spark.implicits._
    Seq(("input", report.input), ("after_quality", report.afterQuality),
      ("after_model_score", report.afterModel),
      ("after_contamination", report.afterContam),
      ("after_url_dedup", report.afterUrl),
      ("after_boilerplate", report.afterBoiler),
      ("after_exact_dedup", report.afterExact), ("after_near_dedup", report.afterNear),
      ("after_containment_dedup", report.afterContain),
      ("after_semantic_dedup", report.afterSemantic),
      ("after_source_cap", report.afterCap),
      ("training_sequences", report.sequences))
      .toDF("stage", "docs")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$outDir/report")
    report
  }

  /** Embedding near-dup pairs (doc_a < doc_b, cosine ≥ threshold) over a
    * (doc_id, embedding array<float>) frame: 16-hyperplane sign sketch
    * (Similarity.sketchNorm — md5-derived planes, no RNG), candidates
    * share ≥1 of 4 nibble bands, exact sequential-fold cosine verifies.
    * Shape at scale: narrow sketch map + bucketed equi-join — never
    * all-pairs; a production corpus sizes planes/band bits up (64
    * planes, 8-bit bands) to keep buckets sparse, same shape.
    */
  def semanticNearDupPairs(spark: SparkSession, emb: DataFrame,
                           threshold: Double): DataFrame = {
    val v = graft.queries.Det.pin(
      graft.queries.Similarity.sketchNorm(emb)
        .select(col("doc_id"), col("embedding"), col("norm"), col("sketch")))
    val banded = v.select(col("doc_id"),
      explode(expr(
        "transform(sequence(0, 3), k -> struct(k AS band_idx, " +
          "shiftright(sketch, k * 4) & 15 AS nib))")).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.nib"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ea = v.select(col("doc_id").as("doc_a"), col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val eb = v.select(col("doc_id").as("doc_b"), col("embedding").as("emb_b"), col("norm").as("norm_b"))
    cand.join(ea, "doc_a").join(eb, "doc_b")
      .withColumn("cosine", expr("dot_f32(emb_a, emb_b)") / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** MinHash/LSH candidate pairs (doc_a < doc_b) with verified Jaccard ≥
    * threshold, over an arbitrary cleaned corpus (same operator shape as
    * queries.Dedup.dedupMinHash, parameterized by input).
    */
  def nearDupPairs(spark: SparkSession, corpus: DataFrame, threshold: Double): DataFrame = {
    val sh = corpus
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(1, size(toks) - 2),
          |                                i -> concat_ws(' ', slice(toks, i, 3))))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(col("doc_id"), col("shingles"))
    val sig = graft.queries.Det.pin(
      sh.withColumn("sig", expr("minhash_sig(shingles)"))
        .select(col("doc_id"), col("sig")))
      .withColumn("bands", expr(
        "transform(sequence(0, 3), k -> md5(concat(CAST(k AS STRING), '|', sig[k*3], '|', sig[k*3+1], '|', sig[k*3+2])))"))
    val exploded = sig.select(col("doc_id"), explode(col("bands")).as("band"))
    val cand = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sa = sh.select(col("doc_id").as("da"), col("shingles").as("shingles_a"))
    val sb = sh.select(col("doc_id").as("db"), col("shingles").as("shingles_b"))
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter", expr("CAST(size(array_intersect(shingles_a, shingles_b)) AS DOUBLE)"))
      .withColumn("jaccard", col("inter") /
        (size(col("shingles_a")) + size(col("shingles_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
  }

  /** Containment pairs (q_dedup_containment's rule parameterized by
    * input): candidates from a df-capped shingle-postings self-join
    * (docs sharing a RARE shingle — a doc made purely of high-df
    * boilerplate shingles is stage 1.9's job, not this one's), exact
    * array-intersect verify, containment = |A∩B| / min(|A|,|B|). The
    * contained doc is the smaller shingle set (ties — mutual
    * containment, i.e. near-identical sets — drop the larger id, the
    * min-id keep every other stage uses).
    */
  def containmentPairs(spark: SparkSession, corpus: DataFrame, threshold: Double,
                       dfCap: Int = 100): DataFrame = {
    val sh = corpus
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(1, size(toks) - 2),
          |                                i -> concat_ws(' ', slice(toks, i, 3))))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(col("doc_id"), col("shingles"))
    val post = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .filter(col("df") <= dfCap)
    val cand = post.as("a")
      .join(post.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("da"), col("shingles").as("sh_a")), "da")
      .join(sh.select(col("doc_id").as("db"), col("shingles").as("sh_b")), "db")
      .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
      .withColumn("containment",
        col("inter") / least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(
        when(size(col("sh_a")) < size(col("sh_b")), col("da"))
          .when(size(col("sh_b")) < size(col("sh_a")), col("db"))
          .otherwise(greatest(col("da"), col("db"))).as("contained_doc"),
        when(size(col("sh_a")) < size(col("sh_b")), col("db"))
          .when(size(col("sh_b")) < size(col("sh_a")), col("da"))
          .otherwise(least(col("da"), col("db"))).as("container_doc"),
        col("containment"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_corpus")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-corpus-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, sfDir, outDir)
      println(s"[corpus] input=${r.input} quality=${r.afterQuality} " +
        s"model=${r.afterModel} " +
        s"contam=${r.afterContam} url=${r.afterUrl} " +
        s"exact=${r.afterExact} near=${r.afterNear} " +
        s"semantic=${r.afterSemantic} sequences=${r.sequences} -> $outDir")
    } finally spark.stop()
  }
}
