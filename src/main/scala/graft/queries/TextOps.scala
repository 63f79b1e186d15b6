package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (builder brief): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting.
  *
  * All computations are codegen-friendly built-in expressions (split /
  * higher-order array functions / md5) — no UDFs, so the whole pipeline
  * stays inside WholeStageCodegen and scales embarrassingly parallel
  * (per-row map over the corpus, zero shuffles before the final sort).
  */
object TextOps {
  import Tables._
  import Det._
  type Q = (SparkSession, String) => DataFrame

  /** Token stats + quality scoring: whitespace tokenization, distinct-token
    * ratio, stopword ratio, a `(chars+3)/4`-style BPE-ish token estimate,
    * and a blended [0,1] quality score — the standard cheap quality gate a
    * corpus-cleaning pipeline applies before expensive dedup.
    */
  val textStats: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop", expr(
        "CAST(size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)"))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("uniq_ratio_raw", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio_raw", col("n_stop").cast("double") / col("n_tokens"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        col("n_chars_m").as("n_chars_measured"),
        col("n_tokens"), col("n_distinct"), col("n_stop"),
        expr("CAST((n_chars_m + 3) div 4 AS BIGINT)").as("bpe_token_estimate"),
        r4((col("n_chars_m") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
          .as("avg_token_len"),
        r4(col("uniq_ratio_raw")).as("uniq_ratio"),
        r4(col("stop_ratio_raw")).as("stop_ratio"),
        r4(lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
          + lit(0.4) * col("uniq_ratio_raw")
          + lit(0.3) * (lit(1.0) - col("stop_ratio_raw"))).as("quality_score")
      )
      .orderBy(col("doc_id"))

  val textStatsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, text,
       |    string_split(text, ' ') AS toks,
       |    CAST(length(text) AS BIGINT) AS n_chars_m
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, source, n_chars_m,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
       |  FROM t)
       |SELECT doc_id, lang, source,
       |  n_chars_m AS n_chars_measured, n_tokens, n_distinct, n_stop,
       |  CAST((n_chars_m + 3) // 4 AS BIGINT) AS bpe_token_estimate,
       |  ${sqlR4("CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens")} AS avg_token_len,
       |  ${sqlR4("CAST(n_distinct AS DOUBLE) / n_tokens")} AS uniq_ratio,
       |  ${sqlR4("CAST(n_stop AS DOUBLE) / n_tokens")} AS stop_ratio,
       |  ${sqlR4("0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)" +
         " + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)" +
         " + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)")} AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin

  /** Language-ID by marker-lexicon scoring (n-gram-heuristic family): count
    * hits from small per-language token lexicons, argmax with a fixed
    * tie-break order. The lexicons are fixed constants — the point is the
    * operator shape (per-row HOF scoring, no shuffle), not the lexicons.
    */
  val textLangId: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("score_en", expr("CAST(size(filter(toks, t -> t IN ('the', 'a'))) AS BIGINT)"))
      .withColumn("score_es", expr("CAST(size(filter(toks, t -> t IN ('data', 'query', 'table'))) AS BIGINT)"))
      .withColumn("score_de", expr("CAST(size(filter(toks, t -> t IN ('key', 'value', 'hash'))) AS BIGINT)"))
      .withColumn("score_fr", expr("CAST(size(filter(toks, t -> t IN ('join', 'merge', 'group'))) AS BIGINT)"))
      .withColumn("score_zh", expr("CAST(size(filter(toks, t -> t IN ('stream', 'batch', 'window'))) AS BIGINT)"))
      .withColumn("best", greatest(col("score_en"), col("score_es"), col("score_de"),
        col("score_fr"), col("score_zh")))
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        col("score_en"), col("score_es"), col("score_de"), col("score_fr"), col("score_zh"),
        when(col("score_en") === col("best"), "en")
          .when(col("score_es") === col("best"), "es")
          .when(col("score_de") === col("best"), "de")
          .when(col("score_fr") === col("best"), "fr")
          .otherwise("zh").as("predicted_lang")
      )
      .orderBy(col("doc_id"))

  val textLangIdSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(toks, t -> t IN ('data', 'query', 'table'))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(toks, t -> t IN ('key', 'value', 'hash'))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(toks, t -> t IN ('join', 'merge', 'group'))) AS BIGINT) AS score_fr,
      |    CAST(len(list_filter(toks, t -> t IN ('stream', 'batch', 'window'))) AS BIGINT) AS score_zh
      |  FROM t)
      |SELECT doc_id, lang AS labeled_lang,
      |  score_en, score_es, score_de, score_fr, score_zh,
      |  CASE WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
      |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
      |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
      |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
      |       ELSE 'zh' END AS predicted_lang
      |FROM s ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: raw md5; order-insensitive normalized md5
    * (sorted distinct tokens — catches token-permuted duplicates); a
    * 64-bit prefix signature; a 16-way shard bucket derived from the hash
    * (the partition key a 100 TB dedup would shuffle on); and a
    * Karp-Rabin polynomial rolling hash over the characters.
    */
  val textFingerprint: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("norm_hash", md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))))
      .select(
        col("doc_id"),
        col("content_hash"),
        col("norm_hash"),
        substring(col("content_hash"), 1, 16).as("sig64"),
        (expr("instr('0123456789abcdef', substr(content_hash, 1, 1))") - 1)
          .cast("long").as("shard_bucket"),
        expr("CAST(size(array_distinct(transform(sequence(1, greatest(size(toks) - 2, 0)), " +
          "i -> concat_ws(' ', slice(toks, i, 3))))) AS BIGINT)").as("n_shingles"),
        // Karp-Rabin polynomial rolling hash over the characters
        // (base 31 mod 1e9+7, exact in BIGINT — identical both engines).
        expr("aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), " +
          "(acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % 1000000007)")
          .as("rolling_hash")
      )
      .orderBy(col("doc_id"))

  val textFingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks, md5(text) AS content_hash
      |  FROM documents)
      |SELECT doc_id, content_hash,
      |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS norm_hash,
      |  substr(content_hash, 1, 16) AS sig64,
      |  CAST(instr('0123456789abcdef', substr(content_hash, 1, 1)) - 1 AS BIGINT) AS shard_bucket,
      |  CAST(len(list_distinct([array_to_string(toks[i:i+2], ' ')
      |    for i in generate_series(1, len(toks) - 2)])) AS BIGINT) AS n_shingles,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [ascii(substr(text, i, 1))::BIGINT for i in generate_series(1, length(text))]),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
      |FROM t ORDER BY doc_id""".stripMargin

  /** BM25 term scoring: top-3 scoring terms per document (probe subset)
    * against corpus-wide document frequencies — the retrieval-quality
    * signal a training-data pipeline uses for query-document relevance
    * and keyword extraction.
    *
    * Determinism: the classic BM25 idf is ln-based, and libm's ln differs
    * in the last ulp across engines — so this uses the Robertson RATIONAL
    * idf (N − df + 0.5)/(df + 0.5), keeping the whole score inside plain
    * IEEE arithmetic that both engines compute bit-identically (k1 = 1.2,
    * b = 0.75 folded as 0.25 + 0.75·dl/avgdl in both texts).
    *
    * Scale shape: tf is one shuffle on (doc, term), df one on term, the
    * corpus stats are a broadcast scalar, and the final top-k is the
    * bounded TopKTerms aggregator (functions/TopKByScore.scala) — partial
    * aggregation ships ≤3 rows per (partition, doc) instead of the full
    * scored term set the r3 window-rank formulation sorted (the oracle
    * still states the window form; results agree by the total
    * comparator).
    */
  val textBm25: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (r15): termstats holds the exact
    // sufficient statistics ((term, doc_id, dl, tf); df from the merged
    // termsummary; n_docs from meta), so the warm plan reads the
    // artifact columns — no text deserialization, no split/explode, no
    // per-run tf shuffle over the corpus. avgdl is recomputed with the
    // SAME decimal mean over the same per-doc dl values (null-text docs
    // have no termstats rows, exactly like the in-session docLen rows
    // davg ignores; n_docs counts them via meta, like count(lit(1))
    // over docLen did), so the scores are bit-identical by construction.
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    val ts = graft.ext.PostingsIndex.termstats(spark, idx)
    // Per-doc dl straight from docmeta (v9) — its NULL for a null-text
    // doc is exactly the row davg skips, like the in-session docLen.
    val docLen = graft.ext.PostingsIndex.docMeta(spark, idx)
      .select(col("n_tokens").cast("double").as("dl"))
    val dfreq = graft.ext.PostingsIndex.termSummary(spark, idx)
      .select(col("term"), col("df").cast("double").as("df"))
    val (nDocs, _) = graft.ext.PostingsIndex.corpusStats(spark, idx)
    val stats = docLen.agg(
      lit(nDocs).cast("double").as("n_docs"),
      davg(col("dl")).as("avgdl"))
    textBm25Score(
      ts.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"),
          col("dl").cast("double").as("dl"))
        .join(dfreq, "term"),
      stats)
  }

  /** The same algebra over in-session tokenization — no artifact
    * consulted; kept so specs can pin served ≡ in-session.
    */
  private[graft] val textBm25InSession: Q = (spark, dir) => {
    val docs = documents(spark, dir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    // A null-text doc counts in n_docs but NOT in avgdl — the oracle's
    // semantics (DuckDB len(NULL) is NULL: count(*) keeps the row, the
    // avg skips it). A bare size() would instead contribute legacy −1
    // per null doc and skew avgdl against both the oracle and the
    // artifact-served path (termstats has no rows for null docs).
    val docLen = toks.select(col("doc_id"),
      when(col("toks").isNull, lit(null).cast("double"))
        .otherwise(size(col("toks")).cast("double")).as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val stats = docLen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      davg(col("dl")).as("avgdl"))
    textBm25Score(
      tf.filter(col("doc_id") < 50).join(dfreq, "term").join(docLen, "doc_id"),
      stats)
  }

  /** Score + bounded top-3 shared by the served and in-session paths —
    * one algebra, so the two are bit-identical by construction. Input
    * rows: (doc_id, term, tf, df, dl), all double.
    */
  private def textBm25Score(rows: DataFrame, stats: DataFrame): DataFrame = {
    val scored = rows
      .crossJoin(broadcast(stats))
      .withColumn("score",
        ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
    val topk = udaf(new graft.functions.TopKTerms(3))
    scored
      .groupBy(col("doc_id"))
      .agg(topk(col("term"), col("tf"), col("df"), col("score")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("t.term").as("term"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.tf").cast("long").as("tf"), col("t.df").cast("long").as("df"),
        r6(col("t.score")).as("bm25"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val textBm25Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM toks),
       |tf AS (
       |  SELECT doc_id, unnest(toks) AS term FROM toks),
       |tfc AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tf GROUP BY doc_id, term),
       |dfc AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY term),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, ${sqlDavg("dl")} AS avgdl FROM dl),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    ((s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |      ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS score
       |  FROM tfc t JOIN dfc d USING (term) JOIN dl l USING (doc_id) CROSS JOIN stats s
       |  WHERE t.doc_id < 50),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT doc_id, term, rank, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |  ${sqlR6("score")} AS bm25
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** BM25 retrieval: score every document containing any of a fixed
    * query-term set and return the top-20 by summed BM25 — the ranked
    * keyword retrieval a corpus-audit or RAG pipeline runs against a
    * training corpus ("which documents dominate for these terms?").
    *
    * SERVED FROM THE POSTINGS ARTIFACT (ext.PostingsIndex v3): the
    * `termstats` table holds the BM25 sufficient statistics
    * (term, doc_id, dl, tf) term-range-partitioned, and meta carries
    * (n_docs, Σ dl), so the warm plan is: one scan of the ≤4 query
    * terms' file ranges (the `term IN (…)` predicate reaches the
    * parquet scan and min/max stats skip every other file — the same
    * pruning q_phrase_search gets), a tiny per-term df aggregate
    * broadcast back, and a per-doc top-k. The corpus text is never
    * read, and no corpus-wide tf/df job runs at query time — at 100 TB
    * this is the difference between a retrieval and a recount.
    *
    * Determinism: Robertson rational idf (no ln — see textBm25), the
    * per-doc score sum in exact DECIMAL (Det.dsum), r6 rounding, and a
    * doc_id tiebreak on the top-k boundary.
    */
  private val Bm25QueryTerms = Seq("vector", "hash", "merge", "window")

  /** Impact-ordered serving (block-max-WAND lite, r14 VERDICT #5), EXACT
    * by self-verifying bounds: phase 1 reads only the HIGH-IMPACT
    * postings (tf >= T — the `tf` predicate pushes into the (term, tf,
    * doc_id)-laid-out termstats, so parquet min/max skips a high-df
    * term's low-tf files) and sums per-doc partial scores P. The score
    * function is increasing in tf and decreasing in dl (and dl >= tf),
    * so any SKIPPED posting contributes at most ub_t = idf_t *
    * s(T-1, dl = T-1); with L = the 20th-largest partial:
    *
    *   - a doc with NO phase-1 row scores at most UB = Σ ub_t < L: it
    *     can never crack the top-20 (else fall back to the full scan);
    *   - a phase-1 doc's true score is within [P, P + missing-term UB]:
    *     only docs whose upper bound reaches L are RESCORED by joining
    *     exactly their low-tf rows back in.
    *
    * Every doc that can surface in the top-20 therefore carries its
    * EXACT score and term count — same output as the full scan, same
    * oracle, reading high files + (low files × small candidate set)
    * instead of every posting of every query term. The fallbacks keep
    * exactness unconditional: fewer than 20 phase-1 docs, or bounds too
    * weak (UB >= L), or a pre-v6 artifact without the summary table →
    * one full pruned scan, the previous behavior.
    */
  val bm25Search: Q = (spark, dir) =>
    // servingDir: a Publish time-travel snapshot resolves to its RECORDED
    // index version (zero builds); anything else ensures the live artifact.
    bm25SearchOverIdx(spark, graft.ext.PostingsIndex.servingDir(spark, dir))

  /** Which path the last bm25 serves took — spec/bench observability.
    * dlBound counts fast-path engagements whose bounds came from the v8
    * per-(term, tf) min_dl table rather than the dl-free termsummary sup.
    */
  private[graft] val bm25FastPathRuns = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val bm25FallbackRuns = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val bm25DlBoundRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def bm25SearchOverIdx(spark: SparkSession, idx: String): DataFrame = {
    val (nDocs, sumDl) = graft.ext.PostingsIndex.corpusStats(spark, idx)
    val ts = graft.ext.PostingsIndex.termstats(spark, idx)
    def full() = { bm25FallbackRuns.incrementAndGet(); bm25SearchOver(ts, nDocs, sumDl) }
    val hasSummary = new java.io.File(
      graft.ext.PostingsIndex.tablePath(idx, "termsummary")).isDirectory
    if (!hasSummary) full()
    else {
      // (term, df, min_tf, max_tf) for the query terms — a pruned read of
      // the vocabulary-sized summary, collected to drive the bounds.
      val summary = graft.ext.PostingsIndex.termSummary(spark, idx)
        .filter(col("term").isin(Bm25QueryTerms: _*))
        .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
          r.getAs[Long]("min_tf"), r.getAs[Long]("max_tf"))).toSeq.sortBy(_._1)
      if (summary.isEmpty) full()
      else {
        val avgdl = sumDl.toDouble / nDocs.toDouble
        def idfOf(df: Long) = (nDocs.toDouble - df + 0.5) / (df + 0.5)
        val T = 2L
        // Max contribution of a posting with tf at this level and dl >=
        // dlLow: s(tf, dl) rises in tf, falls in dl, so the sup over the
        // level is s(tf, dlLow) (dl >= tf always, so dlLow >= tf).
        def sAt(tf: Long, dlLow: Long) = {
          val t = tf.toDouble
          val d = math.max(dlLow, math.max(tf, 1L)).toDouble
          (t * 2.2) / (t + 1.2 * (0.25 + 0.75 * d / avgdl))
        }
        // dl-aware tf levels from the v8 tfdl table (term -> (tf, the
        // SHORTEST doc among that level's postings)) — a pruned read of a
        // vocabulary-scale table. A pre-v8 artifact has no tfdl: bounds
        // fall back to the dl-free sup s(tf, tf), the v6/v7 behavior.
        val levels: Map[String, Seq[(Long, Long)]] =
          if (!new java.io.File(
              graft.ext.PostingsIndex.tablePath(idx, "tfdl")).isDirectory) Map.empty
          else graft.ext.PostingsIndex.tfDl(spark, idx)
            .filter(col("term").isin(Bm25QueryTerms: _*))
            .collect()
            .map(r => (r.getAs[String]("term"), r.getAs[Long]("tf"),
              r.getAs[Long]("min_dl")))
            .groupBy(_._1).view
            .mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
        // Sup of one term posting's score over the given tf range: exact
        // per-level max when the levels are known, dl-free sup otherwise.
        def rangeUb(term: String, lo: Long, hi: Long): Double =
          levels.get(term) match {
            case Some(ls) =>
              val in = ls.filter(l => l._1 >= lo && l._1 <= hi)
              if (in.isEmpty) 0.0 else in.map(l => sAt(l._1, l._2)).max
            case None => sAt(hi, hi)
          }
        val ubByTerm = summary.filter(_._3 < T)
          .map(s => s._1 -> idfOf(s._2) * rangeUb(s._1, 1L, T - 1)).toMap
        val ubAll = ubByTerm.values.sum
        // Free precheck from the summaries alone: no partial score can
        // exceed Σ_t idf_t · sup s(tf >= T postings of t), so if that
        // ceiling doesn't clear the skipped-mass bound with margin,
        // phase 1 cannot succeed — ubiquitous terms (df ≈ N) compress
        // BM25 scores until nothing dominates the tf=1 mass. The
        // dl-aware sup keeps the ceiling AND the skipped mass honest on
        // long-document corpora, where the dl-free bound overstates the
        // tf=1 mass enough to refuse corpora the fast path wins on.
        // Work-avoidance only: every path is exact; this just picks the
        // full scan without a wasted scan.
        val potential = summary.map(s => idfOf(s._2) * rangeUb(s._1, T, s._4)).sum
        if (ubAll * 1.5 >= potential) full()
        else {
          val dfc = spark.createDataFrame(summary.map(s => (s._1, s._2.toDouble)))
            .toDF("term", "df")
          val hi = ts.filter(col("term").isin(Bm25QueryTerms: _*) &&
            col("tf") >= T).persist()
          try {
            val partial = hi.join(broadcast(dfc), "term")
              .withColumn("score", bm25ScoreExpr(nDocs, avgdl))
              .groupBy(col("doc_id"))
              .agg(sum(col("score")).as("p"), collect_set(col("term")).as("terms"))
              .persist()
            try {
              val top = partial.orderBy(col("p").desc, col("doc_id"))
                .limit(20).collect()
              if (top.length < 20) full()
              else {
                // Float slack keeps the bound conservative: a lower L only
                // widens the rescore set, never drops a true top-20 doc.
                val L = top.map(_.getAs[Double]("p")).min - 1e-6
                if (ubAll >= L) full()
                else {
                  bm25FastPathRuns.incrementAndGet()
                  if (levels.nonEmpty) bm25DlBoundRuns.incrementAndGet()
                  val missUb = Bm25QueryTerms.filter(ubByTerm.contains).map(t =>
                    when(array_contains(col("terms"), t), lit(0.0))
                      .otherwise(lit(ubByTerm(t))))
                    .reduceOption(_ + _).getOrElse(lit(0.0))
                  val cand = partial.filter(col("p") + missUb >= lit(L))
                    .select(col("doc_id"))
                  val lows = ts.filter(col("term").isin(Bm25QueryTerms: _*) &&
                      col("tf") < T)
                    .join(cand, Seq("doc_id"), "left_semi")
                  val cols = Seq("term", "doc_id", "dl", "tf").map(col)
                  bm25TopOver(hi.select(cols: _*).unionByName(lows.select(cols: _*)),
                    nDocs, sumDl, dfc)
                }
              }
            } finally partial.unpersist()
          } finally hi.unpersist()
        }
      }
    }
  }

  /** The same algebra over in-session sufficient statistics — no
    * artifact consulted; kept so specs can pin served ≡ in-session.
    */
  private[graft] val bm25SearchInSession: Q = (spark, dir) => {
    val docs = documents(spark, dir)
    val s = docs.agg(
      count(lit(1)),
      // Null-text docs count dl = 0 (the DuckDB oracle's sum ignores NULL;
      // legacy sizeOfNull would add -1 per null doc and diverge).
      coalesce(sum(when(col("text").isNull, lit(0L))
        .otherwise(size(split(col("text"), " ")).cast("long"))), lit(0L))).head()
    bm25SearchOver(graft.ext.PostingsIndex.termStats(docs), s.getLong(0), s.getLong(1))
  }

  private def bm25ScoreExpr(nDocs: Long, avgdl: Double): org.apache.spark.sql.Column =
    ((lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl").cast("double") / lit(avgdl))))

  /** Score → per-doc top-20: ONE algebra shared by the full scan, the
    * impact-ordered serve and the in-session twin, so the three paths
    * are bit-identical by construction (same score expression, same
    * decimal sum, same rounding, same tiebreak).
    */
  private def bm25TopOver(rows: DataFrame, nDocs: Long, sumDl: Long,
                          dfc: DataFrame): DataFrame = {
    val avgdl = sumDl.toDouble / nDocs.toDouble
    rows.join(broadcast(dfc), "term")
      .withColumn("score", bm25ScoreExpr(nDocs, avgdl))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), r6(dsum(col("score"))).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("bm25"))
  }

  private def bm25SearchOver(termstats: DataFrame, nDocs: Long, sumDl: Long): DataFrame = {
    val hits = termstats.filter(col("term").isin(Bm25QueryTerms: _*))
    val dfc = hits.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    bm25TopOver(hits, nDocs, sumDl, dfc)
  }

  val bm25SearchSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         CAST(sum(CAST(len(toks) AS BIGINT)) AS DOUBLE) AS sum_dl
       |  FROM toks),
       |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM toks),
       |hits AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM tf WHERE term IN ('vector', 'hash', 'merge', 'window')
       |  GROUP BY doc_id, dl, term),
       |scored AS (
       |  SELECT h.doc_id,
       |    ((s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |      ((h.tf * 2.2) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / (s.sum_dl / s.n_docs)))) AS score
       |  FROM hits h
       |  JOIN (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY term) d USING (term)
       |  CROSS JOIN stats s)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, ${sqlR6(sqlDsum("score"))} AS bm25
       |FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** Training-chunk splitting: every document sliced into 64-token
    * windows with stride 48 (16-token overlap) — the canonical LLM
    * pre-training preprocessing step. Chunk boundaries come from a
    * generated start-position sequence (1, 49, 97, …), so the operator is
    * a per-row flatMap: no shuffle until the output sort, and the chunk
    * count is ⌈n/48⌉ regardless of document size — no driver involvement.
    * Each chunk carries its md5 so downstream chunk-level dedup can run
    * without re-reading text.
    */
  val textChunks: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("start", explode(expr("sequence(1, CAST(n_tokens AS INT), 48)")))
      .withColumn("chunk", expr("slice(toks, start, 64)"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / 48).cast("long").as("chunk_id"),
        col("n_tokens"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        expr("element_at(chunk, 1)").as("first_token"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val textChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens, unnest(generate_series(1, CAST(n_tokens AS INT), 48)) AS start, toks
      |  FROM t)
      |SELECT doc_id,
      |  CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      |  n_tokens,
      |  CAST(len(toks[start : start + 63]) AS BIGINT) AS chunk_tokens,
      |  toks[start] AS first_token,
      |  md5(array_to_string(toks[start : start + 63], ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Sequence packing — the concatenate-then-split step that turns a
    * cleaned corpus into fixed-length training sequences: within each
    * `source` shard, documents ordered by doc_id form one token stream
    * that is cut every 256 tokens. Output is one row per (source,
    * sequence): how many documents land in it, how full it is, and how
    * many documents straddle a cut (the packing-efficiency /
    * attention-mask-complexity metrics a pre-training data pipeline
    * reports).
    *
    * Shape: a per-shard running sum (window cumsum on the shard sort
    * key) gives each document its [start, end) offset in the stream; a
    * range-explode fans each document to the ⌈n/B⌉(+1) sequences it
    * overlaps; a hash aggregate folds per-sequence stats. One shuffle
    * for the window, one for the agg — no driver involvement, and at
    * 100 TB the `source` partition key becomes (source, file-shard) so
    * every window sort stays bounded by shard size. All arithmetic is
    * integer; fill_ratio divides by a power of two, so cross-engine
    * hashes are exact.
    */
  val packSequences: Q = (spark, dir) =>
    packSequencesOver(documents(spark, dir), 256)

  /** Parameterized packing core: any frame with (doc_id, source, text)
    * — e.g. a cleaned pipeline stage — packed at the given budget on
    * whitespace token counts.
    */
  def packSequencesOver(docs: DataFrame, B: Int): DataFrame =
    packOnCounts(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), B)

  /** The packing itself, over precomputed per-doc token counts
    * (doc_id, source, n_tokens) — the tokenizer is the caller's choice
    * (whitespace above, the BPE merge-table count in `packBpe`).
    * Zero-token docs are dropped explicitly: they contribute nothing to
    * any sequence, and Spark's `sequence(a, b)` DESCENDS when b < a
    * where other engines' generate_series is empty — semantics worth
    * pinning rather than inheriting.
    */
  def packOnCounts(docTok: DataFrame, B: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    docTok
      .filter(col("n_tokens") > 0)
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .withColumn("seq_id",
        explode(expr(s"sequence(start_off div $B, (end_off - 1) div $B)")))
      .withColumn("contrib",
        least(col("end_off"), (col("seq_id") + 1) * B) -
          greatest(col("start_off"), col("seq_id") * B))
      .groupBy(col("source"), col("seq_id").cast("long").as("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("contrib")).as("seq_tokens"),
        sum(when(col("contrib") < col("n_tokens"), 1L).otherwise(0L)).as("n_straddle"),
        min(col("doc_id")).cast("long").as("first_doc"))
      .withColumn("fill_ratio", col("seq_tokens").cast("double") / B)
      .orderBy(col("source"), col("seq_id"))
  }


  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
      |  FROM t),
      |e AS (
      |  SELECT doc_id, source, n_tokens, end_off, end_off - n_tokens AS start_off,
      |    unnest(generate_series((end_off - n_tokens) // 256, (end_off - 1) // 256)) AS seq_id
      |  FROM o),
      |c AS (
      |  SELECT source, seq_id, doc_id, n_tokens,
      |    least(end_off, (seq_id + 1) * 256) - greatest(start_off, seq_id * 256) AS contrib
      |  FROM e)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(contrib) AS BIGINT) AS seq_tokens,
      |  CAST(sum(CASE WHEN contrib < n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc,
      |  CAST(sum(contrib) AS DOUBLE) / 256 AS fill_ratio
      |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin

  /** Packing-efficiency rollup — the per-shard report a pre-training
    * pipeline watches to decide whether its sequence budget is right:
    * sequences produced, tokens packed, fully-filled sequence count,
    * mean fill ratio, and the straddle rate (what fraction of doc-slots
    * cross a sequence boundary — the attention-mask complexity proxy).
    * Pure aggregation over the q_pack_sequences frame: one extra
    * hash-agg keyed on `source`, nothing new to shuffle at 100 TB.
    * fill_ratio values are exact multiples of 1/256 (≤ 8 decimal
    * digits), so the decimal mean is exact cross-engine.
    */
  val packStats: Q = (spark, dir) =>
    packSequencesOver(documents(spark, dir), 256)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("seq_tokens")).as("total_tokens"),
        sum(when(col("fill_ratio") === 1.0, 1L).otherwise(0L)).as("full_seqs"),
        r4(davg(col("fill_ratio"))).as("mean_fill"),
        sum(col("n_straddle")).as("n_straddle"),
        sum(col("n_docs")).as("n_doc_slots"))
      .withColumn("straddle_rate",
        r4(col("n_straddle").cast("double") / col("n_doc_slots").cast("double")))
      .orderBy(col("source"))

  val packStatsSql: String =
    s"""SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN fill_ratio = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS full_seqs,
       |  ${sqlR4(sqlDavg("fill_ratio"))} AS mean_fill,
       |  CAST(sum(n_straddle) AS BIGINT) AS n_straddle,
       |  CAST(sum(n_docs) AS BIGINT) AS n_doc_slots,
       |  ${sqlR4("CAST(sum(n_straddle) AS DOUBLE) / CAST(sum(n_docs) AS DOUBLE)")} AS straddle_rate
       |FROM ($packSequencesSql) GROUP BY source ORDER BY source""".stripMargin

  /** Tokenizer-aware sequence packing: the same concatenate-then-split
    * packing as q_pack_sequences, but on REAL tokenizer token counts —
    * an ordered BPE merge table applied per word — instead of the
    * whitespace proxy every packed-sequence consumer otherwise inherits
    * (r5 VERDICT missing #1).
    *
    * The tokenizer: each word becomes piece-boundary-bracketed
    * characters (`the` → `[t][h][e]`), and the merge table applies IN
    * RANK ORDER as a fold of string replaces (`[t][h]`→`[th]`); the
    * token count is the surviving piece count. The bracket encoding is
    * what makes one `replace` per rule exact BPE application: a merged
    * piece `[th]` cannot partially match a later rule's `[h][e]`, and
    * leftmost-nonoverlapping replace — the same semantics in Spark and
    * DuckDB — is precisely BPE's simultaneous left-to-right application
    * of one rule. The application engine takes ANY ordered merge list
    * (multi-char pieces like `[th][e]`→`[the]` work identically); the
    * self-contained derivation here learns a one-level table — the
    * top-16 character bigrams by corpus frequency, deterministic
    * tie-break — where a production run would broadcast its trained
    * merge list instead.
    *
    * Scale shape: the tokenizer runs per DISTINCT WORD (the vocabulary
    * is tiny relative to any corpus — the classic Zipf asymmetry), with
    * the 16-rule table as a one-row broadcast; per-doc counts are one
    * explode + broadcast-join + sum keyed on doc_id; the packing adds
    * its usual window + aggregate. No vocabulary-sized sort, nothing on
    * the driver.
    */
  /** ONE pinned vocabulary table (word, wcnt) shared by both BPE packers
    * and every learning round inside packBpe2 — without it the corpus
    * explode + word shuffle re-runs once per learning round (5× for the
    * 4-round packer). Vocabulary-sized (the Zipf asymmetry), so the pin
    * is tiny.
    */
  private def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"pack.wcount:$dir") {
      documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
    }

  /** word → BPE piece count under the one-level top-16 bigram merge
    * table — packBpe's tokenizer half, factored out so the fertility
    * report tokenizes identically.
    */
  /** The one-level merge table as a 16-row (rank, pat, rep) frame — the
    * trainable half of `bpeWordTok`, factored out so BpeArtifact can
    * persist exactly what the in-plan path derives.
    */
  private[graft] def bpeRules1Table(spark: SparkSession, dir: String): DataFrame = {
    val wcount = wordCounts(spark, dir)
    val bigrams = wcount
      .select(col("wcnt"), explode(expr(
        """CASE WHEN length(word) >= 2
          |  THEN transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("bigram"))
      .groupBy(col("bigram")).agg(sum(col("wcnt")).as("cnt"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("bigram"))
    bigrams.orderBy(col("cnt").desc, col("bigram")).limit(16)
      .withColumn("rank", row_number().over(wRank))
      .select(col("rank"),
        concat(lit("["), expr("substr(bigram, 1, 1)"), lit("]["),
          expr("substr(bigram, 2, 1)"), lit("]")).as("pat"),
        concat(lit("["), col("bigram"), lit("]")).as("rep"))
  }

  /** The trained multi-round merge table (q_pack_bpe2's model) — public
    * so BpeArtifact persists the exact artifact the in-session path
    * learns.
    */
  private[graft] def bpeTrainRules2(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeLearnRules(wordCounts(spark, dir), rounds = 4, perRound = 4)

  private def bpeWordTok(spark: SparkSession, dir: String): DataFrame = {
    val wcount = wordCounts(spark, dir)
    // Model artifact resolution: a persisted, CURRENT merge table (built
    // once by BpeArtifact.ensure — q_pack_bpe2's rules2For triggers it)
    // is read from parquet with zero training jobs; otherwise the table
    // derives in-plan as before. Identical rules either way (the
    // artifact IS the in-plan derivation, persisted).
    val artDir = graft.ext.BpeArtifact.defaultDir(dir)
    val r1 =
      if (graft.ext.BpeArtifact.isCurrent(spark, dir, artDir))
        graft.ext.BpeArtifact.rules1(spark, artDir)
      else bpeRules1Table(spark, dir)
    // 16 rows → one-row broadcast dim holding the rank-ordered rules.
    val rules = r1
      .select(struct(col("rank"), col("pat"), col("rep")).as("m"))
      .agg(array_sort(collect_list(col("m"))).as("rules"))
    wcount.crossJoin(broadcast(rules))
      .withColumn("wrapped", regexp_replace(col("word"), "(.)", "[$1]"))
      .withColumn("reduced", expr(
        "aggregate(rules, wrapped, (acc, m) -> replace(acc, m.pat, m.rep))"))
      .select(col("word"),
        (length(col("reduced")) - length(expr("replace(reduced, '[', '')")))
          .cast("long").as("n_tok"))
  }

  /** The (word → n_tok) tokenizer table, memoized (r16): both consumers
    * re-ran the per-distinct-word regexp wrap + 16-rule fold per bench
    * run (~2 CPU-s) for a vocabulary-sized result that is constant per
    * corpus — the staged table a production tokenizer run writes once.
    * (Consumers sit in different bench families, so each family builds
    * it once and the family-boundary releasePins clears it.)
    */
  private def bpeWordTokMemo(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"pack.wtok:$dir") {
      bpeWordTok(spark, dir)
    }

  val packBpe: Q = (spark, dir) => {
    val words = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
    val docTokens = words.join(bpeWordTokMemo(spark, dir), "word")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_tok")).cast("long").as("n_tokens"))
    packOnCounts(docTokens, 256)
  }

  /** Tokenizer fertility by source — the tokenizer-health metric a
    * pre-training run tracks per corpus slice: BPE pieces per
    * whitespace word (fertility; 1.0 = every word one piece, higher =
    * the merge table fits this slice poorly) and characters per piece
    * (compression). A slice whose fertility is an outlier either needs
    * tokenizer retraining or is the wrong language/domain for the
    * current vocabulary. Same Zipf shape as packBpe: the tokenizer
    * runs per DISTINCT word, occurrences join the tiny word table and
    * aggregate per source — one broadcast-ish join + one keyed
    * aggregation, nothing vocabulary-sized shuffles.
    */
  val bpeFertility: Q = (spark, dir) => {
    val words = documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    words.join(bpeWordTokMemo(spark, dir), "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).cast("long").as("n_pieces"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        r6(col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        r6(col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("source"))
  }

  /** The one-level BPE tokenizer as a DuckDB CTE block (wcount → big →
    * m → rules → wtok), interpolated into BOTH `packBpeSql` and
    * `bpeFertilitySql` so the two oracles cannot drift apart (r10
    * ADVICE: a textual duplicate would let a merge-table change in one
    * silently break the "fertility tokenizes identically to packBpe"
    * contract the Scala side guarantees via the shared `bpeWordTok`).
    */
  private val bpeOneLevelTokCtes: String =
    """wcount AS (SELECT word, count(*) AS wcnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word),
      |big AS (
      |  SELECT substr(word, i, 2) AS bigram, sum(wcnt) AS cnt
      |  FROM (SELECT word, wcnt,
      |          unnest(generate_series(1, length(word) - 1)) AS i
      |        FROM wcount)
      |  GROUP BY 1),
      |m AS (SELECT bigram, cnt FROM big ORDER BY cnt DESC, bigram LIMIT 16),
      |rules AS (
      |  SELECT list('[' || substr(bigram, 1, 1) || '][' || substr(bigram, 2, 1) || ']='
      |              || '[' || bigram || ']'
      |              ORDER BY cnt DESC, bigram) AS rl
      |  FROM m),
      |wtok AS (
      |  SELECT word,
      |    CAST(length(reduced) - length(replace(reduced, '[', '')) AS BIGINT) AS n_tok
      |  FROM (
      |    SELECT word,
      |      list_reduce(
      |        list_prepend(regexp_replace(word, '(.)', '[\1]', 'g'),
      |                     COALESCE((SELECT rl FROM rules), [])),
      |        (acc, r) -> replace(acc, split_part(r, '=', 1), split_part(r, '=', 2))) AS reduced
      |    FROM wcount))""".stripMargin

  // The shared block is spliced AFTER stripMargin (placeholder replace,
  // not interpolation): its SQL `||` concat operators sit at line starts,
  // which a second stripMargin pass would eat.
  val bpeFertilitySql: String =
    s"""WITH words AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |@BPE_TOK_CTES@,
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_tok) AS BIGINT) AS n_pieces,
       |    CAST(sum(length(word)) AS BIGINT) AS n_chars
       |  FROM words JOIN wtok USING (word)
       |  GROUP BY source)
       |SELECT source, n_words, n_pieces,
       |  ${sqlR6("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)")} AS fertility,
       |  ${sqlR6("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)")} AS chars_per_piece
       |FROM agg ORDER BY source""".stripMargin
      .replace("@BPE_TOK_CTES@", bpeOneLevelTokCtes)

  val packBpeSql: String =
    """WITH words AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |@BPE_TOK_CTES@,
      |t AS (
      |  SELECT doc_id, source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |  FROM words JOIN wtok USING (word)
      |  GROUP BY doc_id, source),
      |o AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
      |  FROM t WHERE n_tokens > 0),
      |e AS (
      |  SELECT doc_id, source, n_tokens, end_off, end_off - n_tokens AS start_off,
      |    unnest(generate_series((end_off - n_tokens) // 256, (end_off - 1) // 256)) AS seq_id
      |  FROM o),
      |c AS (
      |  SELECT source, seq_id, doc_id, n_tokens,
      |    least(end_off, (seq_id + 1) * 256) - greatest(start_off, seq_id * 256) AS contrib
      |  FROM e)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(contrib) AS BIGINT) AS seq_tokens,
      |  CAST(sum(CASE WHEN contrib < n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc,
      |  CAST(sum(contrib) AS DOUBLE) / 256 AS fill_ratio
      |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin
      .replace("@BPE_TOK_CTES@", bpeOneLevelTokCtes)

  // ---- Multi-level BPE (the real recursion: merged pieces merge again) ----

  /** Iterated BPE merge learning (r6 VERDICT #6): `rounds` rounds, each
    * counting adjacent-PIECE pairs over the CURRENT reduction of every
    * distinct word — so a piece merged in round k is itself a merge
    * candidate in round k+1 (`[t][h]`→`[th]`, then `[th][e]`→`[the]`),
    * which the one-level `packBpe` table cannot express. Per round the
    * top `perRound` pairs by corpus frequency join the table
    * (deterministic cnt-desc, then lexicographic tie-break), and
    * application order is round-major: exactly the order the rules were
    * learned, as real BPE requires.
    *
    * Each round is ONE flat vocabulary aggregation (over the pinned
    * `pack.wcount` memo), and the round's ≤ `perRound` winning merges
    * COLLECT to the driver: the merge table is the trained MODEL
    * ARTIFACT (16 short strings), not data — production BPE training
    * does exactly this before shipping the table to tokenizer workers.
    * The first, all-lazy formulation instead nested every round's
    * one-row rules frame inside the next round's plan, re-executing the
    * whole chain once per round (quadratic re-planning: q_pack_bpe2 was
    * the most expensive query in the r7 sweep at 3.9 s warm). Returns
    * the (pattern, replacement) list in application order.
    */
  def bpeLearnRules(wcount: DataFrame, rounds: Int,
                    perRound: Int): Seq[(String, String)] = {
    var rules = Vector.empty[(String, String)]
    for (_ <- 1 to rounds) {
      val top = bpeReduce(wcount, rules)
        .withColumn("pieces",
          split(expr("substr(reduced, 2, length(reduced) - 2)"), "\\]\\["))
        .filter(size(col("pieces")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, size(pieces) - 1), i -> struct(pieces[i-1] AS a, pieces[i] AS b))")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(perRound)
        .collect()
      rules ++= top.map(r =>
        (s"[${r.getString(0)}][${r.getString(1)}]",
          s"[${r.getString(0)}${r.getString(1)}]"))
    }
    rules
  }

  /** Fold an ordered merge table over every distinct word: the word as
    * bracket-wrapped chars, one leftmost-nonoverlapping `replace` per
    * rule in learned order (the same application engine as `packBpe`,
    * which makes each replace exact BPE application — see its scaladoc).
    * The literal rules compile to a chain of `replace` calls inside
    * whole-stage codegen — no join, no broadcast, a pure per-row map.
    * Returns (word, wcnt, reduced).
    */
  def bpeReduce(wcount: DataFrame, rules: Seq[(String, String)]): DataFrame =
    wcount.withColumn("reduced",
      rules.foldLeft(regexp_replace(col("word"), "(.)", "[$1]")) {
        case (acc, (pat, rep)) => replace(acc, lit(pat), lit(rep))
      })
      .select(col("word"), col("wcnt"), col("reduced"))

  /** Sequence packing on MULTI-LEVEL BPE token counts: 4 learning rounds
    * × top-4 merges (16 rules, like `packBpe`, but merged pieces can
    * merge again). Same Zipf shape as `packBpe`: the tokenizer runs per
    * distinct word with the rules as a one-row broadcast; the rounds add
    * three more vocabulary-sized aggregations (tiny next to any corpus).
    */
  val packBpe2: Q = (spark, dir) => {
    val words = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
    val wcount = wordCounts(spark, dir)
    // Train-once/serve-forever: rules come from the persisted artifact
    // (built on first need — BpeArtifact.ensure trains via
    // bpeTrainRules2, i.e. the exact chain below it replaces), so a warm
    // session applies the merge table with ZERO learning aggregations.
    val rules = graft.ext.BpeArtifact.rules2For(spark, dir)
    val wtok = bpeReduce(wcount, rules)
      .select(col("word"),
        (length(col("reduced")) - length(expr("replace(reduced, '[', '')")))
          .cast("long").as("n_tok"))
    val docTokens = words.join(wtok, "word")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_tok")).cast("long").as("n_tokens"))
    packOnCounts(docTokens, 256)
  }

  /** The DuckDB twin unrolls the 4 learning rounds as CTE pairs
    * (pcK = piece-pair counts over redK−1, rlK = that round's ordered
    * rules, redK = the fold applied) — a finite unroll is why rounds=4
    * stays oracle-able. Fold over concatenated per-round lists equals
    * the nested per-round folds, so the incremental redK formulation
    * here and the Spark side's from-scratch fold per round agree.
    */
  val packBpe2Sql: String = {
    def round(k: Int): String =
      s"""pc$k AS (
         |  SELECT p[i] AS a, p[i+1] AS b, sum(wcnt) AS cnt
         |  FROM (SELECT wcnt, p, unnest(generate_series(1, len(p) - 1)) AS i
         |        FROM (SELECT wcnt, string_split(red[2:-2], '][') AS p FROM red${k - 1})
         |        WHERE len(p) >= 2)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT a, b, cnt FROM pc$k ORDER BY cnt DESC, a, b LIMIT 4),
         |rl$k AS (
         |  SELECT COALESCE(list('[' || a || '][' || b || ']=[' || a || b || ']'
         |                       ORDER BY cnt DESC, a, b), []) AS rl
         |  FROM m$k),
         |red$k AS (
         |  SELECT word, wcnt,
         |    list_reduce(list_prepend(red, (SELECT rl FROM rl$k)),
         |      (acc, r) -> replace(acc, split_part(r, '=', 1), split_part(r, '=', 2))) AS red
         |  FROM red${k - 1})""".stripMargin
    s"""WITH words AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |wcount AS (SELECT word, count(*) AS wcnt FROM words GROUP BY word),
       |red0 AS (
       |  SELECT word, wcnt, regexp_replace(word, '(.)', '[\\1]', 'g') AS red
       |  FROM wcount),
       |${(1 to 4).map(round).mkString(",\n")},
       |wtok AS (
       |  SELECT word,
       |    CAST(length(red) - length(replace(red, '[', '')) AS BIGINT) AS n_tok
       |  FROM red4),
       |t AS (
       |  SELECT doc_id, source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM words JOIN wtok USING (word)
       |  GROUP BY doc_id, source),
       |o AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
       |  FROM t WHERE n_tokens > 0),
       |e AS (
       |  SELECT doc_id, source, n_tokens, end_off, end_off - n_tokens AS start_off,
       |    unnest(generate_series((end_off - n_tokens) // 256, (end_off - 1) // 256)) AS seq_id
       |  FROM o),
       |c AS (
       |  SELECT source, seq_id, doc_id, n_tokens,
       |    least(end_off, (seq_id + 1) * 256) - greatest(start_off, seq_id * 256) AS contrib
       |  FROM e)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(contrib) AS BIGINT) AS seq_tokens,
       |  CAST(sum(CASE WHEN contrib < n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
       |  CAST(min(doc_id) AS BIGINT) AS first_doc,
       |  CAST(sum(contrib) AS DOUBLE) / 256 AS fill_ratio
       |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin
  }

  /** Benchmark-contamination check: per training document, the fraction
    * of its distinct 8-grams that appear anywhere in the benchmark set
    * (here: doc_id < 20 standing in for an eval suite) — the
    * decontamination gate every serious pre-training pipeline runs.
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus
    * → broadcast; the train side is explode → broadcast-semi-join →
    * per-doc count, so the corpus is scanned once and never shuffled on
    * gram (at a 100 TB corpus with a big benchmark suite the broadcast
    * becomes a bloom-filter pre-pass in front of the same join).
    */
  /** Shared by the contamination pair: (doc_id, gram) per distinct
    * 8-gram, and the per-doc report tail over (train grams, hit counts).
    */
  /** Bench-side grams (doc_id < 20): derived from the raw scan every
    * time — 20 documents behind a doc_id filter that must PUSH into the
    * parquet scan (spec-pinned; a memo would hide the pushdown and the
    * side is trivial anyway).
    */
  private def contamBenchGrams(spark: SparkSession, dir: String): DataFrame =
    contamGramsOf(documents(spark, dir).filter(col("doc_id") < 20))

  /** Train-side grams, memoized (r15): the corpus-gram explode re-ran
    * per run AND per consumer, serially — the single-row-group documents
    * file gives the explode stage one task. The memo pays the explode
    * once per family and re-spreads it by doc_id (hash, no
    * sort-before-repartition) so every downstream stage is parallel and
    * the per-doc hit count is co-partitioned with the cache.
    */
  private def contamTrainGrams(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"text.contamtrain:$dir") {
      contamGramsOf(documents(spark, dir).filter(col("doc_id") >= 20))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    }

  private def contamGramsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(toks) - 7),
          |                         i -> concat_ws(' ', slice(toks, i, 8))))""".stripMargin)).as("gram"))

  private def contamReport(train: DataFrame, hits: DataFrame): DataFrame =
    contamReportOver(
      train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams")), hits)

  private def contamReportOver(totals: DataFrame, hits: DataFrame): DataFrame = {
    totals.join(hits, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r6(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams").cast("double"))
          .as("overlap_ratio"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams").cast("double") > 0.1)
          .as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  val textContamination: Q = (spark, dir) => {
    val bench = contamBenchGrams(spark, dir).select(col("gram")).distinct()
    val train = contamTrainGrams(spark, dir)
    val hits = train.join(broadcast(bench), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    contamReport(train, hits)
  }

  /** The contamination check with the bloom pre-pass in front of the
    * exact join — the 100 TB shape the plain variant's scaladoc
    * promises. Identical output by construction: the bloom admits a
    * superset of the true hit grams (false positives only, never false
    * negatives), and the exact broadcast semi-join behind it removes
    * the false positives; the report tail counts totals from the
    * UNFILTERED train side.
    *
    * Materialization follows Spark's own `InjectRuntimeFilter`: the
    * filter is BUILT distributed (one `bloom_agg` aggregation over the
    * bench grams), the O(numBits/8) artifact — ~100 KB here, a model
    * artifact like the BPE rule table — comes to the driver once, and
    * is redistributed as a fold-constant literal so the per-gram probe
    * (`bloom_might_contain`, Spark's codegen'd `BloomFilterMightContain`)
    * runs inside WholeStageCodegen at scan speed. At a big benchmark
    * suite the win is that only pre-pass survivors (≈ true overlap +
    * fpp·|train|) reach the hash join, instead of every train gram.
    */
  val textContaminationBloom: Q = (spark, dir) => {
    val bench = contamBenchGrams(spark, dir).select(col("gram")).distinct()
    val train = contamTrainGrams(spark, dir)
    // The built filter is a deterministic ~100 KB model artifact —
    // value-memoized (r15) so warm runs skip the build job.
    val bf = Det.memoValue(spark, s"textval.contambloom:$dir") {
      bench.agg(expr("bloom_agg(xxhash64(gram), 100000L, 800000L)").as("bf"))
        .head.getAs[Array[Byte]]("bf")
    }
    // Empty bench → null bloom → the probe is null → filter admits
    // nothing, which IS the exact semantics (no bench grams, no hits).
    val pre = train.filter(
      call_function("bloom_might_contain", lit(bf), xxhash64(col("gram"))))
    val hits = pre.join(broadcast(bench), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    contamReport(train, hits)
  }

  /** The contamination check SERVED from the postings artifact (v7 —
    * the per-run corpus-gram explode was the last recurring corpus
    * derivation in the text family): the corpus side scans `contamgrams`
    * (doc_id, xxhash64(gram)) — a two-column columnar read, no split /
    * transform / array_distinct CPU — and only HASH-candidate documents
    * are re-tokenized for the exact string verify (hashes have no false
    * negatives, so a doc with no candidate is provably clean; the
    * string join removes hash false positives, so the output is
    * identical to the in-session check and shares its oracle). The
    * denominator comes from `contamdocs` (exact distinct-gram totals,
    * computed from strings at build). The benchmark side still derives
    * from raw text — it is 20 documents behind a pushed doc_id filter.
    */
  val textContaminationServed: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    // A PINNED pre-v7 artifact (a time-travel snapshot published before
    // the contamination tables existed) lacks them — fall back to the
    // in-session check rather than fail the snapshot read; a live
    // artifact always has them (the schema bump rebuilds).
    if (!new java.io.File(
        graft.ext.PostingsIndex.tablePath(idx, "contamgrams")).isDirectory)
      textContamination(spark, dir)
    else textContaminationServedOverIdx(spark, dir, idx)
  }

  private def textContaminationServedOverIdx(spark: SparkSession, dir: String,
                                             idx: String): DataFrame = {
    val totals = graft.ext.PostingsIndex.contamdocs(spark, idx)
      .filter(col("doc_id") >= 20)
    val bench = contamBenchGrams(spark, dir).select(col("gram")).distinct()
    val benchHash = bench.select(xxhash64(col("gram")).as("ghash")).distinct()
    val candDocs = graft.ext.PostingsIndex.contamgrams(spark, idx)
      .filter(col("doc_id") >= 20)
      .join(broadcast(benchHash), Seq("ghash"), "left_semi")
      .select(col("doc_id")).distinct()
    val candGrams = contamGramsOf(
      documents(spark, dir).join(candDocs, Seq("doc_id"), "left_semi"))
    val hits = candGrams.join(broadcast(bench), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    contamReportOver(totals, hits)
  }

  val textContaminationSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(toks[i : i + 7], ' ')
       |     for i in generate_series(1, len(toks) - 7)])) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |  WHERE len(toks) >= 8),
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20),
       |train AS (SELECT doc_id, gram FROM grams WHERE doc_id >= 20),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hit FROM train
       |  WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id),
       |totals AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id)
       |SELECT t.doc_id, t.n_grams,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  ${sqlR6("CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)")} AS overlap_ratio,
       |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE) > 0.1 AS is_contaminated
       |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Chunk-level exact dedup — q_text_chunks composed with the hash-group
    * dedup: identical 64-token chunks appearing more than once anywhere
    * in the corpus (near-dup documents share most of their chunks, so
    * chunk-level dedup catches repetition document-level exact dedup
    * misses). One shuffle on the chunk hash.
    */
  val textChunkDedup: Q = (spark, dir) =>
    textChunks(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_copies") > 1)
      .orderBy(col("chunk_hash"))

  val textChunkDedupSql: String =
    s"""SELECT chunk_hash, count(*) AS n_copies,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM ($textChunksSql)
       |GROUP BY chunk_hash HAVING count(*) > 1
       |ORDER BY chunk_hash""".stripMargin

  /** C4-style boilerplate removal: the corpus-frequency pass that strips
    * segments (8-token stride-aligned spans — the "lines" of a corpus
    * whose documents carry no newlines) occurring verbatim in ≥ 3
    * distinct documents, the way C4 dropped any line repeated three
    * times across the crawl (Raffel et al. 2020 §2.2's "three-sentence
    * span" rule re-expressed at segment granularity). Unlike
    * `textChunkDedup` — which REPORTS duplicated chunks — this REWRITES
    * each document: boilerplate segments are cut and the survivors
    * reassembled in position order, with per-document audit counts.
    *
    * Scale shape: one explode + one shuffle on the segment text builds
    * the document-frequency table; the hot set (df ≥ 3) is bounded by
    * |corpus segments| / 3 in theory but is tiny in practice (navbars,
    * license headers, cookie banners — ~20 segments here), so it
    * broadcasts back and the rewrite is a per-row map + one final
    * aggregation on doc_id. At 100 TB the broadcast would be gated on
    * measured cardinality exactly like Dedup's survivors hint
    * (spark.graft.dedup.survivorsBroadcastMaxRows); the df table itself
    * is the artifact a real crawl pipeline persists and reuses across
    * snapshots.
    */
  private[graft] val BoilerSegTokens = 8
  private[graft] val BoilerMinDocs = 3

  /** Stride-aligned segment explode shared by the batch rewrite and the
    * hot-set derivation (and, width-wise, the streaming twin).
    */
  private def boilerSegments(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks), $BoilerSegTokens), " +
          s"i -> concat_ws(' ', slice(toks, i, $BoilerSegTokens)))")).as(Seq("pos", "seg")))

  /** The trained artifact of the boilerplate pass: segments occurring in
    * ≥ minDocs distinct documents. This is what a streaming ingest
    * freezes and applies per batch (EventStream.boilerStream) — the same
    * train-rarely / apply-per-batch asymmetry as the IVF quantizer.
    */
  def boilerHotSegments(docs: DataFrame, minDocs: Int = BoilerMinDocs): DataFrame =
    boilerSegments(docs).groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("seg"))

  /** The rewrite core, parameterized by input frame (any (doc_id, text))
    * and threshold so CorpusPipeline's stage 1.9 applies the exact rule
    * the oracle verifies. Returns (doc_id, n_seg, n_boiler, clean_text).
    */
  def boilerplateCleanOver(docs: DataFrame, minDocs: Int = BoilerMinDocs): DataFrame = {
    val seg = boilerSegments(docs)
    val hot = boilerHotSegments(docs, minDocs)
      .select(col("seg"), lit(true).as("is_hot"))
    seg.join(broadcast(hot), Seq("seg"), "left")
      .withColumn("is_boiler", coalesce(col("is_hot"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN NOT is_boiler THEN named_struct('p', pos, 's', seg) END)), x -> x.s)"))
          .as("clean_text"))
  }

  val textBoilerplate: Q = (spark, dir) =>
    boilerplateCleanOver(documents(spark, dir))
      .select(col("doc_id"), col("n_seg"), col("n_boiler"),
        r6(col("n_boiler").cast("double") / col("n_seg").cast("double")).as("boiler_frac"),
        col("clean_text"))
      .orderBy(col("doc_id"))

  val textBoilerplateSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |x AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $BoilerSegTokens)) AS i FROM t),
       |seg AS (
       |  SELECT doc_id, CAST((i - 1) // $BoilerSegTokens AS BIGINT) AS pos,
       |    array_to_string(toks[i : i + ${BoilerSegTokens - 1}], ' ') AS seg
       |  FROM x),
       |hot AS (
       |  SELECT seg FROM (
       |    SELECT seg, count(DISTINCT doc_id) AS ndocs FROM seg GROUP BY seg) d
       |  WHERE ndocs >= $BoilerMinDocs),
       |m AS (
       |  SELECT doc_id, pos, seg, seg IN (SELECT seg FROM hot) AS is_boiler
       |  FROM seg),
       |a AS (
       |  SELECT doc_id, count(*) AS n_seg,
       |    CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |    array_to_string(list(seg ORDER BY pos) FILTER (WHERE NOT is_boiler), ' ') AS clean_text
       |  FROM m GROUP BY doc_id)
       |SELECT doc_id, n_seg, n_boiler,
       |  ${sqlR6("CAST(n_boiler AS DOUBLE) / CAST(n_seg AS DOUBLE)")} AS boiler_frac,
       |  coalesce(clean_text, '') AS clean_text
       |FROM a ORDER BY doc_id""".stripMargin

  /** Count-based bigram language-model scoring — the perplexity-filter
    * family (KenLM-gated corpus cleaning) re-expressed in rationals so
    * it verifies hash-exact: a bigram LM is trained ON the corpus (c12 =
    * corpus count of the bigram, c1 = corpus count of its context as a
    * context), and every document is scored by the mean conditional
    * probability of its bigram occurrences, mean over occurrences of
    * p(w2|w1) = c12/c1 — high = the doc walks well-trodden corpus
    * paths (templated), low = unusual transitions (novel or gibberish).
    * No logs: log-perplexity needs libm and rule 8 forbids
    * transcendentals; the mean-probability ordering carries the same
    * filter signal and every division is one IEEE op. Alongside: the
    * fraction of the doc's bigram TYPES that occur in no other document
    * (df = 1) — the novelty ratio a dedup-adjacent gate reads.
    *
    * Scale shape: one bigram explode feeds three partial-aggregated
    * counts (occurrence counts keyed on the gram, context totals keyed
    * on w1, document frequency keyed on the gram); the LM table — the
    * persisted model artifact at 100 TB — joins back to per-doc gram
    * counts on the gram key, then one per-doc rollup. Everything
    * shuffles on gram/doc keys with map-side combine; nothing is
    * quadratic and nothing collects.
    */
  val lmScore: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (ext.PostingsIndex v5 — r13
    // VERDICT #6): the trained LM (bigramstats → p = c12/c1, plus the
    // novelty dfs) and the per-doc gram counts (docgrams) are persisted
    // tables, so the warm plan joins two artifact scans and rolls up —
    // the three corpus-sized training aggregates (the bigram explode ×3)
    // never run at query time. The in-session twin below is the same
    // algebra over freshly derived stats; specs pin served ≡ in-session.
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    lmScoreOver(graft.ext.PostingsIndex.docgrams(spark, idx),
      graft.ext.PostingsIndex.bigramLm(spark, idx))
  }

  /** The same algebra over in-session derivations — no artifact
    * consulted; kept so specs can pin served ≡ in-session.
    */
  private[graft] val lmScoreInSession: Q = (spark, dir) => {
    val bg = documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', element_at(toks, i), 'gram', concat_ws(' ', slice(toks, i, 2))))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.gram").as("gram"))
    val cnt = bg.groupBy(col("gram"), col("w1")).agg(count(lit(1)).as("c12"))
    val ctx = cnt.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val lm = cnt.join(ctx, "w1")
      .select(col("gram"), (col("c12").cast("double") / col("c1").cast("double")).as("p"))
    val df = bg.groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("gdf"))
    val docGrams = bg.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("n_occ"))
    lmScoreOver(docGrams, lm.join(df, "gram"))
  }

  /** The per-doc LM rollup, parameterized over where (doc, gram, n_occ)
    * and the trained (gram, p, gdf) model come from — the persisted
    * artifact or the in-session derivation. One body keeps the served
    * path bit-identical to the oracle-verified one by construction
    * (c12/c1 are exact longs either way, so p is the same IEEE double;
    * the mean rides Det.dsum — order-free decimal).
    */
  private[graft] def lmScoreOver(docGrams: DataFrame, lm: DataFrame): DataFrame =
    docGrams.join(lm, "gram")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_occ")).as("n_bigrams"),
        count(lit(1)).as("n_types"),
        sum(when(col("gdf") === 1, 1L).otherwise(0L)).as("novel_types"),
        (dsum(col("p") * col("n_occ").cast("double")) /
          sum(col("n_occ")).cast("double")).as("mp"))
      .select(col("doc_id"), col("n_bigrams"), col("n_types"), col("novel_types"),
        r6(col("novel_types").cast("double") / col("n_types").cast("double")).as("novel_frac"),
        r6(col("mp")).as("mean_prob"))
      .orderBy(col("doc_id"))

  val lmScoreSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, u.w1, u.gram FROM (
       |    SELECT doc_id, unnest([{'w1': toks[i], 'gram': array_to_string(toks[i : i + 1], ' ')}
       |                           for i in generate_series(1, len(toks) - 1)]) AS u
       |    FROM t WHERE len(toks) >= 2) s),
       |cnt AS (SELECT gram, w1, count(*) AS c12 FROM bg GROUP BY gram, w1),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cnt GROUP BY w1),
       |lm AS (
       |  SELECT gram, CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
       |  FROM cnt JOIN ctx USING (w1)),
       |gdfs AS (SELECT gram, count(DISTINCT doc_id) AS gdf FROM bg GROUP BY gram),
       |dg AS (SELECT doc_id, gram, count(*) AS n_occ FROM bg GROUP BY doc_id, gram),
       |a AS (
       |  SELECT doc_id,
       |    CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
       |    count(*) AS n_types,
       |    CAST(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_types,
       |    (${sqlDsum("p * CAST(n_occ AS DOUBLE)")} / CAST(sum(n_occ) AS DOUBLE)) AS mp
       |  FROM dg JOIN lm USING (gram) JOIN gdfs USING (gram)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, n_types, novel_types,
       |  ${sqlR6("CAST(novel_types AS DOUBLE) / CAST(n_types AS DOUBLE)")} AS novel_frac,
       |  ${sqlR6("mp")} AS mean_prob
       |FROM a ORDER BY doc_id""".stripMargin

  /** Exact per-source top-k vocabulary: the most frequent tokens of each
    * source shard — the corpus-inspection table (tokenizer audits,
    * boilerplate spotting, source drift) every curation run prints.
    * Exact, not sketched: the two-stage shape (partial count on
    * (source, token), then a row_number window over each source's
    * VOCABULARY — orders of magnitude smaller than the corpus) is the
    * same aggregate-then-rank pattern as q_window_rank, and at 100 TB
    * the window input is |sources| × |vocab| rows, not tokens. Ties
    * break on the token itself, so ranks are engine-stable.
    *
    * SERVED FROM THE POSTINGS ARTIFACT (v6 — r14 VERDICT #4): termstats
    * (term, doc_id, dl, tf, source) already holds the sufficient
    * statistics — per-(source, token) occurrences are Σ tf — so the warm
    * plan is one vocabulary-sized aggregate over the artifact, never a
    * corpus re-tokenization. The last text report family that re-split
    * the whole corpus per run now reads columnar stats instead.
    */
  val topTerms: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    topTermsOver(graft.ext.PostingsIndex.termstats(spark, idx)
      .groupBy(col("source"), col("term").as("token"))
      .agg(sum(col("tf")).as("cnt")))
  }

  /** The same report over in-session tokenization — no artifact
    * consulted; kept so specs can pin served ≡ in-session.
    */
  private[graft] val topTermsInSession: Q = (spark, dir) =>
    topTermsOver(documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt")))

  private def topTermsOver(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("token"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy(col("source"), col("rank"))
  }

  val topTermsSql: String =
    """WITH c AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |g AS (SELECT source, token, count(*) AS cnt FROM c GROUP BY source, token),
      |r AS (
      |  SELECT source, token, cnt,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token) AS BIGINT) AS rank
      |  FROM g)
      |SELECT source, token, cnt, rank FROM r
      |WHERE rank <= 10 ORDER BY source, rank""".stripMargin

  /** Per-source document-length deciles: each source's docs ranked by
    * token count and cut into 10 equal-frequency buckets (ntile over the
    * deterministic (n_tokens, doc_id) order), rolled up to per-bucket
    * count/min/max/mean — the length-distribution table that drives
    * packing budgets and truncation policy. One shuffle on source for
    * the window, one bounded aggregation; at 100 TB the per-source sort
    * is the same shard-local sort the packer already pays.
    */
  val lenDeciles: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (r15): per-doc (source, n_tokens)
    // is exactly the docmeta table — an n_docs-row metadata scan instead
    // of re-tokenizing the corpus text. coalesce(−1) reconstructs the
    // engine's legacy size(NULL) for null-text docs, so served ≡
    // in-session on any corpus (docmeta stores the clean NULL).
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    lenDecilesOver(graft.ext.PostingsIndex.docMeta(spark, idx)
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens")))
  }

  private[graft] val lenDecilesInSession: Q = (spark, dir) =>
    lenDecilesOver(documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  private def lenDecilesOver(perDoc: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))
    perDoc
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("source"), col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        r2(davg(col("n_tokens").cast("double"))).as("mean_tokens"))
      .orderBy(col("source"), col("decile"))
  }

  val lenDecilesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |d AS (
       |  SELECT source, n_tokens,
       |    CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS BIGINT) AS decile
       |  FROM t)
       |SELECT source, decile, count(*) AS n_docs,
       |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       |  ${sqlR2(sqlDavg("CAST(n_tokens AS DOUBLE)"))} AS mean_tokens
       |FROM d GROUP BY source, decile ORDER BY source, decile""".stripMargin

  /** Corpus-mixture report: per (lang, source) document and token
    * counts with each cell's share of total tokens — the data-mixture
    * table a training run is configured against. One aggregation plus
    * an unpartitioned window over the ~|langs|×|sources| cells (bounded
    * post-agg table, same rationale as the daily moving averages).
    */
  val corpusMix: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (r15): (lang, source, n_tokens)
    // is the docmeta table (see lenDeciles for the coalesce(−1) rule).
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    corpusMixOver(graft.ext.PostingsIndex.docMeta(spark, idx)
      .select(col("lang"), col("source"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens")))
  }

  private[graft] val corpusMixInSession: Q = (spark, dir) =>
    corpusMixOver(documents(spark, dir)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  private def corpusMixOver(perDoc: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perDoc
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("token_share",
        r6(col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(w).cast("double")))
      .orderBy(col("lang"), col("source"))
  }

  val corpusMixSql: String =
    s"""WITH per AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY lang, source)
       |SELECT lang, source, n_docs, total_tokens,
       |  ${sqlR6("CAST(total_tokens AS DOUBLE) / CAST(sum(total_tokens) OVER () AS DOUBLE)")} AS token_share
       |FROM per ORDER BY lang, source""".stripMargin

  /** Repetition quality signals (the Gopher-rule family): per document,
    * the fraction of 2-gram occurrences that are duplicates and the share
    * of the single most frequent 2-gram — the cheap detectors for
    * boilerplate / TA-TA-TA degenerate text that token-level stats miss.
    *
    * Scale shape: explode 2-grams → count per (doc, gram) → per-doc
    * rollup — two shuffles keyed on doc_id, both partial-aggregated
    * map-side; no per-row quadratic HOF (an in-row `filter(grams, g ->
    * g = x)` max would be O(n²) per document and uncodegenable for long
    * docs). Thresholds are fixed constants; the raw ratios are exact
    * integer divisions both engines compute bit-identically.
    */
  val textRepetition: Q = (spark, dir) => {
    // Per-document statistics need NO shuffle (r16): the old form
    // exploded every 2-gram and paid two string-keyed exchanges
    // (doc_id, gram) → doc_id for counts that are a pure function of
    // the document's own gram array. Sort the grams once per row; the
    // distinct count is size(array_distinct(·)) and the top count is
    // the longest equal-run of the sorted array (one left fold) —
    // value-identical to max(count per gram). At 100 TB this is the
    // embarrassingly parallel map the old plan's shuffles were hiding.
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("grams", expr(
        "array_sort(transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2))))"))
      .select(
        col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n_2grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct_2grams"),
        expr("""aggregate(grams,
                named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
                (acc, g) -> named_struct(
                  'prev', g,
                  'run',  IF(g <=> acc.prev, acc.run + 1L, 1L),
                  'best', GREATEST(acc.best, IF(g <=> acc.prev, acc.run + 1L, 1L))),
                acc -> acc.best)""").as("top_2gram_count"))
      .select(
        col("doc_id"), col("n_2grams"), col("n_distinct_2grams"), col("top_2gram_count"),
        r6(col("top_2gram_count").cast("double") / col("n_2grams").cast("double"))
          .as("top_2gram_frac"),
        r6((col("n_2grams") - col("n_distinct_2grams")).cast("double") / col("n_2grams").cast("double"))
          .as("dup_2gram_frac"),
        (col("top_2gram_count").cast("double") / col("n_2grams").cast("double") > 0.20 ||
          (col("n_2grams") - col("n_distinct_2grams")).cast("double") / col("n_2grams").cast("double") > 0.30)
          .as("is_repetitive"))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest([array_to_string(toks[i : i + 1], ' ')
       |                         for i in generate_series(1, len(toks) - 1)]) AS gram
       |  FROM t WHERE len(toks) >= 2),
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
       |a AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
       |    count(*) AS n_distinct_2grams, CAST(max(cnt) AS BIGINT) AS top_2gram_count
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_2grams, n_distinct_2grams, top_2gram_count,
       |  ${sqlR6("CAST(top_2gram_count AS DOUBLE) / CAST(n_2grams AS DOUBLE)")} AS top_2gram_frac,
       |  ${sqlR6("CAST(n_2grams - n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)")} AS dup_2gram_frac,
       |  (CAST(top_2gram_count AS DOUBLE) / CAST(n_2grams AS DOUBLE) > 0.20 OR
       |   CAST(n_2grams - n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE) > 0.30) AS is_repetitive
       |FROM a ORDER BY doc_id""".stripMargin

  /** Mixture rebalancing: deterministically hash-sample each source down
    * to an equal token share of HALF the corpus — the static remix step a
    * training run applies when the crawl's natural mixture is not the
    * target mixture. Per-source rate = min(1, target_tokens/source_tokens)
    * with target = 0.5·total/n_sources; docs are kept by their 256-way
    * md5 bucket (same hash-stable sampler as q_sample_hash: identical
    * rows selected in both engines, at any parallelism, and previously
    * kept docs stay kept when the corpus grows).
    *
    * Scale shape: the per-source rate table is |sources| rows → broadcast
    * join against the corpus; the keep filter is a per-row map fused into
    * the scan. One final aggregation keyed on source.
    */
  /** The per-doc (doc_id, source, n_tokens, bucket) frame both mixture
    * samplers score: SERVED from docmeta (r15 — no text read, see
    * lenDeciles for the coalesce(−1) rule), or derived in-session for
    * the equality twins.
    */
  private def mixDocsServed(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    graft.ext.PostingsIndex.docMeta(spark, idx)
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"))
      .withColumn("bucket", mixBucket)
  }

  private def mixDocsInSession(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", mixBucket)

  private def mixBucket: org.apache.spark.sql.Column = {
    def digit(pos: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), $pos, 1)) - 1)"
    expr(s"CAST(${digit(1)} * 16 + ${digit(2)} AS BIGINT)")
  }

  val mixResample: Q = (spark, dir) => mixResampleOver(mixDocsServed(spark, dir))

  private[graft] val mixResampleInSession: Q = (spark, dir) =>
    mixResampleOver(mixDocsInSession(spark, dir))

  private def mixResampleOver(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val rates = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("source_tokens"))
      .withColumn("rate",
        least(lit(1.0),
          lit(0.5) * sum(col("source_tokens")).over(w).cast("double") /
            (count(lit(1)).over(w).cast("double") * col("source_tokens").cast("double"))))
    // Left join back onto the rate table: a source whose every doc missed
    // the hash threshold must still appear in the mixture report (kept=0),
    // not silently vanish.
    val kept = docs.join(broadcast(rates.select(col("source"), col("rate"))), "source")
      .filter(col("bucket").cast("double") < col("rate") * lit(256.0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
    rates.join(kept, Seq("source"), "left_outer")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .withColumn("achieved_share",
        r6(col("kept_tokens").cast("double") / sum(col("kept_tokens")).over(w).cast("double")))
      .select(col("source"), col("source_tokens"), r6(col("rate")).as("sample_rate"),
        col("kept_docs"), col("kept_tokens"), col("achieved_share"))
      .orderBy(col("source"))
  }

  val mixResampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
       |         (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
       |  FROM documents),
       |r AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens,
       |    least(1.0,
       |      0.5 * CAST(sum(CAST(sum(n_tokens) AS BIGINT)) OVER () AS DOUBLE) /
       |        (CAST(count(*) OVER () AS DOUBLE) * CAST(sum(n_tokens) AS DOUBLE))) AS rate
       |  FROM d GROUP BY source),
       |k AS (
       |  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.n_tokens) AS BIGINT) AS kept_tokens
       |  FROM d JOIN r ON d.source = r.source
       |  WHERE CAST(d.bucket AS DOUBLE) < r.rate * 256.0
       |  GROUP BY d.source),
       |j AS (
       |  SELECT r.source, r.source_tokens, r.rate,
       |    coalesce(k.kept_docs, 0) AS kept_docs, coalesce(k.kept_tokens, 0) AS kept_tokens
       |  FROM r LEFT JOIN k ON r.source = k.source)
       |SELECT source, source_tokens, ${sqlR6("rate")} AS sample_rate,
       |  kept_docs, kept_tokens,
       |  ${sqlR6("CAST(kept_tokens AS DOUBLE) / CAST(sum(kept_tokens) OVER () AS DOUBLE)")} AS achieved_share
       |FROM j ORDER BY source""".stripMargin

  /** Temperature-scaled mixture sampling (α = 0.5) — the standard
    * multi-source pre-training knob between "natural mixture" (α = 1,
    * big sources dominate) and "uniform" (α = 0, `mixResample`'s equal
    * shares): target share_i ∝ source_tokens_i^α, so small sources are
    * up-weighted RELATIVE to their size without drowning the large ones.
    * Budget is half the corpus (same as mixResample); per-source rate =
    * min(1, budget·share_i / source_tokens_i); docs keep by the same
    * 256-way md5 bucket (hash-stable: identical rows both engines, kept
    * docs stay kept under growth).
    *
    * Determinism: sqrt is IEEE-exact per element; the cross-source
    * normalizer Σ√tokens is a DECIMAL window sum (order-free), so the
    * shares — and therefore the keep thresholds — are bit-identical in
    * both engines. Scale shape: |sources|-row rate table broadcast into
    * a scan-fused per-row filter, one aggregation keyed on source.
    */
  val mixTemperature: Q = (spark, dir) =>
    mixTemperatureOver(mixDocsServed(spark, dir))

  private[graft] val mixTemperatureInSession: Q = (spark, dir) =>
    mixTemperatureOver(mixDocsInSession(spark, dir))

  private def mixTemperatureOver(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val rates = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("source_tokens"))
      .withColumn("w_raw", sqrt(col("source_tokens").cast("double")))
      .withColumn("weight", col("w_raw") / dsumOver(col("w_raw"), w))
      .withColumn("rate",
        least(lit(1.0),
          lit(0.5) * sum(col("source_tokens")).over(w).cast("double") *
            col("weight") / col("source_tokens").cast("double")))
    val kept = docs.join(broadcast(rates.select(col("source"), col("rate"))), "source")
      .filter(col("bucket").cast("double") < col("rate") * lit(256.0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
    rates.join(kept, Seq("source"), "left_outer")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .withColumn("achieved_share",
        r6(col("kept_tokens").cast("double") / sum(col("kept_tokens")).over(w).cast("double")))
      .select(col("source"), col("source_tokens"),
        r6(col("weight")).as("temp_weight"),
        r6(col("rate")).as("sample_rate"),
        col("kept_docs"), col("kept_tokens"), col("achieved_share"))
      .orderBy(col("source"))
  }

  val mixTemperatureSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
       |         (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
       |  FROM documents),
       |r0 AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens
       |  FROM d GROUP BY source),
       |r AS (
       |  SELECT source, source_tokens,
       |    sqrt(CAST(source_tokens AS DOUBLE)) /
       |      ${sqlDsumOver("sqrt(CAST(source_tokens AS DOUBLE))", "()")} AS weight,
       |    least(1.0,
       |      0.5 * CAST(sum(source_tokens) OVER () AS DOUBLE) *
       |        (sqrt(CAST(source_tokens AS DOUBLE)) /
       |          ${sqlDsumOver("sqrt(CAST(source_tokens AS DOUBLE))", "()")}) /
       |        CAST(source_tokens AS DOUBLE)) AS rate
       |  FROM r0),
       |k AS (
       |  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.n_tokens) AS BIGINT) AS kept_tokens
       |  FROM d JOIN r ON d.source = r.source
       |  WHERE CAST(d.bucket AS DOUBLE) < r.rate * 256.0
       |  GROUP BY d.source),
       |j AS (
       |  SELECT r.source, r.source_tokens, r.weight, r.rate,
       |    coalesce(k.kept_docs, 0) AS kept_docs, coalesce(k.kept_tokens, 0) AS kept_tokens
       |  FROM r LEFT JOIN k ON r.source = k.source)
       |SELECT source, source_tokens,
       |  ${sqlR6("weight")} AS temp_weight,
       |  ${sqlR6("rate")} AS sample_rate,
       |  kept_docs, kept_tokens,
       |  ${sqlR6("CAST(kept_tokens AS DOUBLE) / CAST(sum(kept_tokens) OVER () AS DOUBLE)")} AS achieved_share
       |FROM j ORDER BY source""".stripMargin

  /** Vocabulary coverage: the top-50 tokens by corpus frequency with each
    * token's share and the cumulative share of all token occurrences —
    * the Zipf report that seeds a BPE vocabulary and sizes OOV handling.
    *
    * Scale shape: one shuffle keyed on token for the counts, then the
    * top-50 goes through `orderBy(...).limit(50)` — Spark plans
    * TakeOrderedAndProject (per-partition bounded heaps + driver merge of
    * 50-row tops), NOT a full sort of the vocabulary — and the window
    * runs over the 50 surviving rows with the corpus totals broadcast as
    * a scalar. A trillion-token corpus pays one count shuffle, nothing
    * vocabulary-sized ever sorts globally or crosses to the driver.
    */
  val vocabCoverage: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (v6 — r14 VERDICT #4): corpus
    // token counts are Σ tf per term off termstats; the warm plan is one
    // vocabulary-sized aggregate, no corpus re-tokenization.
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    vocabCoverageOver(graft.ext.PostingsIndex.termstats(spark, idx)
      .groupBy(col("term").as("token")).agg(sum(col("tf")).as("cnt")))
  }

  /** The same report over in-session tokenization — the spec twin. */
  private[graft] val vocabCoverageInSession: Q = (spark, dir) =>
    vocabCoverageOver(documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt")))

  private def vocabCoverageOver(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val rows = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = counts.agg(
      sum(col("cnt")).as("total_tokens"), count(lit(1)).as("vocab_size"))
    counts.orderBy(col("cnt").desc, col("token")).limit(50)
      .crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(rows))
      .select(col("rank"), col("token"), col("cnt").as("occurrences"),
        col("vocab_size"),
        r6(col("cnt").cast("double") / col("total_tokens").cast("double")).as("share"),
        r6(col("cum").cast("double") / col("total_tokens").cast("double")).as("cum_share"))
      .orderBy(col("rank"))
  }

  val vocabCoverageSql: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens, count(*) AS vocab_size FROM c),
       |top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50),
       |r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
       |    token, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM top)
       |SELECT rank, token, cnt AS occurrences, t.vocab_size,
       |  ${sqlR6("CAST(cnt AS DOUBLE) / CAST(total_tokens AS DOUBLE)")} AS share,
       |  ${sqlR6("CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE)")} AS cum_share
       |FROM r CROSS JOIN t ORDER BY rank""".stripMargin

  /** Absolute-threshold quality gate (the C4/Gopher rule family): each
    * document passes or fails four independent gates — token-count
    * bounds, mean-token-length bounds, minimum stopword count, minimum
    * distinct-token ratio — with the failed gate names logged as a
    * reason string (the audit trail a filtering run ships with its drop
    * decisions). Pure per-row map over the corpus: no shuffle before the
    * output sort, every threshold a fixed constant, every ratio an exact
    * IEEE division — bit-identical across engines by construction.
    */
  val qualityGate: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("avg_tok_len",
        (length(col("text")) - col("n_tokens") + 1).cast("double") / col("n_tokens"))
      .withColumn("n_stop", expr(
        "CAST(size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("gate_len", col("n_tokens") >= 30 && col("n_tokens") <= 10000)
      .withColumn("gate_tok_len", col("avg_tok_len") >= 2.0 && col("avg_tok_len") <= 12.0)
      .withColumn("gate_stop", col("n_stop") >= 2)
      .withColumn("gate_uniq", col("uniq_ratio") >= 0.2)
      .select(
        col("doc_id"), col("n_tokens"),
        col("gate_len"), col("gate_tok_len"), col("gate_stop"), col("gate_uniq"),
        (col("gate_len") && col("gate_tok_len") && col("gate_stop") && col("gate_uniq"))
          .as("keep"),
        concat_ws(",",
          when(!col("gate_len"), lit("len")),
          when(!col("gate_tok_len"), lit("tok_len")),
          when(!col("gate_stop"), lit("stop")),
          when(!col("gate_uniq"), lit("uniq"))).as("drop_reasons"))
      .orderBy(col("doc_id"))

  val qualityGateSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks) AS avg_tok_len,
      |    CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
      |  FROM t),
      |g AS (
      |  SELECT doc_id, n_tokens,
      |    n_tokens >= 30 AND n_tokens <= 10000 AS gate_len,
      |    avg_tok_len >= 2.0 AND avg_tok_len <= 12.0 AS gate_tok_len,
      |    n_stop >= 2 AS gate_stop,
      |    uniq_ratio >= 0.2 AS gate_uniq
      |  FROM m)
      |SELECT doc_id, n_tokens, gate_len, gate_tok_len, gate_stop, gate_uniq,
      |  gate_len AND gate_tok_len AND gate_stop AND gate_uniq AS keep,
      |  concat_ws(',',
      |    CASE WHEN NOT gate_len THEN 'len' END,
      |    CASE WHEN NOT gate_tok_len THEN 'tok_len' END,
      |    CASE WHEN NOT gate_stop THEN 'stop' END,
      |    CASE WHEN NOT gate_uniq THEN 'uniq' END) AS drop_reasons
      |FROM g ORDER BY doc_id""".stripMargin

  // ---- PII scrubbing ----

  /** The four PII shapes scrubbed, as an engine-portable regex subset
    * (no lookaround, no backreferences — the Java-regex ∩ RE2 common
    * ground, so the Spark plan and the DuckDB oracle state the SAME
    * pattern): emails, IPv4 addresses, dashed phone numbers, and bare
    * numeric ids of 9+ digits. Application order matters and is fixed —
    * emails first (their local parts contain dots and long digit runs
    * that the later rules would otherwise shred), then IPs (dotted
    * digits), then phones (dashed digits), then bare ids.
    */
  private[graft] val piiEmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val piiIpRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  /** Phone shapes, one alternation so a single replace pass scrubs all:
    * the 4-group dashed international form, NANP `(xxx) xxx-xxxx`,
    * `+1`-prefixed space/dash-separated, and plain dashed 3-3-4
    * (`555-123-4567`). Alternatives are tried leftmost-first in BOTH
    * engines (Java regex and RE2 default to Perl alternation order), so
    * the 4-group form is listed before the 3-3-4 suffix it contains.
    * `+1` carries no leading `\b` — a boundary never holds between a
    * space and `+` (both non-word). Short dashed ranges like
    * `pages 12-34` match none of the alternatives.
    */
  private[graft] val piiPhoneRe =
    """\b\d{2,3}-\d{3}-\d{3}-\d{4}\b|\(\d{3}\) ?\d{3}-\d{4}\b|\+1[ -]\d{3}[ -]\d{3}[ -]\d{4}\b|\b\d{3}-\d{3}-\d{4}\b"""
  private[graft] val piiIdRe = """\b\d{9,}\b"""

  /** Scrub all four PII shapes from a text column, in the fixed order.
    * Built-ins only (regexp_replace chain → whole-stage codegen): the
    * per-row map a 100 TB corpus pass runs with zero shuffles. Wired
    * into `CorpusPipeline` stage 0; `q_pii_scrub` oracle-verifies the
    * semantics on synthesized-but-realistic PII (the harness documents
    * carry no PII shapes, so a documents-table scrub would verify
    * degenerately — NOTES.md r4-r6).
    */
  def scrubPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noEmail = regexp_replace(c, piiEmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, piiIpRe, "<IP>")
    val noPhone = regexp_replace(noIp, piiPhoneRe, "<PHONE>")
    regexp_replace(noPhone, piiIdRe, "<ID>")
  }

  /** Oracle-verified PII scrub on NON-degenerate data: the customer
    * table's key/name synthesize a contact card per customer (email from
    * the name, a dashed phone, a 10-digit account id, an IPv4 — all
    * deterministic arithmetic on c_custkey, so both engines construct
    * identical text), and the scrub runs with per-category counts taken
    * at each step (n_email counts the original text; n_ip counts after
    * email removal; and so on — the counts are "what this rule actually
    * replaced", not overlapping matches).
    */
  val piiScrub: Q = (spark, dir) =>
    customer(spark, dir)
      .select(col("c_custkey"), concat(
        col("c_name"), lit(" can be reached at "),
        lower(regexp_replace(col("c_name"), "#", ".")), lit("@corp.example"),
        lit(" or "), (lit(10) + col("c_custkey") % 90).cast("string"),
        lit("-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("c_custkey") * 7) % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("c_custkey") * 13) % 10000).cast("string"), 4, "0"),
        lit(", ("), lpad(((col("c_custkey") * 3) % 1000).cast("string"), 3, "0"),
        lit(") "), lpad(((col("c_custkey") * 11) % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("c_custkey") * 17) % 10000).cast("string"), 4, "0"),
        lit(", "), lpad(((col("c_custkey") * 19) % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("c_custkey") * 23) % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("c_custkey") * 29) % 10000).cast("string"), 4, "0"),
        lit(", +1 "), lpad(((col("c_custkey") * 31) % 1000).cast("string"), 3, "0"),
        lit(" "), lpad(((col("c_custkey") * 37) % 1000).cast("string"), 3, "0"),
        lit(" "), lpad(((col("c_custkey") * 41) % 10000).cast("string"), 4, "0"),
        lit(" (see pages 12-34)"),
        lit(" (acct "), lpad(col("c_custkey").cast("string"), 10, "0"),
        lit(") from 10."), (col("c_custkey") % 256).cast("string"),
        lit("."), ((col("c_custkey") * 3) % 256).cast("string"),
        lit("."), (col("c_custkey") % 250 + 1).cast("string")).as("text"))
      .withColumn("n_email", regexp_count(col("text"), lit(piiEmailRe)).cast("long"))
      .withColumn("t1", regexp_replace(col("text"), piiEmailRe, "<EMAIL>"))
      .withColumn("n_ip", regexp_count(col("t1"), lit(piiIpRe)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), piiIpRe, "<IP>"))
      .withColumn("n_phone", regexp_count(col("t2"), lit(piiPhoneRe)).cast("long"))
      .withColumn("t3", regexp_replace(col("t2"), piiPhoneRe, "<PHONE>"))
      .withColumn("n_id", regexp_count(col("t3"), lit(piiIdRe)).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("t3"), piiIdRe, "<ID>"))
      .select(col("c_custkey"), col("n_email"), col("n_ip"), col("n_phone"),
        col("n_id"), col("scrubbed"))
      .orderBy(col("c_custkey"))

  val piiScrubSql: String =
    s"""WITH base AS (
       |  SELECT c_custkey,
       |    c_name || ' can be reached at ' || lower(replace(c_name, '#', '.'))
       |      || '@corp.example'
       |      || ' or ' || CAST(10 + c_custkey % 90 AS VARCHAR)
       |      || '-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')
       |      || ', (' || lpad(CAST((c_custkey * 3) % 1000 AS VARCHAR), 3, '0')
       |      || ') ' || lpad(CAST((c_custkey * 11) % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((c_custkey * 17) % 10000 AS VARCHAR), 4, '0')
       |      || ', ' || lpad(CAST((c_custkey * 19) % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((c_custkey * 23) % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((c_custkey * 29) % 10000 AS VARCHAR), 4, '0')
       |      || ', +1 ' || lpad(CAST((c_custkey * 31) % 1000 AS VARCHAR), 3, '0')
       |      || ' ' || lpad(CAST((c_custkey * 37) % 1000 AS VARCHAR), 3, '0')
       |      || ' ' || lpad(CAST((c_custkey * 41) % 10000 AS VARCHAR), 4, '0')
       |      || ' (see pages 12-34)'
       |      || ' (acct ' || lpad(CAST(c_custkey AS VARCHAR), 10, '0')
       |      || ') from 10.' || CAST(c_custkey % 256 AS VARCHAR)
       |      || '.' || CAST((c_custkey * 3) % 256 AS VARCHAR)
       |      || '.' || CAST(c_custkey % 250 + 1 AS VARCHAR) AS text
       |  FROM customer),
       |s1 AS (
       |  SELECT c_custkey,
       |    CAST(len(regexp_extract_all(text, '$piiEmailRe')) AS BIGINT) AS n_email,
       |    regexp_replace(text, '$piiEmailRe', '<EMAIL>', 'g') AS t1
       |  FROM base),
       |s2 AS (
       |  SELECT c_custkey, n_email,
       |    CAST(len(regexp_extract_all(t1, '$piiIpRe')) AS BIGINT) AS n_ip,
       |    regexp_replace(t1, '$piiIpRe', '<IP>', 'g') AS t2
       |  FROM s1),
       |s3 AS (
       |  SELECT c_custkey, n_email, n_ip,
       |    CAST(len(regexp_extract_all(t2, '$piiPhoneRe')) AS BIGINT) AS n_phone,
       |    regexp_replace(t2, '$piiPhoneRe', '<PHONE>', 'g') AS t3
       |  FROM s2)
       |SELECT c_custkey, n_email, n_ip, n_phone,
       |  CAST(len(regexp_extract_all(t3, '$piiIdRe')) AS BIGINT) AS n_id,
       |  regexp_replace(t3, '$piiIdRe', '<ID>', 'g') AS scrubbed
       |FROM s3 ORDER BY c_custkey""".stripMargin

  // ---- Split assignment & domain curation ----

  /** Deterministic train/val/test assignment (~90/5/5) via the md5
    * 256-way bucket trick (same instr construction as Sampling — the
    * only integer-from-hex both engines compute identically). The
    * property that matters for training pipelines: a document NEVER
    * changes split when the corpus grows (md5 of its own key, not a
    * row_number or RNG), so eval sets stay uncontaminated across corpus
    * versions. Per-row map fused into the scan; the report is one small
    * aggregation.
    */
  /** The train/val/test assignment of a `doc_id` column — ONE definition
    * shared by the verified report (`q_split_assign`) and the pipeline
    * output partitioner (CorpusRun), so the corpus a pipeline ships is
    * split by exactly the rule the report verifies.
    */
  def splitAssignCol: org.apache.spark.sql.Column = {
    def digit(pos: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), $pos, 1)) - 1)"
    val bucket = expr(s"CAST(${digit(1)} * 16 + ${digit(2)} AS BIGINT)")
    when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test")
  }

  val splitAssign: Q = (spark, dir) => {
    // SERVED FROM THE POSTINGS ARTIFACT (r15): (doc_id, lang, n_tokens)
    // is the docmeta table (see lenDeciles for the coalesce(−1) rule).
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    splitAssignOver(graft.ext.PostingsIndex.docMeta(spark, idx)
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens")))
  }

  private[graft] val splitAssignInSession: Q = (spark, dir) =>
    splitAssignOver(documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  private def splitAssignOver(perDoc: DataFrame): DataFrame =
    perDoc
      .withColumn("split", splitAssignCol)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  val splitAssignSql: String = {
    def digit(pos: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $pos, 1)) - 1)"
    s"""WITH b AS (
       |  SELECT text, lang,
       |    CAST(${digit(1)} * 16 + ${digit(2)} AS BIGINT) AS bucket
       |  FROM documents),
       |s AS (
       |  SELECT CASE WHEN bucket < 230 THEN 'train'
       |              WHEN bucket < 243 THEN 'val'
       |              ELSE 'test' END AS split, text, lang
       |  FROM b)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |FROM s GROUP BY split ORDER BY split""".stripMargin
  }

  /** Two-label public suffixes — a representative subset of the PSL
    * (publicsuffix.org): registrars sell names UNDER these, so the
    * "site" a crawl should group/cap by is the label BEFORE the suffix,
    * not before the last dot (`a.co.uk` and `b.co.uk` are different
    * owners; `x.co.uk` and `www.x.co.uk` are the same). Production
    * swaps in the full list — the plan shape is identical (a literal
    * IN predicate folded into the per-row map; the list never
    * shuffles, never joins).
    */
  val publicSuffixes2: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "co.nz", "net.nz", "org.nz", "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "co.in", "net.in",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "co.kr", "or.kr", "co.za", "org.za", "co.th", "co.id")

  /** Per-suffix domain statistics — the crawl-curation step that decides
    * which domains to keep/cap. URLs are synthesized deterministically
    * from doc_id (the harness corpus carries none) — including `co.uk`
    * hosts and `www.` subdomains so the multi-label path is exercised —
    * then parsed BACK with the portable rules the real operator would
    * use on genuine URLs: host = scheme to first of /:?#, public suffix
    * = last label unless the last TWO labels are on the PSL subset,
    * site (eTLD+1) = suffix plus one label. `n_hosts` counts full
    * hostnames, `n_sites` registrable domains — www.siteN.co.uk and
    * siteN.co.uk collapse in the latter (the spec pins n_hosts >
    * n_sites for co.uk). Per-row maps + one aggregation; the distinct
    * counts shuffle on suffix only.
    */
  /** Adds `suffix` (public suffix) and `site` (eTLD+1, the registrable
    * domain) to a frame carrying a `domain` hostname column. Public so
    * the spec pins the parse on adversarial host shapes directly.
    */
  def withSuffixSite(df: DataFrame): DataFrame =
    df.withColumn("labels", split(col("domain"), "\\."))
      .withColumn("last2", expr(
        "concat_ws('.', labels[size(labels)-2], labels[size(labels)-1])"))
      .withColumn("suffix",
        when(col("last2").isInCollection(publicSuffixes2), col("last2"))
          .otherwise(expr("labels[size(labels)-1]")))
      .withColumn("sl",
        when(col("last2").isInCollection(publicSuffixes2), lit(2)).otherwise(lit(1)))
      // slice() is 1-origin; greatest(1, …) covers a bare-suffix host.
      .withColumn("site", expr(
        "concat_ws('.', slice(labels, greatest(1, size(labels) - sl), sl + 1))"))
      .drop("labels", "last2", "sl")

  val domainStats: Q = (spark, dir) =>
    withSuffixSite(documents(spark, dir)
      .withColumn("url", concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 97).cast("string"), lit("."),
        element_at(array(lit("com"), lit("org"), lit("co.uk"), lit("io")),
          (col("doc_id") % 4 + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/:?#]+)", 1)))
      .groupBy(col("suffix"))
      .agg(countDistinct(col("domain")).as("n_hosts"),
        countDistinct(col("site")).as("n_sites"),
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      .orderBy(col("suffix"))

  val domainStatsSql: String = {
    val psl = publicSuffixes2.map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
       |  SELECT text,
       |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
       |      || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.'
       |      || (['com','org','co.uk','io'])[CAST(doc_id % 4 AS INT) + 1]
       |      || '/p/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |d AS (SELECT text, regexp_extract(url, '^https?://([^/:?#]+)', 1) AS domain FROM u),
       |l AS (SELECT text, domain, string_split(domain, '.') AS labels FROM d),
       |p AS (SELECT text, domain, labels,
       |        labels[-2] || '.' || labels[-1] AS last2 FROM l),
       |s AS (SELECT text, domain, labels,
       |        CASE WHEN last2 IN ($psl) THEN last2 ELSE labels[-1] END AS suffix,
       |        CASE WHEN last2 IN ($psl) THEN 2 ELSE 1 END AS sl FROM p),
       |t AS (SELECT text, domain, suffix,
       |        array_to_string(labels[greatest(1, len(labels) - sl):len(labels)], '.') AS site
       |      FROM s)
       |SELECT suffix, CAST(count(DISTINCT domain) AS BIGINT) AS n_hosts,
       |  CAST(count(DISTINCT site) AS BIGINT) AS n_sites,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
       |FROM t GROUP BY suffix ORDER BY suffix""".stripMargin
  }

  /** The per-doc frame behind `q_domain_cap`: URL → domain (same
    * synthesis + extraction as `domainStats`), token count, and the
    * md5 keep-rank within the domain. Public so the stability spec can
    * pin per-doc selection, not just the aggregate.
    */
  def domainCapDocs(spark: SparkSession, dir: String, cap: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("h"), col("doc_id"))
    documents(spark, dir)
      .withColumn("url", concat(lit("https://site"),
        (col("doc_id") % 97).cast("string"), lit("."),
        element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
          (col("doc_id") % 4 + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/:?#]+)", 1))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit(":domcap"))))
      .withColumn("rnk", row_number().over(w))
      .withColumn("kept", col("rnk") <= cap)
      .select(col("doc_id"), col("domain"), col("n_tokens"), col("h"),
        col("rnk"), col("kept"))
  }

  /** Per-domain capping — the curation op `domainStats` motivates: an
    * over-represented domain is downsampled to a fixed doc quota by
    * keeping its `cap` smallest md5(doc_id || ':domcap') hashes. The
    * hash order is a property of each doc alone, so selection is
    * independent of arrival order, partitioning, and every OTHER
    * domain's contents (domain-local); under growth the kept set stays
    * the hash-minimal quota — an already-kept doc survives unless a
    * strictly lower-hash newcomer displaces it (the rank-cap semantics,
    * spec-pinned). kept_tokens pins the exact per-doc selection in the
    * oracle, not just the counts.
    *
    * Scale shape: one shuffle keyed on domain for the per-domain
    * top-cap rank (the standard per-group top-k; a pathologically hot
    * domain would ride the same salting/TopK discipline as q_knn_topk),
    * then the report aggregation reuses that partitioning.
    */
  val domainCap: Q = (spark, dir) =>
    domainCapDocs(spark, dir)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("domain"))

  val domainCapSql: String =
    """WITH u AS (
      |  SELECT doc_id, text,
      |    'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.'
      |      || (['com','org','net','io'])[CAST(doc_id % 4 AS INT) + 1]
      |      || '/p/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |d AS (SELECT doc_id, text, regexp_extract(url, '^https?://([^/:?#]+)', 1) AS domain FROM u),
      |t AS (
      |  SELECT doc_id, domain,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR) || ':domcap') AS h
      |  FROM d),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rnk
      |  FROM t)
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN rnk <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(sum(CASE WHEN rnk <= 8 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM r GROUP BY domain ORDER BY domain""".stripMargin

  /** URL canonicalization — the curation step before URL-keyed dedup: a
    * crawl sees the same page as `HTTPS://WWW.Site7.com:443/p/12/?utm_
    * source=feed#frag` and `https://site7.com/p/12`; keying dedup on the
    * raw string under-merges. Canonical form: lowercase host, strip a
    * leading `www.`, drop the default port, strip the fragment, drop
    * `utm_*` tracking params (keeping real ones), and trim a trailing
    * slash. URLs are synthesized from doc_id (documents carry no url
    * column) with all five mess shapes planted on modular patterns, so
    * several raw variants collapse per canonical key.
    *
    * Scale shape: per-row regexp maps (codegen'd, zero shuffle) + one
    * hash aggregation on the canonical key — exactly q_dedup_exact's
    * discipline with canon_url in place of the content hash.
    */
  /** Canonical form of a raw-URL column — the exact rule q_url_canon
    * verifies, shared with CorpusPipeline's URL-dedup stage so the
    * pipeline keys on the oracle-checked canonicalization. Pure per-row
    * regexp maps (codegen'd, zero shuffle).
    */
  def canonUrlCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val host = regexp_replace(
      lower(regexp_extract(url, "^https?://([^/:?#]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^https?://[^/?#]+(/[^?#]*)", 1), "/$", "")
    val qs = regexp_replace(regexp_replace(
      regexp_extract(url, "\\?([^#]*)", 1), "(^|&)utm_[a-z]+=[^&#]*", ""), "^&", "")
    concat(lit("https://"), host, path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
  }

  val urlCanon: Q = (spark, dir) => {
    val raw = documents(spark, dir)
      .withColumn("url", concat(
        lit("https://"),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("Site")).otherwise(lit("site")),
        (col("doc_id") % 50).cast("string"), lit(".com"),
        when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 200).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 8 === 0, lit("?page=2&utm_source=feed"))
          .when(col("doc_id") % 4 === 0, lit("?utm_source=feed&utm_campaign=mix"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))))
      .withColumn("canon_url", canonUrlCol(col("url")))
    raw.groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_variants"),
        min(col("doc_id")).as("keeper_doc"))
      .withColumn("is_dup_key", col("n_docs") > 1)
      .orderBy(col("canon_url"))
  }

  val urlCanonSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://'
      |      || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
      |      || (CASE WHEN doc_id % 5 = 0 THEN 'Site' ELSE 'site' END)
      |      || CAST(doc_id % 50 AS VARCHAR) || '.com'
      |      || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
      |      || '/p/' || CAST(doc_id % 200 AS VARCHAR)
      |      || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
      |      || (CASE WHEN doc_id % 8 = 0 THEN '?page=2&utm_source=feed'
      |          WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=mix'
      |          ELSE '' END)
      |      || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)), '^www\.', '') AS host,
      |    regexp_replace(regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1), '/$', '') AS path,
      |    regexp_replace(regexp_replace(regexp_extract(url, '\?([^#]*)', 1),
      |      '(^|&)utm_[a-z]+=[^&#]*', '', 'g'), '^&', '') AS qs
      |  FROM u),
      |k AS (
      |  SELECT doc_id, url,
      |    'https://' || host || path
      |      || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canon_url
      |  FROM c)
      |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
      |  min(doc_id) AS keeper_doc,
      |  count(*) > 1 AS is_dup_key
      |FROM k GROUP BY canon_url ORDER BY canon_url""".stripMargin

  /** Hashed-feature linear quality model — the fasttext-shaped scorer a
    * curation pipeline runs after the heuristic gate (`qualityGate`): each
    * token hashes to a weight in [-0.5, 0.5] (md5 → two hex chars → an
    * integer in [0, 100], shifted and scaled — a stand-in for trained
    * weights with the exact runtime shape of the real thing), the doc
    * score is 0.5 + mean(weight) clamped to [0, 1], keep = score ≥ 0.5.
    *
    * Determinism: the per-doc sum is a SEQUENTIAL left fold over the
    * token array (Spark `aggregate` seed 0.0 ≡ DuckDB `list_reduce` —
    * same op sequence, bit-identical; weights k/100.0 never produce -0.0
    * so the seed is absorbed exactly). No transcendentals (NOTES rule 8):
    * the link is clamp-linear, not sigmoid. Scale shape: pure per-row
    * map, zero shuffles before the canonical sort — the scorer runs at
    * scan speed over 100 TB.
    */
  /** The hashed-weight sum for a token-array column — shared by
    * q_quality_model and CorpusPipeline's model-gate stage so the two
    * surfaces score identically.
    */
  def modelWsumExpr(toksCol: String): String =
    s"aggregate(transform($toksCol, t -> CAST((ascii(substring(md5(t), 1, 1)) * 7" +
      " + ascii(substring(md5(t), 2, 1)) * 13) % 101 - 50 AS DOUBLE) / 100.0D)," +
      " 0.0D, (acc, v) -> acc + v)"

  val qualityModel: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("wsum", expr(modelWsumExpr("toks")))
      .withColumn("score_raw", lit(0.5) + col("wsum") / col("n_tokens").cast("double"))
      .select(col("doc_id"), col("n_tokens"),
        r6(col("wsum")).as("feat_sum"),
        r6(greatest(lit(0.0), least(lit(1.0), col("score_raw")))).as("model_score"),
        (col("score_raw") >= 0.5).as("keep"))
      .orderBy(col("doc_id"))

  val qualityModelSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    list_reduce(list_transform(toks, t ->
       |      CAST((ascii(substr(md5(t), 1, 1)) * 7
       |        + ascii(substr(md5(t), 2, 1)) * 13) % 101 - 50 AS DOUBLE) / 100.0),
       |      (acc, v) -> acc + v) AS wsum
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  ${sqlR6("wsum")} AS feat_sum,
       |  ${sqlR6("greatest(0.0, least(1.0, 0.5 + wsum / CAST(n_tokens AS DOUBLE)))")} AS model_score,
       |  (0.5 + wsum / CAST(n_tokens AS DOUBLE)) >= 0.5 AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- phrase search

  /** Positional-inverted-index phrase search: find every document
    * containing the corpus's most frequent 3-token phrase as an EXACT
    * consecutive-token match, via posting-list intersection with
    * position-offset alignment — the retrieval primitive behind "find
    * the provenance of this memorized string" audits over a corpus.
    *
    * The query phrase is derived in-query (top trigram by document
    * frequency, ties broken lexicographically) so the operator is
    * non-degenerate at every scale factor without a hard-coded literal.
    *
    * Scale shape — why this is index-shaped rather than
    * `instr(text, phrase)`: the postings table (term, doc_id, pos) is
    * built once per corpus and REUSED across queries (here it feeds both
    * the phrase-frequency ranking and the lookup); a lookup touches only
    * the postings of the 3 query terms (broadcast-filtered BEFORE any
    * join — three term-selective reads, not a corpus scan), then aligns
    * positions with two equi-joins on (doc_id, pos±k). At 100 TB the
    * postings live bucketed by term; the corpus text is never re-read.
    */
  /** Verified entry (r11 VERDICT #6): ensure the persisted postings
    * artifact (built once per corpus — ext.PostingsIndex, meta-last
    * gate), then run the lookup algebra over the LOADED table. The
    * in-session plan re-tokenized the corpus six times (once per leg);
    * served, every leg is a columnar scan of the term-range-partitioned
    * parquet, and the warm plan contains no split/posexplode over the
    * corpus at all (PostingsIndexSpec asserts it).
    */
  val phraseSearch: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    // Ranking serves from the persisted trigram-df table (PostingsIndex
    // v4): the query-time 3-way postings self-join the in-session chain
    // pays — two (doc_id, pos±k) shuffle joins over the WHOLE postings
    // table, the dominant scaler at 100× data — is replaced by a scan +
    // top-1 over pre-aggregated (phrase, df) segments. The positional
    // lookup below is unchanged: that part was always index-shaped.
    phraseSearchOver(graft.ext.PostingsIndex.postings(spark, idx),
      topPhrase(graft.ext.PostingsIndex.gramstats(spark, idx)))
  }

  /** The same algebra over freshly tokenized text — no artifact
    * consulted; kept so specs can pin served ≡ in-session.
    */
  private[graft] val phraseSearchInSession: Q = (spark, dir) => {
    val postings = graft.ext.PostingsIndex.tokenize(documents(spark, dir))
    val grams = postings.as("p1")
      .join(postings.as("p2"),
        col("p1.doc_id") === col("p2.doc_id") && col("p2.pos") === col("p1.pos") + 1)
      .join(postings.as("p3"),
        col("p1.doc_id") === col("p3.doc_id") && col("p3.pos") === col("p1.pos") + 2)
      .select(col("p1.doc_id").as("doc_id"),
        concat_ws(" ", col("p1.term"), col("p2.term"), col("p3.term")).as("phrase"))
      .groupBy(col("phrase")).agg(countDistinct(col("doc_id")).as("df"))
    phraseSearchOver(postings, topPhrase(grams))
  }

  /** Top trigram by document frequency (ties lexicographic) from a
    * (phrase, df) frame — the shared ranking head of the served and
    * in-session chains (gramDfs-derived and self-join-derived df are
    * the same numbers, so the two chains pick the same phrase).
    */
  private def topPhrase(phraseDfs: DataFrame): DataFrame =
    phraseDfs
      .orderBy(col("df").desc, col("phrase")).limit(1)
      .select(col("phrase"), col("df"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"),
        split(col("phrase"), " ").getItem(2).as("w3"))

  private def phraseSearchOver(postings: DataFrame, top: DataFrame): DataFrame = {
    // The actual lookup: each leg reads ONLY the matching term's postings
    // (broadcast-filtered before any doc-level join), then aligns offsets.
    val t1 = postings.join(broadcast(top), col("term") === col("w1"))
      .select(col("doc_id"), col("pos"), col("phrase"), col("df"))
    val t2 = postings.join(broadcast(top.select(col("w2"))), col("term") === col("w2"))
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    val t3 = postings.join(broadcast(top.select(col("w3"))), col("term") === col("w3"))
      .select(col("doc_id").as("d3"), col("pos").as("p3"))
    t1.join(t2, col("doc_id") === col("d2") && col("p2") === col("pos") + 1)
      .join(t3, col("doc_id") === col("d3") && col("p3") === col("pos") + 2)
      .groupBy(col("doc_id"), col("phrase"), col("df"))
      .agg(count(lit(1)).as("n_occ"), min(col("pos")).cast("long").as("first_pos"))
      .select(col("doc_id"), col("phrase"), col("df"), col("n_occ"), col("first_pos"))
      .orderBy(col("doc_id"))
  }

  val phraseSearchSql: String =
    """WITH postings AS (
      |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |grams AS (
      |  SELECT p1.doc_id, p1.term || ' ' || p2.term || ' ' || p3.term AS phrase,
      |    p1.pos AS pos
      |  FROM postings p1
      |  JOIN postings p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
      |  JOIN postings p3 ON p1.doc_id = p3.doc_id AND p3.pos = p1.pos + 2),
      |top AS (
      |  SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM grams GROUP BY phrase
      |  ORDER BY df DESC, phrase LIMIT 1)
      |SELECT g.doc_id, g.phrase, t.df, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(min(g.pos) AS BIGINT) AS first_pos
      |FROM grams g JOIN top t ON g.phrase = t.phrase
      |GROUP BY g.doc_id, g.phrase, t.df
      |ORDER BY doc_id""".stripMargin

  /** Postings-index health report (r12), SERVED from the persisted
    * artifact: top-10 terms by document frequency plus the index-wide
    * totals (postings / distinct terms / docs covered) every row
    * carries — the operational check an index owner runs after a
    * build or append. The oracle recomputes the same report from RAW
    * TEXT, so the compare cross-checks the artifact against an
    * independent derivation: a postings table that dropped or
    * duplicated a single row hash-mismatches here.
    *
    * Scale shape: one aggregation over the artifact (no text read);
    * the top-k is a bounded TakeOrdered over |vocab| df rows.
    */
  val postingsStats: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    val post = graft.ext.PostingsIndex.postings(spark, idx)
    val totals = post.agg(
      count(lit(1)).as("n_postings"),
      countDistinct(col("term")).as("n_terms"),
      countDistinct(col("doc_id")).as("n_docs"))
    val df = post.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("term")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("term"))).cast("long"))
    df.crossJoin(broadcast(totals))
      .select(col("rank"), col("term"), col("df"), col("tf"),
        col("n_postings"), col("n_terms"), col("n_docs"))
      .orderBy(col("rank"))
  }

  val postingsStatsSql: String =
    """WITH postings AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |totals AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_postings,
      |    CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM postings),
      |dfT AS (
      |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM postings GROUP BY term
      |  ORDER BY df DESC, term LIMIT 10),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS rank,
      |    term, df, tf
      |  FROM dfT)
      |SELECT r.rank, r.term, r.df, r.tf, t.n_postings, t.n_terms, t.n_docs
      |FROM ranked r, totals t
      |ORDER BY r.rank""".stripMargin

  /** Bigram-LM artifact health report (r14), SERVED from the postings
    * artifact's v5 tables: the top-20 bigrams by occurrence count with
    * their document frequencies, plus the model-wide totals every row
    * carries (distinct grams, total occurrences, and the context total
    * of the top gram's w1 — the c1 the LM divides by). The oracle
    * recomputes the same report from RAW TEXT, so the compare
    * cross-checks the merged `bigramstats` partials against an
    * independent derivation: a segment that dropped, duplicated or
    * double-counted a single (gram, doc) pair hash-mismatches here —
    * the artifact-integrity check the disjoint-append gate protects.
    *
    * Scale shape: one aggregation over the merged artifact (no text
    * read); the top-k is a bounded TakeOrdered over |bigram vocab| rows.
    */
  val bigramStatsReport: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    val merged = graft.ext.PostingsIndex.bigramStatsMerged(spark, idx)
    val totals = merged.agg(
      count(lit(1)).as("n_grams"),
      coalesce(sum(col("c12")), lit(0L)).as("total_occ"))
    val top = merged
      .orderBy(col("c12").desc, col("gram")).limit(20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c12").desc, col("gram"))).cast("long"))
    top.crossJoin(broadcast(totals))
      .select(col("rank"), col("gram"), col("w1"), col("c12"), col("gdf"),
        col("n_grams"), col("total_occ"))
      .orderBy(col("rank"))
  }

  val bigramStatsReportSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (
      |  SELECT doc_id, u.w1, u.gram FROM (
      |    SELECT doc_id, unnest([{'w1': toks[i], 'gram': array_to_string(toks[i : i + 1], ' ')}
      |                           for i in generate_series(1, len(toks) - 1)]) AS u
      |    FROM t WHERE len(toks) >= 2) s),
      |stats AS (
      |  SELECT gram, w1, CAST(count(*) AS BIGINT) AS c12,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS gdf
      |  FROM bg GROUP BY gram, w1),
      |totals AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(coalesce(sum(c12), 0) AS BIGINT) AS total_occ
      |  FROM stats),
      |top AS (
      |  SELECT gram, w1, c12, gdf FROM stats
      |  ORDER BY c12 DESC, gram LIMIT 20),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY c12 DESC, gram) AS BIGINT) AS rank,
      |    gram, w1, c12, gdf
      |  FROM top)
      |SELECT r.rank, r.gram, r.w1, r.c12, r.gdf, t.n_grams, t.total_occ
      |FROM ranked r, totals t
      |ORDER BY r.rank""".stripMargin

  /** Integrity report over the v8 per-(term, tf) retrieval metadata —
    * the dl-aware WAND bound's inputs for the standing query-term set,
    * served from the artifact and oracle-recomputed from the raw text
    * (the q_bigram_stats pattern: the check the disjoint-append gate's
    * fold law protects). Serving shape: a pruned lookup of 4 terms'
    * ranges in a vocabulary-scale table — no corpus read.
    */
  val tfdlStatsReport: Q = (spark, dir) => {
    val idx = graft.ext.PostingsIndex.servingDir(spark, dir)
    graft.ext.PostingsIndex.tfDl(spark, idx)
      .filter(col("term").isin(Bm25QueryTerms: _*))
      .select(col("term"), col("tf"), col("cnt"), col("min_dl"))
      .orderBy(col("term"), col("tf"))
  }

  val tfdlStatsReportSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term FROM t),
      |stats AS (
      |  SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok WHERE term IN ('vector', 'hash', 'merge', 'window')
      |  GROUP BY term, doc_id, dl)
      |SELECT term, tf, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(min(dl) AS BIGINT) AS min_dl
      |FROM stats GROUP BY term, tf ORDER BY term, tf""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_postings_stats" -> postingsStats,
    "q_bigram_stats" -> bigramStatsReport,
    "q_tfdl_stats" -> tfdlStatsReport,
    "q_phrase_search" -> phraseSearch,
    "q_bm25_search" -> bm25Search,
    "q_url_canon" -> urlCanon,
    "q_quality_model" -> qualityModel,
    "q_split_assign" -> splitAssign,
    "q_domain_stats" -> domainStats,
    "q_domain_cap" -> domainCap,
    "q_pii_scrub" -> piiScrub,
    "q_quality_gate" -> qualityGate,
    "q_vocab_coverage" -> vocabCoverage,
    "q_text_repetition" -> textRepetition,
    "q_mix_resample" -> mixResample,
    "q_mix_temperature" -> mixTemperature,
    "q_text_stats" -> textStats,
    "q_text_langid" -> textLangId,
    "q_text_fingerprint" -> textFingerprint,
    "q_text_bm25" -> textBm25,
    "q_text_chunks" -> textChunks,
    "q_pack_sequences" -> packSequences,
    "q_pack_stats" -> packStats,
    "q_pack_bpe" -> packBpe,
    "q_bpe_fertility" -> bpeFertility,
    "q_pack_bpe2" -> packBpe2,
    "q_text_contamination" -> textContamination,
    "q_text_contamination_bloom" -> textContaminationBloom,
    "q_text_contamination_served" -> textContaminationServed,
    "q_text_chunk_dedup" -> textChunkDedup,
    "q_text_boilerplate" -> textBoilerplate,
    "q_top_terms" -> topTerms,
    "q_lm_score" -> lmScore,
    "q_len_deciles" -> lenDeciles,
    "q_corpus_mix" -> corpusMix
  )

  val oracles: Map[String, String] = Map(
    "q_postings_stats" -> postingsStatsSql,
    "q_bigram_stats" -> bigramStatsReportSql,
    "q_tfdl_stats" -> tfdlStatsReportSql,
    "q_phrase_search" -> phraseSearchSql,
    "q_bm25_search" -> bm25SearchSql,
    "q_url_canon" -> urlCanonSql,
    "q_quality_model" -> qualityModelSql,
    "q_split_assign" -> splitAssignSql,
    "q_domain_stats" -> domainStatsSql,
    "q_domain_cap" -> domainCapSql,
    "q_pii_scrub" -> piiScrubSql,
    "q_quality_gate" -> qualityGateSql,
    "q_vocab_coverage" -> vocabCoverageSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_mix_resample" -> mixResampleSql,
    "q_mix_temperature" -> mixTemperatureSql,
    "q_text_stats" -> textStatsSql,
    "q_text_langid" -> textLangIdSql,
    "q_text_fingerprint" -> textFingerprintSql,
    "q_text_bm25" -> textBm25Sql,
    "q_text_chunks" -> textChunksSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_pack_stats" -> packStatsSql,
    "q_pack_bpe" -> packBpeSql,
    "q_bpe_fertility" -> bpeFertilitySql,
    "q_pack_bpe2" -> packBpe2Sql,
    "q_text_contamination" -> textContaminationSql,
    // The bloom variant is output-identical by construction; its oracle
    // is the SAME SQL — DuckDB checks the exact semantics either way.
    "q_text_contamination_bloom" -> textContaminationSql,
    "q_text_contamination_served" -> textContaminationSql,
    "q_text_chunk_dedup" -> textChunkDedupSql,
    "q_text_boilerplate" -> textBoilerplateSql,
    "q_top_terms" -> topTermsSql,
    "q_lm_score" -> lmScoreSql,
    "q_len_deciles" -> lenDecilesSql,
    "q_corpus_mix" -> corpusMixSql
  )
}
