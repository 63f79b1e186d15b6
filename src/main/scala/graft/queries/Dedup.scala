package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Deduplication operators over `documents` — the core corpus-cleaning
  * family for a training-data pipeline: exact (hash groupBy), MinHash+LSH
  * (shingle → signature → band → bucket-join), SimHash (bit-majority
  * fingerprint + banded Hamming search), and exact n-gram Jaccard
  * (inverted-index blocking) as the ground truth the approximate methods
  * are measured against.
  *
  * Cross-engine determinism: every hash is md5 (identical in Spark and
  * DuckDB); MinHash takes the lexicographic MIN over md5 hex strings —
  * uniform over the 128-bit space, no integer-conversion divergence.
  *
  * Scale shape (100 TB): every stage is a per-row map or a bucketed
  * equi-join on a hash key — no O(n²) pair enumeration. Candidate pairs
  * are generated only inside LSH buckets (band collision) or inverted
  * shingle postings; skewed super-frequent shingles would be capped by
  * document frequency in a production run (see PLAN.md).
  */
object Dedup {
  import Tables._
  import Det._
  type Q = (SparkSession, String) => DataFrame

  /** doc_id + distinct 3-token shingles (guarded for docs shorter than one
    * shingle — Spark's sequence(1,0) would count DOWN, not empty).
    */
  private def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(1, size(toks) - 2),
          |                                i -> concat_ws(' ', slice(toks, i, 3))))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))

  /** ONE pinned shingle table shared by the whole near-dup family
    * (minhash / ngram / simhash + their verification joins): the shingle
    * derivation is the family's dominant cost, and each query used to
    * rebuild it from the raw text. Memoized per (session, dir) so every
    * derivation — signatures, fingerprints, postings, both self-join
    * sides — scans the same InMemoryRelation. The 100 TB equivalent is a
    * staged write of the shingle table read by all downstream dedup jobs.
    * Lifecycle (and the stale-on-rewrite caveat) via Det.memo/releasePins.
    */
  private def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    // Two families build this: q_dedup_* and q_graph_pagerank's MinHash
    // rebuild; each family's boundary release drops it.
    Det.memo(spark, s"dedup.shingles:$dir") {
      withShingles(documents(spark, dir)).select(col("doc_id"), col("shingles"))
    }

  /** ONE pinned inverted-index postings table shared by the n-gram
    * ground truth and its df-capped production variant: doc_id, shingle
    * count, the exploded shingle, and the shingle's DOCUMENT FREQUENCY —
    * computed in the SAME pass (a window over the shingle key) rather
    * than a second aggregation + prune-join per consumer (r4 VERDICT #3:
    * the capped variant re-aggregated df and re-joined per self-join
    * side). The window shuffles the postings by shingle once, and the
    * cache then carries hash(shingle) partitioning, which the downstream
    * self-joins on the shingle key reuse without a fresh exchange.
    */
  private def sharedPostings(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"dedup.postings:$dir") {
      withDf(sharedShingles(spark, dir)
        .withColumn("n_sh", size(col("shingles")))
        .select(col("doc_id"), col("n_sh"), explode(col("shingles")).as("shingle")))
    }

  private def withDf(postings: DataFrame): DataFrame =
    postings.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))).cast("long"))

  private val duckShingles: String =
    """SELECT doc_id,
      |  list_distinct([array_to_string(toks[i:i+2], ' ')
      |                 for i in generate_series(1, len(toks) - 2)]) AS shingles
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)""".stripMargin

  /** Exact dedup: hash-group on the normalized content hash (sorted
    * distinct tokens — catches permuted duplicates too). Window over the
    * hash gives group size and the canonical (min-id) representative; at
    * scale this is one shuffle keyed on the hash, perfectly partitionable.
    */
  val dedupExact: Q = (spark, dir) =>
    documents(spark, dir)
      .withColumn("norm_hash", md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
      .withColumn("group_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("norm_hash"))).cast("long"))
      .withColumn("canonical_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("norm_hash"))))
      .select(col("doc_id"), col("norm_hash"), col("group_size"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy(col("doc_id"))

  val dedupExactSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS norm_hash
      |  FROM documents)
      |SELECT doc_id, norm_hash,
      |  CAST(count(*) OVER (PARTITION BY norm_hash) AS BIGINT) AS group_size,
      |  min(doc_id) OVER (PARTITION BY norm_hash) AS canonical_id,
      |  doc_id <> min(doc_id) OVER (PARTITION BY norm_hash) AS is_duplicate
      |FROM h ORDER BY doc_id""".stripMargin

  /** MinHash + LSH near-dup: 12 min-md5 signature values over 3-token
    * shingles, banded 4×3; pairs colliding in ≥1 band are candidates,
    * verified with exact Jaccard ≥ 0.8. For J=0.98 planted dups the
    * per-band hit probability is J³≈0.94, any-band ≈ 1-(1-J³)⁴ ≈ 1.0.
    * Candidates only ever form inside buckets — linear + bucket-join.
    */
  val dedupMinHash: Q = (spark, dir) => {
    val sh = sharedShingles(spark, dir)
    // The 12 minima in ONE aggregate pass over the shingles (12 md5 per
    // shingle, not 12 scans), then a pin so the signature is computed
    // once — not re-inlined into each of the 12 band references and both
    // self-join sides (a 24x blowup without it).
    // Memoized (not a fresh pin per call): q_dedup_groups re-runs this
    // whole pipeline for its edge list, and the bench runs each query
    // n times — every caller reads one signature cache. The signature
    // kernel is the native minhash_sig expression (functions.MinHashSig)
    // — value-identical to the SQL fold `aggregate(shingles,
    // array_repeat('g', 12), (acc, s) -> zip_with(acc, sequence(0, 11),
    // (m, j) -> least(m, md5(j || ':' || s))))` that the DuckDB oracle
    // still states, but one tight loop instead of a per-shingle
    // 12-array allocation.
    val sig = Det.memo(spark, s"dedup.sig:$dir") {
      sh.withColumn("sig", expr("minhash_sig(shingles)"))
        .select(col("doc_id"), col("sig"))
    }
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
      .withColumn("jac_raw", col("inter") /
        (size(col("shingles_a")) + size(col("shingles_b")) - col("inter")))
      .filter(col("jac_raw") >= 0.8)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), r6(col("jac_raw")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupMinHashSql: String =
    s"""WITH sh AS ($duckShingles),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    [list_aggregate(list_transform(shingles, s -> md5(CAST(j AS VARCHAR) || ':' || s)), 'min')
       |     for j in generate_series(0, 11)] AS sig
       |  FROM sh),
       |banded AS (
       |  SELECT doc_id,
       |    unnest([md5(CAST(k AS VARCHAR) || '|' || sig[3*k+1] || '|' || sig[3*k+2] || '|' || sig[3*k+3])
       |            for k in generate_series(0, 3)]) AS band
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT da, db,
       |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) AS inter,
       |    len(x.shingles) AS na, len(y.shingles) AS nb
       |  FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id)
       |SELECT da AS doc_a, db AS doc_b,
       |  ${sqlR6("inter / (na + nb - inter)")} AS jaccard
       |FROM v WHERE inter / (na + nb - inter) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact n-gram Jaccard with inverted-index blocking: explode shingles,
    * self-join postings (only docs sharing a shingle ever pair), count
    * shared, compute exact Jaccard ≥ 0.8 — the ground truth for MinHash
    * recall. Same pair set as q_dedup_minhash ⟺ LSH recall is 100%.
    */
  /** Pair sufficient statistics shared by the exact n-gram and
    * containment detectors (r15): (da, db, na, nb, shared) for every doc
    * pair sharing ≥ 1 shingle. Both queries previously re-ran the
    * postings self-join + count per run (~8 CPU-s each at sf0.1); both
    * are pure filters/projections over this one aggregate, so it is the
    * staged candidate-pair table a production pipeline would write once
    * per corpus.
    */
  private def pairSharedCounts(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"dedup.pairsh:$dir") {
      // The postings table feeds both self-join sides; deriving from the
      // shared pinned shingle table means the shingle derivation (and
      // its InferFiltersFromGenerate clone) never re-runs per side.
      // df ≥ 2 pre-filter (r16, guide §3.2): a shingle held by ONE doc
      // cannot form a pair (a.doc_id < b.doc_id needs two distinct
      // docs; shingle lists are distinct per doc), yet df=1 postings
      // dominate the corpus — dropping them before the self-join cuts
      // the sort/join input to the pair-bearing fraction with the pair
      // set provably unchanged. The df column rides in the memo (same
      // window pass that built it).
      val ex = sharedPostings(spark, dir).filter(col("df") >= 2)
      ex.as("a").join(ex.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .agg(count(lit(1)).cast("double").as("shared"))
    }

  val dedupNgram: Q = (spark, dir) => {
    pairSharedCounts(spark, dir)
      .withColumn("jac_raw", col("shared") / (col("na") + col("nb") - col("shared")))
      .filter(col("jac_raw") >= 0.8)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("shared").cast("long").as("shared_shingles"), r6(col("jac_raw")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupNgramSql: String =
    s"""WITH sh AS ($duckShingles),
       |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.n_sh AS na, b.n_sh AS nb,
       |    CAST(count(*) AS DOUBLE) AS shared
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(shared AS BIGINT) AS shared_shingles,
       |  ${sqlR6("shared / (na + nb - shared)")} AS jaccard
       |FROM p WHERE shared / (na + nb - shared) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Asymmetric containment dedup (r12): C(A,B) = |A∩B| / min(|A|,|B|)
    * over the same 3-token shingle sets as the Jaccard chain — the
    * quote/subset detector. A short document wholly embedded in a long
    * one (a quoted passage, a boilerplate-wrapped article, a chunk that
    * re-entered the crawl as its own page) has containment ≈ 1 while
    * its Jaccard can sit far below any dedup threshold (the union is
    * dominated by the long side), so symmetric near-dup passes keep
    * BOTH copies and the training set memorizes the shared span twice.
    * Reports every pair with containment ≥ 0.9, which side is the
    * contained (smaller-set) doc, and the pair's Jaccard plus a
    * jaccard_missed flag — the rows a Jaccard-only pipeline would have
    * shipped.
    *
    * Scale shape: identical to the n-gram chain — the pair search is an
    * aggregation over the SHARED pinned postings table (only docs
    * sharing a shingle ever pair, count-aggregated, never
    * materialized); at 100 TB the same df-capping as the capped variant
    * applies before the self-join.
    */
  val dedupContainment: Q = (spark, dir) => {
    pairSharedCounts(spark, dir)
      .withColumn("cont_raw", col("shared") / least(col("na"), col("nb")).cast("double"))
      .withColumn("jac_raw", col("shared") / (col("na") + col("nb") - col("shared")))
      .filter(col("cont_raw") >= 0.9)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        when(col("na") <= col("nb"), col("da")).otherwise(col("db")).as("contained_doc"),
        col("shared").cast("long").as("shared_shingles"),
        r6(col("cont_raw")).as("containment"),
        r6(col("jac_raw")).as("jaccard"),
        (col("jac_raw") < 0.8).as("jaccard_missed"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentSql: String =
    s"""WITH sh AS ($duckShingles),
       |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.n_sh AS na, b.n_sh AS nb,
       |    CAST(count(*) AS DOUBLE) AS shared
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT da AS doc_a, db AS doc_b,
       |  CASE WHEN na <= nb THEN da ELSE db END AS contained_doc,
       |  CAST(shared AS BIGINT) AS shared_shingles,
       |  ${sqlR6("shared / CAST(least(na, nb) AS DOUBLE)")} AS containment,
       |  ${sqlR6("shared / (na + nb - shared)")} AS jaccard,
       |  (shared / (na + nb - shared)) < 0.8 AS jaccard_missed
       |FROM p WHERE shared / CAST(least(na, nb) AS DOUBLE) >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The production variant of the n-gram ground truth: shingles whose
    * document frequency exceeds the cap are dropped from the inverted
    * index BEFORE the postings self-join — the skew guard a 100 TB run
    * needs, because one boilerplate shingle appearing in 10⁶ documents
    * would otherwise enumerate 10¹² candidate pairs on a single join
    * key. Jaccard is still computed over FULL shingle sets for candidate
    * pairs; capping only prunes which pairs become candidates, so a pair
    * sharing nothing but boilerplate is (deliberately) missed. The cap
    * is a fixed constant, making the pruned semantics oracle-able rather
    * than a scaladoc promise.
    */
  val dedupNgramCapped: Q = (spark, dir) => {
    val cap = 20
    // The df column rides in the shared postings memo (one pass — r4
    // VERDICT #3 folded the df aggregation + prune-join into the memo
    // build), so capping is a FILTER over the cache, computed per scan
    // but costing only a predicate — no second memo competing for
    // storage, and the cache's hash(shingle) partitioning flows through
    // the filter into the self-join below.
    val post = sharedPostings(spark, dir)
    // df ≥ 2: single-doc shingles cannot pair (see pairSharedCounts) —
    // result-neutral prune of the self-join input below the cap filter.
    val capped = post.filter(col("df") <= cap && col("df") >= 2)
    // hd = how many HIGH-df shingles each doc carries — the most its
    // true intersection with anything can exceed the rare-only shared
    // count. Built from the df > cap side of the postings cache, NOT
    // from a full-corpus aggregation (r6 VERDICT #5: the old
    // all-docs docRare agg fed two broadcast sides, so the whole
    // postings cache re-aggregated twice per run and the capped variant
    // cost 1.8× the uncapped ground truth on an UNSKEWED corpus). The
    // df > cap postings are the skew itself: empty when no shingle
    // exceeds the cap — the adaptive bypass falls out structurally (two
    // near-free empty broadcasts, ub_i = shared_r exactly, survivors =
    // the true pairs) with no driver-side scalar or plan switch.
    // Memoized like the postings themselves:
    // both broadcast sides read one tiny cached table instead of each
    // re-aggregating the full postings cache per bench run.
    val hdTab = Det.memo(spark, s"dedup.hdtab:$dir") {
      post.filter(col("df") > cap)
        .groupBy(col("doc_id")).agg(count(lit(1)).cast("double").as("hd"))
    }
    // Count shared RARE shingles per pair (aggregation, not pair
    // materialization — the exact-intersect join runs only on pairs the
    // upper bound cannot rule out: inter ≤ shared_rare + min(hd_a, hd_b),
    // and jac = i/(na+nb−i) is increasing in i, so a pair whose BOUND is
    // < 0.8 provably fails. Exact full-set Jaccard then verifies the
    // survivors, so emitted pairs are identical to the uncapped ground
    // truth restricted to candidates sharing ≥1 rare shingle.)
    val hdA = hdTab.select(col("doc_id").as("da"), col("hd").as("hd_a"))
    val hdB = hdTab.select(col("doc_id").as("db"), col("hd").as("hd_b"))
    val survivors = capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).cast("double").as("shared_r"))
      .join(broadcast(hdA), Seq("da"), "left_outer")
      .join(broadcast(hdB), Seq("db"), "left_outer")
      .withColumn("ub_i", col("shared_r") +
        least(coalesce(col("hd_a"), lit(0.0)), coalesce(col("hd_b"), lit(0.0))))
      .filter(col("ub_i") / (col("na") + col("nb") - col("ub_i")) >= 0.8)
    // The exact verify streams the cached shingle table past the
    // broadcast survivors — without the hint the optimizer's post-agg
    // row estimate plans a shuffle+sort of the shingle arrays instead.
    // The hint assumes near-dup survivors are SPARSE (they are, at any
    // jaccard ≥ 0.8 on a real corpus: the ub prune admits few pairs) —
    // but an unconditional hint would COLLECT the survivors to the
    // driver even on a near-dup-dense corpus, turning a degradable join
    // into an OOM. So the hint is gated on the MEASURED cardinality:
    // survivors memoize (the verify joins reread the cache instead of
    // re-running the candidate aggregation, so the count costs one
    // cache scan), and above `spark.graft.dedup.survivorsBroadcastMaxRows`
    // (default 1e6 ≈ tens of MB broadcast) the hint is dropped and the
    // optimizer falls back to a shuffled join — slower, never fatal.
    // CONTRACT NOTE: this Q builder is deliberately NOT fully lazy —
    // the cardinality gate below runs one Spark job (a count over the
    // survivors memo) at construction time, because the broadcast
    // decision must be made before the plan exists. Every other Q
    // builder defers all work to the caller's action. A malformed
    // conf value falls back to the default rather than poisoning the
    // query with a NumberFormatException.
    val survivorsMemo = Det.memo(spark, s"dedup.survivors:$dir")(survivors)
    val maxBcastRows = spark.conf
      .getOption("spark.graft.dedup.survivorsBroadcastMaxRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(1000000L)
    // The gate count is value-memoized with the survivors memo's own
    // lifecycle (r16): the count itself is immutable once the memo is
    // built, and re-counting launched one Spark job per run.
    val nSurvivors = Det.memoValue(spark, s"dedupval.survcount:$dir")(survivorsMemo.count())
    val survHinted =
      if (nSurvivors <= maxBcastRows) broadcast(survivorsMemo)
      else survivorsMemo
    survHinted
      .join(sharedShingles(spark, dir).select(col("doc_id").as("da"), col("shingles").as("sh_a")), "da")
      .join(sharedShingles(spark, dir).select(col("doc_id").as("db"), col("shingles").as("sh_b")), "db")
      .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
      .withColumn("jac_raw", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac_raw") >= 0.8)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), r6(col("jac_raw")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupNgramCappedSql: String =
    s"""WITH sh AS ($duckShingles),
       |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 20),
       |capped AS (SELECT e.* FROM ex e JOIN rare r USING (shingle)),
       |docrare AS (
       |  SELECT doc_id, max(n_sh) - count(*) AS hd FROM capped GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.n_sh AS na, b.n_sh AS nb,
       |    CAST(count(*) AS DOUBLE) AS shared_r
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |pre AS (
       |  SELECT p.*, p.shared_r + CAST(least(x.hd, y.hd) AS DOUBLE) AS ub_i
       |  FROM p JOIN docrare x ON p.da = x.doc_id JOIN docrare y ON p.db = y.doc_id),
       |v AS (
       |  SELECT da, db, na, nb,
       |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) AS inter
       |  FROM pre JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |  WHERE ub_i / (na + nb - ub_i) >= 0.8)
       |SELECT da AS doc_a, db AS doc_b,
       |  ${sqlR6("inter / (na + nb - inter)")} AS jaccard
       |FROM v WHERE inter / (na + nb - inter) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The production variant of the containment detector (r15): the r14
    * sf10 sweep measured the UNCAPPED containment self-join at 47 s /
    * 67× on 100× data — the quadratic d² term of high-df shingles
    * emerging exactly as the capped-Jaccard scaladoc predicted. Same
    * discipline as dedupNgramCapped: shingles with df > cap leave the
    * inverted index BEFORE the self-join; candidates need ≥1 shared
    * RARE shingle; the upper bound inter ≤ shared_r + min(hd_a, hd_b)
    * prunes pairs whose best-case containment misses 0.9 (containment
    * = inter / min(na, nb) is increasing in inter); exact full-set
    * verification then computes the true containment for survivors.
    * The cap is in the oracle too — pruned semantics, not a promise.
    */
  val dedupContainmentCapped: Q = (spark, dir) => {
    val cap = 20
    val post = sharedPostings(spark, dir)
    // df ≥ 2: single-doc shingles cannot pair (see pairSharedCounts).
    val capped = post.filter(col("df") <= cap && col("df") >= 2)
    val hdTab = Det.memo(spark, s"dedup.hdtabc:$dir") {
      post.filter(col("df") > cap)
        .groupBy(col("doc_id")).agg(count(lit(1)).cast("double").as("hd"))
    }
    val hdA = hdTab.select(col("doc_id").as("da"), col("hd").as("hd_a"))
    val hdB = hdTab.select(col("doc_id").as("db"), col("hd").as("hd_b"))
    val survivors = capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).cast("double").as("shared_r"))
      .join(broadcast(hdA), Seq("da"), "left_outer")
      .join(broadcast(hdB), Seq("db"), "left_outer")
      .withColumn("ub_i", col("shared_r") +
        least(coalesce(col("hd_a"), lit(0.0)), coalesce(col("hd_b"), lit(0.0))))
      .filter(col("ub_i") / least(col("na"), col("nb")).cast("double") >= 0.9)
    // Same measured-cardinality broadcast gate as the capped Jaccard:
    // sparse survivors broadcast past the shingle cache; a dense corpus
    // falls back to a shuffled join instead of an OOM.
    val survivorsMemo = Det.memo(spark, s"dedup.csurvivors:$dir")(survivors)
    val maxBcastRows = spark.conf
      .getOption("spark.graft.dedup.survivorsBroadcastMaxRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(1000000L)
    // Same value-memoized gate count as the capped Jaccard (r16).
    val nSurvivors = Det.memoValue(spark, s"dedupval.csurvcount:$dir")(survivorsMemo.count())
    val survHinted =
      if (nSurvivors <= maxBcastRows) broadcast(survivorsMemo)
      else survivorsMemo
    survHinted
      .join(sharedShingles(spark, dir).select(col("doc_id").as("da"), col("shingles").as("sh_a")), "da")
      .join(sharedShingles(spark, dir).select(col("doc_id").as("db"), col("shingles").as("sh_b")), "db")
      .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
      .withColumn("cont_raw", col("inter") / least(col("na"), col("nb")).cast("double"))
      .withColumn("jac_raw", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("cont_raw") >= 0.9)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        when(col("na") <= col("nb"), col("da")).otherwise(col("db")).as("contained_doc"),
        col("inter").cast("long").as("shared_shingles"),
        r6(col("cont_raw")).as("containment"),
        r6(col("jac_raw")).as("jaccard"),
        (col("jac_raw") < 0.8).as("jaccard_missed"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentCappedSql: String =
    s"""WITH sh AS ($duckShingles),
       |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 20),
       |capped AS (SELECT e.* FROM ex e JOIN rare r USING (shingle)),
       |docrare AS (
       |  SELECT doc_id, max(n_sh) - count(*) AS hd FROM capped GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.n_sh AS na, b.n_sh AS nb,
       |    CAST(count(*) AS DOUBLE) AS shared_r
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |pre AS (
       |  SELECT p.*, p.shared_r + CAST(least(x.hd, y.hd) AS DOUBLE) AS ub_i
       |  FROM p JOIN docrare x ON p.da = x.doc_id JOIN docrare y ON p.db = y.doc_id),
       |v AS (
       |  SELECT da, db, na, nb,
       |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) AS inter
       |  FROM pre JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |  WHERE ub_i / CAST(least(na, nb) AS DOUBLE) >= 0.9)
       |SELECT da AS doc_a, db AS doc_b,
       |  CASE WHEN na <= nb THEN da ELSE db END AS contained_doc,
       |  CAST(inter AS BIGINT) AS shared_shingles,
       |  ${sqlR6("inter / CAST(least(na, nb) AS DOUBLE)")} AS containment,
       |  ${sqlR6("inter / (na + nb - inter)")} AS jaccard,
       |  inter / (na + nb - inter) < 0.8 AS jaccard_missed
       |FROM v WHERE inter / CAST(least(na, nb) AS DOUBLE) >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup: 32-bit bit-majority fingerprint over 3-token
    * SHINGLE md5s (tokens alone don't discriminate — every doc shares most
    * of the small vocabulary, shingle sets are ~5% Jaccard for random
    * pairs); candidate pairs share ≥1 of 4 byte-bands (pigeonhole: any
    * pair with Hamming ≤ 3 must agree on a full byte); verified Hamming ≤ 3.
    */
  val dedupSimHash: Q = (spark, dir) => {
    // The fingerprint kernel is the native simhash32 expression
    // (functions.SimHash32): one md5 per shingle and one pass over its
    // 32 hex digits, replacing the 32×|shingles| interpreted instr/substr
    // fold — same bit-majority rule, and the DuckDB oracle still states
    // (and gates) the fold form. Memoized: simhash is read by the output
    // + 4 band extractions + both self-join sides.
    val fp = Det.memo(spark, s"dedup.fp:$dir") {
      sharedShingles(spark, dir)
        .withColumn("simhash", expr("simhash32(shingles)"))
        .select(col("doc_id"), col("simhash"))
    }
    val banded = fp.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), k -> struct(k AS band_idx, shiftright(simhash, k*8) & 255 AS byte_val))")).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.byte_val"))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.byte_val") === col("b.byte_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("simhash_a"), col("b.simhash").as("simhash_b"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(simhash_a ^ simhash_b) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("simhash_a"), col("simhash_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupSimHashSql: String =
    s"""WITH sh AS ($duckShingles),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(list_sum([CASE WHEN list_sum([CASE WHEN instr('0123456789abcdef', substr(h, i, 1)) >= 9
      |                                            THEN 1 ELSE -1 END
      |                                       for h in md5s]) > 0
      |                        THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END
      |                   for i in generate_series(1, 32)]) AS BIGINT) AS simhash
      |  FROM (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS md5s
      |        FROM sh)),
      |banded AS (
      |  SELECT doc_id, simhash, k AS band_idx, (simhash >> (k*8)) & 255 AS byte_val
      |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS k)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS simhash_a, b.simhash AS simhash_b
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.byte_val = b.byte_val AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, simhash_a, simhash_b,
      |  CAST(bit_count(xor(simhash_a, simhash_b)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(simhash_a, simhash_b)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Transitive near-dup GROUPS: connected components over the MinHash
    * pair graph, via iterative min-label propagation (the Pregel shape:
    * each round every vertex takes the min of its own label and its
    * neighbors'; the fixpoint labels every component by its smallest
    * doc_id — a unique answer independent of iteration order, which is
    * what makes it oracle-able).
    *
    * Pair-level dedup under-removes: A≈B and B≈C puts A and C in the same
    * duplicate cluster even when A≉C directly — keeping one doc per
    * component (not per pair) is the production semantics.
    *
    * Scale shape: each round is one equi-join on the edge list + one
    * min-groupBy — all shuffles on the doc key; rounds ≤ graph diameter
    * (≤ log n with path doubling; plain propagation suffices here, the
    * planted-dup components are tiny). The driver loop only orchestrates
    * and checks a converged COUNT — no data is collected. Each round pins
    * its label table so lineage doesn't re-execute prior rounds; at
    * 100 TB the equivalent is checkpointing labels per round.
    */
  /** Generic connected components over an undirected edge list
    * (src, dst): min-label propagation with POINTER JUMPING — each round
    * every vertex takes the min of its neighbors' labels, then follows
    * that label one more hop (l(l(v))), doubling the distance information
    * travels per round. Convergence is O(log diameter) rounds instead of
    * O(diameter) — on a 100 TB graph with a long-chain component that is
    * the difference between ~40 shuffles and ~7 (DedupGroupsSpec proves
    * the bound at 10⁵-edge volume). That bound holds for the chain, not
    * every graph: on sparse graphs with random ids the rounds grow with
    * the diameter (a simulation of this round rule needs 27-32 rounds on
    * 60k ids and 40k random edges, over `maxRounds`). Returns
    * (labels, rounds).
    *
    * Lifecycle (r3 defect fix): round N-1's checkpoint blocks are freed
    * the moment round N materializes and the convergence check no longer
    * needs them — relying on ContextCleaner GC instead retains
    * ~rounds×runs dead checkpoint RDDs on storage memory for the rest of
    * the session (measured in r3: every bench query sorting after
    * q_dedup_* degraded up to 5× from exactly this pressure).
    *
    * Sizing: below `MaxLocalEdges` = 2^20 staged edges (symmetrized,
    * self-looped, distinct), which covers every near-dup pair graph of
    * the harness corpora, the whole computation runs as ONE union-find
    * in a single `mapPartitions` task (`unionFind`) and reports
    * rounds = 1. It is exact: the union links the larger root under the
    * smaller one, so every root is the minimum id of its component,
    * which is the unique fixpoint of min-label propagation — the same
    * labels, bit for bit. The limit is a memory bound, not a speed
    * crossover. The task holds a LongMap entry per vertex (at most one
    * per staged edge; 50-65 bytes each, measured from 10^6 to 10^7
    * entries), so 2^20 edges cap it at about 70 MB, inside one task's
    * share of the user memory of a default 1 GB, 4-core executor
    * (~290 MB / 4); Spark neither tracks nor spills it. On time the
    * union-find won at every size measured on a 4-core local[4] host,
    * 10^5 to 10^7 staged edges, whole call: 3.8x faster at 10^6
    * disjoint pairs (1.8 s vs 6.8 s; the rounds' best case, 2 rounds),
    * 20x with a 37k-vertex chain in the graph (1.6 s vs 33 s), and
    * still 3x at 10^7 pairs (17-19 s vs 52-62 s, but ~330 MB of map).
    * From 2^20 edges up, the pointer-jumping rounds run in a
    * cloned session whose shuffle width is min(parallelism, |E|/64k+1),
    * never the session's own; their joins and aggregates run in Spark's
    * managed execution memory, which spills.
    *
    * Ids: src and dst must be non-null bigint, which every caller
    * passes. Any other type, or a null endpoint, raises
    * `EdgeIdException` before any labelling runs (a join-based round
    * would silently drop a null-keyed edge).
    */
  def connectedComponents(edges: DataFrame): (DataFrame, Int) =
    connectedComponents(edges, MaxLocalEdges)

  /** `connectedComponents` with the union-find's edge limit given, so a
    * spec can run the pointer-jumping rounds on a small graph (limit 0).
    */
  private[graft] def connectedComponents(edges: DataFrame, maxLocalEdges: Long): (DataFrame, Int) =
    withRightSizedShuffle(edges, None, maxLocalEdges, Staging(
      labels = (df, _) => df.localCheckpoint(),
      temp = _.localCheckpoint(),
      releaseLabels = freeLocalCheckpoint,
      releaseTemp = freeLocalCheckpoint))

  /** Durable-checkpoint variant — the shape a real 1000-executor run
    * needs: the symmetrized edge list AND the labels checkpoint to
    * PARQUET (labels on two alternating paths under `checkpointDir`), so
    * a lost executor replays every fixpoint input from storage instead of
    * failing the job the way executor-local checkpoint blocks (or a
    * cached edge list with lineage into the upstream near-dup pipeline)
    * would. Intra-round temps stay cached WITH lineage — recomputable
    * from the parquet-backed edges + labels alone. Same labels —
    * DedupGroupsSpec asserts agreement with the local variant.
    */
  def connectedComponentsDurable(edges: DataFrame, checkpointDir: String): (DataFrame, Int) =
    connectedComponentsDurable(edges, checkpointDir, MaxLocalEdges)

  /** `connectedComponentsDurable` with the union-find's edge limit given. */
  private[graft] def connectedComponentsDurable(edges: DataFrame, checkpointDir: String,
                                                maxLocalEdges: Long): (DataFrame, Int) =
    withRightSizedShuffle(edges, Some(checkpointDir), maxLocalEdges, Staging(
      labels = (df, round) => {
        val path = s"$checkpointDir/labels_${round % 2}"
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      },
      temp = _.cache(),
      releaseLabels = _ => (), // the two paths recycle via overwrite
      releaseTemp = df => { df.unpersist(blocking = false); () }))

  /** A connected-components edge list whose src or dst is not bigint,
    * or holds a null.
    */
  final class EdgeIdException(msg: String) extends IllegalArgumentException(msg)

  /** How a variant stages its frames. `labels(df, round)` must return a
    * MATERIALIZED frame with truncated lineage; `temp` stages the
    * intra-round neighbor-min table read by both sides of the
    * pointer-jump self-join; the releases free a stage once nothing
    * reads it.
    */
  private final case class Staging(labels: (DataFrame, Int) => DataFrame,
                                   temp: DataFrame => DataFrame,
                                   releaseLabels: DataFrame => Unit,
                                   releaseTemp: DataFrame => Unit)

  /** Frees the block-store RDD behind a localCheckpoint'd frame NOW
    * (ContextCleaner would get there only at GC time — too late for a
    * bench sweep). The checkpoint RDD is the one the plan's LogicalRDD
    * wraps.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Number of staged edges per pointer-jumping shuffle partition. */
  private val EdgesPerPartition = 65536L

  /** Number of staged edges below which the one-task union-find labels
    * the graph: a memory bound (see `connectedComponents`, "Sizing").
    */
  private val MaxLocalEdges = 1L << 20

  /** Symmetrize + self-loop + dedup the edge list, stage it, and label
    * it: one union-find task below `maxLocalEdges` staged edges, else the
    * pointer-jumping rounds inside a THROWAWAY CLONED SESSION
    * (`newSession`: own SQL conf, shared SparkContext and cache manager)
    * whose shuffle width is the edge-sized partition count. The caller's
    * session conf is never touched (setting and restoring it would let
    * concurrent unrelated queries plan at the narrowed width). The
    * fixpoint result is rebased into the caller's session before
    * returning, so downstream plans built on the labels use the CALLER's
    * conf, not the fixpoint's.
    */
  private def withRightSizedShuffle(edges: DataFrame, edgeDir: Option[String],
                                    maxLocalEdges: Long, st: Staging): (DataFrame, Int) = {
    for (c <- Seq("src", "dst")) {
      val t = edges.schema(c).dataType
      if (t != LongType)
        throw new EdgeIdException(
          s"connected components: edge column $c is ${t.simpleString}, expected bigint")
    }
    val parent = edges.sparkSession
    val sym0 = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // Self-loops fold "min over neighbors ∪ self" into ONE join+groupBy —
    // no per-round union of label frames (unioning the labels table with
    // a join over it trips Union constraint rewriting on shared attribute
    // ids, and a second plan branch would double the per-round work).
    val symRaw0 = sym0.union(sym0.select(col("src").as("src"), col("src").as("dst")))
      .distinct()
    // Edge staging, readable from any session: a parquet write for the
    // durable variant (no lineage into the upstream pipeline), a cached
    // row RDD for the local one (RDD caching is context-level, so the
    // ~rounds re-reads hit the cache regardless of session).
    val (stagedIn, releaseEdges): (SparkSession => DataFrame, () => Unit) = edgeDir match {
      case Some(d) =>
        val path = s"$d/edges"
        symRaw0.write.mode("overwrite").parquet(path)
        (_.read.parquet(path), () => ())
      case None =>
        val rdd = symRaw0.rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (_.createDataFrame(rdd, symRaw0.schema),
          () => { rdd.unpersist(blocking = false); () })
    }
    try {
      val symRaw = stagedIn(parent)
      // One job materializes the staged edges, counts them and finds
      // null endpoints (every null-bearing edge has a null src once
      // symmetrized and self-looped).
      val counts = symRaw.agg(count(lit(1)), count_if(col("src").isNull)).head()
      val (nEdges, nNull) = (counts.getLong(0), counts.getLong(1))
      if (nNull > 0)
        throw new EdgeIdException(
          s"connected components: $nNull staged edges have a null endpoint")
      if (nEdges < maxLocalEdges)
        (st.labels(unionFind(symRaw.coalesce(1)), 1), 1)
      else {
        val nPart = math.max(1, math.min(parent.sparkContext.defaultParallelism,
          (nEdges / EdgesPerPartition + 1L).toInt))
        val fx = parent.newSession()
        fx.conf.set("spark.sql.shuffle.partitions", nPart.toString)
        // coalesce (no shuffle) so the per-round join reads nPart staged
        // splits, not 32 near-empty ones.
        val (labels, rounds) = ccLoop(stagedIn(fx).coalesce(nPart), st)
        // Rebase into the caller's session — no lineage back into the
        // fixpoint rounds either way. Local path: `.rdd` is the final
        // localCheckpoint RDD, a materialized block-store handle (freed by
        // Det.unpersistDeep when the owning memo is released). Durable
        // path: `ccLoop` returned fx.read.parquet(...), so `.rdd` stays a
        // LAZY scan — checkpointDir/labels_{rounds%2} must outlive the
        // returned frame's last consumer.
        (parent.createDataFrame(labels.rdd, labels.schema), rounds)
      }
    } finally releaseEdges()
  }

  /** Connected components of a staged edge list in ONE task (the caller
    * coalesces it to one partition): union-find with union by smaller
    * root and path compression. Linking the larger root under the
    * smaller keeps every root the minimum id of its set, so `find(v)` is
    * the min label the fixpoint converges to. The staged list is
    * symmetrized and self-looped, so every vertex appears; `getLong`
    * throws on a null endpoint rather than skipping it.
    */
  private def unionFind(sym: DataFrame): DataFrame = {
    val rows = sym.rdd.mapPartitions { edges =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(v: Long): Long = {
        var root = v
        while (parent(root) != root) root = parent(root)
        var x = v
        while (x != root) { val next = parent(x); parent(x) = root; x = next }
        root
      }
      edges.foreach { e =>
        val (a, b) = (e.getLong(0), e.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      parent.keys.toArray.iterator.map(v => Row(v, find(v)))
    }
    // The fixpoint's schema: doc keeps src's nullability, lbl is a min.
    sym.sparkSession.createDataFrame(rows, StructType(Seq(
      sym.schema("src").copy(name = "doc"), StructField("lbl", LongType))))
  }

  /** The fixpoint itself, parameterized by the variant's staging. */
  private def ccLoop(sym: DataFrame, st: Staging, maxRounds: Int = 25): (DataFrame, Int) = {
    var labels = st.labels(sym.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc")), 0)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val nbrMin = st.temp(sym.join(labels, sym("dst") === labels("doc"))
        .groupBy(sym("src").as("doc")).agg(min(col("lbl")).as("lbl")))
      // Pointer jump through the round's OWN labels: l(v) ← min(l(v), l(l(v))).
      // Aliased self-join — bare column refs on a self-joined frame resolve
      // ambiguously.
      val next = st.labels(nbrMin.as("a")
        .join(nbrMin.as("b"), col("a.lbl") === col("b.doc"), "left_outer")
        .select(col("a.doc").as("doc"),
          least(col("a.lbl"), coalesce(col("b.lbl"), col("a.lbl"))).as("lbl")),
        rounds + 1)
      val changed = next.as("n")
        .join(labels.as("p"), col("n.doc") === col("p.doc"))
        .filter(col("n.lbl") =!= col("p.lbl")).count()
      // Round N-1's artifacts are dead the moment the check above ran.
      st.releaseTemp(nbrMin)
      st.releaseLabels(labels)
      labels = next
      converged = changed == 0
      rounds += 1
    }
    // A silent partial fixpoint would quietly diverge from the oracle on
    // a pathological graph (ADVICE r3) — fail loudly instead.
    require(converged,
      s"connected components did not converge in $maxRounds rounds — " +
        "graph diameter exceeds 2^maxRounds or labels oscillate (bug)")
    (labels, rounds)
  }

  val dedupGroups: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    // ONE fixpoint per (session, dir): memoized so dedupKeep and bench
    // repetitions reuse the materialized labels — a per-call pin re-ran
    // the whole iterative join loop for every consumer (r3 defect: ~22%
    // of the warm bench sweep). q_dedup_keep and q_dedup_sizes both
    // read it; it lives until the family-boundary release.
    val labels = Det.memo(spark, s"dedup.labels:$dir") {
      connectedComponents(
        dedupMinHash(spark, dir)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))._1
    }
    labels
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("lbl"))).cast("long"))
      .select(col("doc").as("doc_id"), col("lbl").as("group_id"), col("group_size"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same fixpoint as a recursive CTE — the transitive label
    * closure, then min per doc. Component-min labels are order-free, so
    * both formulations provably agree.
    */
  val dedupGroupsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($dedupMinHashSql)),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |cc AS (
       |  SELECT a AS doc, a AS lbl FROM edges
       |  UNION
       |  SELECT e.a, cc.lbl FROM edges e JOIN cc ON cc.doc = e.b),
       |final AS (SELECT doc, min(lbl) AS group_id FROM cc GROUP BY doc)
       |SELECT doc AS doc_id, group_id,
       |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
       |FROM final ORDER BY doc_id""".stripMargin

  /** Keep-policy over the dedup groups — the last stage of the dedup
    * pipeline: within every near-dup component keep exactly one document,
    * the highest quality-scored (doc_id as the deterministic tiebreak —
    * the score is r4-rounded, so ties are real and must break stably).
    * Composes connected components with the text-quality gate; the window
    * runs per group (tiny partitions), one shuffle on group_id.
    */
  val dedupKeep: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val groups = dedupGroups(spark, dir).select(col("doc_id"), col("group_id"))
    val quality = TextOps.textStats(spark, dir).select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    groups.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("group_id"), col("quality_score"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepSql: String =
    s"""SELECT g.doc_id, g.group_id, q.quality_score,
       |  row_number() OVER (PARTITION BY g.group_id
       |                     ORDER BY q.quality_score DESC, g.doc_id) = 1 AS keep
       |FROM ($dedupGroupsSql) g JOIN (${TextOps.textStatsSql}) q ON g.doc_id = q.doc_id
       |ORDER BY g.doc_id""".stripMargin

  /** Duplication profile — the audit a curation run reads before
    * deciding dedup budget: how much of the corpus sits in near-dup
    * components of each size (n_groups, n_docs, corpus share per
    * group_size), with the singleton mass (docs in NO component) as the
    * group_size = 1 row so the profile partitions the whole corpus.
    * Composes the memoized CC labels with two 1-row totals that ride
    * broadcast nested loops — nothing corpus-sized beyond the fixpoint
    * the other dedup queries already share.
    */
  val dedupSizes: Q = (spark, dir) => {
    val g = dedupGroups(spark, dir)
    val grouped = g.groupBy(col("group_size"))
      .agg(countDistinct(col("group_id")).as("n_groups"),
        count(lit(1)).as("n_docs"))
    val totals = documents(spark, dir).agg(count(lit(1)).as("n_total"))
    val gdocs = g.agg(count(lit(1)).as("n_grouped"))
    val singleton = totals.crossJoin(gdocs)
      .select(lit(1L).as("group_size"),
        (col("n_total") - col("n_grouped")).as("n_groups"),
        (col("n_total") - col("n_grouped")).as("n_docs"))
    grouped.select(col("group_size"), col("n_groups"), col("n_docs"))
      .unionByName(singleton)
      .crossJoin(broadcast(totals))
      .withColumn("corpus_share",
        r6(col("n_docs").cast("double") / col("n_total").cast("double")))
      .select(col("group_size"), col("n_groups"), col("n_docs"), col("corpus_share"))
      .orderBy(col("group_size"))
  }

  val dedupSizesSql: String =
    s"""WITH g AS ($dedupGroupsSql),
       |gr AS (
       |  SELECT group_size, CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM g GROUP BY group_size),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
       |gd AS (SELECT CAST(count(*) AS BIGINT) AS n_grouped FROM g),
       |s AS (
       |  SELECT CAST(1 AS BIGINT) AS group_size,
       |    t.n_total - gd.n_grouped AS n_groups,
       |    t.n_total - gd.n_grouped AS n_docs
       |  FROM t, gd),
       |u AS (SELECT * FROM gr UNION ALL SELECT * FROM s)
       |SELECT u.group_size, u.n_groups, u.n_docs,
       |  ${sqlR6("CAST(u.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)")} AS corpus_share
       |FROM u, t ORDER BY u.group_size""".stripMargin

  /** PageRank centrality over the near-dup pair graph (5 fixed
    * iterations, damping 0.85): within a duplication cluster the
    * highest-rank document is the hub the most near-copies point at — a
    * centrality-based canonical pick that complements dedupKeep's
    * quality-based one (and the classic iterative-numeric workload an
    * analytics engine must run distributed).
    *
    * Each iteration is one equi-join of the edge list with the rank
    * table plus one aggregation keyed on the destination node — the same
    * shuffle shape as a CC round, so the 100 TB story (per-round durable
    * checkpointing, right-sized shuffles) carries over verbatim from
    * `connectedComponentsDurable`. Five rounds of chained plan are fine
    * un-checkpointed (lineage depth ~15 nodes; the ~20-round Catalyst
    * analysis blowup the CC scaladoc documents is far away).
    *
    * Determinism: per-node contribution sums go through decimal
    * (order-free across any partitioning); everything else is scalar
    * IEEE mul/div/add both engines compute bit-identically. The rational
    * damping constants (0.85, 0.15) never touch libm.
    */
  /** The rank fixpoint itself, over a symmetrized duplicate-free edge
    * list: returns (doc, degree double, rank double), unrounded.
    * Separated from the query so specs can plant non-clique topologies
    * (the harness corpus's near-dup components are cliques, where every
    * node provably converges to exactly 1/|V| — a correct but
    * assertion-free answer).
    */
  def pagerank(sym: DataFrame, iters: Int = 5): DataFrame = {
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg"))
    val stats = deg.agg(count(lit(1)).cast("double").as("n_nodes"))
    var ranks = deg.crossJoin(broadcast(stats))
      .select(col("src").as("doc"), (lit(1.0) / col("n_nodes")).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(deg, ranks("doc") === deg("src"))
        .select(col("doc"), (col("rank") / col("deg")).as("c"))
      ranks = sym.join(contrib, sym("src") === contrib("doc"))
        .groupBy(sym("dst").as("doc"))
        .agg(dsum(col("c")).as("sm"))
        .crossJoin(broadcast(stats))
        .select(col("doc"), (lit(0.15) / col("n_nodes") + lit(0.85) * col("sm")).as("rank"))
    }
    ranks.join(deg, ranks("doc") === deg("src"))
      .select(col("doc"), col("deg"), col("rank"))
  }

  /** Convergence-detecting PageRank — the production form of the fixed
    * 5-iteration verified query: iterate until the max per-node rank
    * delta drops under `tol`, with the SAME lifecycle discipline as the
    * CC fixpoint (per-round localCheckpoint to truncate lineage — an
    * unbounded chained plan blows up Catalyst analysis past ~20 rounds —
    * and eager release of the superseded round's checkpoint blocks).
    * Not oracle-able (the round count is data-dependent), so it is
    * spec-verified: agreement with the fixed-iteration form at the same
    * round count, and convergence on a planted star.
    */
  def pagerankConverged(sym: DataFrame, tol: Double = 1e-4,
                        maxRounds: Int = 120): (DataFrame, Int) = {
    // Damped power iteration contracts at 0.85 per round, so reaching
    // tol takes ≈ ln(tol)/ln(0.85) rounds (1e-4 ≈ 57) regardless of
    // graph size — pick tol accordingly, rounds are shuffles.
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg"))
      .localCheckpoint()
    val stats = deg.agg(count(lit(1)).cast("double").as("n_nodes"))
    var ranks = deg.crossJoin(broadcast(stats))
      .select(col("src").as("doc"), (lit(1.0) / col("n_nodes")).as("rank"))
      .localCheckpoint()
    var rounds = 0
    var delta = Double.MaxValue
    while (delta > tol && rounds < maxRounds) {
      val contrib = ranks.join(deg, ranks("doc") === deg("src"))
        .select(col("doc"), (col("rank") / col("deg")).as("c"))
      val next = sym.join(contrib, sym("src") === contrib("doc"))
        .groupBy(sym("dst").as("doc"))
        .agg(dsum(col("c")).as("sm"))
        .crossJoin(broadcast(stats))
        .select(col("doc"), (lit(0.15) / col("n_nodes") + lit(0.85) * col("sm")).as("rank"))
        .localCheckpoint()
      delta = next.as("n").join(ranks.as("p"), col("n.doc") === col("p.doc"))
        .agg(max(abs(col("n.rank") - col("p.rank")))).collect()(0).getDouble(0)
      freeLocalCheckpoint(ranks)
      ranks = next
      rounds += 1
    }
    require(delta <= tol,
      s"pagerank did not converge to $tol in $maxRounds rounds (delta=$delta)")
    val out = ranks.join(deg, ranks("doc") === deg("src"))
      .select(col("doc"), col("deg"), col("rank"))
    (out, rounds)
  }

  val graphPagerank: Q = (spark, dir) => {
    // Symmetrized, deduped edge list (pairs are distinct with a < b, so
    // the union of both directions is already duplicate-free). Memoized:
    // the rank loop reads it 5× and the MinHash pipeline must not rerun.
    val sym = Det.memo(spark, s"dedup.sym:$dir") {
      val pairs = dedupMinHash(spark, dir).select(col("doc_a"), col("doc_b"))
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    }
    // Same scheduling medicine as the CC fixpoint (invariants 3-4): the
    // 5 iterations are ~11 shuffles over a tiny rank table, so they run
    // in a THROWAWAY CLONED SESSION at edge-count-sized shuffle width —
    // the caller's conf is never mutated (r4 ADVICE), and the narrowed
    // width is baked into the fixpoint session so no restore races
    // against lazy materialization. The memoized result is rebased into
    // the caller's session — every later consumer reads one fixpoint.
    val ranked = Det.memo(spark, s"dedup.pagerank:$dir") {
      val nEdges = sym.count()
      val nPart = math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (nEdges / 65536L + 1L).toInt))
      val fx = spark.newSession()
      fx.conf.set("spark.sql.shuffle.partitions", nPart.toString)
      // Rebase the memoized edge list into fx via its row RDD (cache
      // reads are context-level, so the scans still hit the sym pin).
      val symFx = fx.createDataFrame(sym.rdd, sym.schema).coalesce(nPart)
      val r = pagerank(symFx).localCheckpoint() // materialize in-scope
      spark.createDataFrame(r.rdd, r.schema)
    }
    ranked
      .select(col("doc").as("doc_id"), col("deg").cast("long").as("degree"),
        r6(col("rank")).as("pagerank"))
      .orderBy(col("doc_id"))
  }

  private def prIter(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""c$i AS (
       |  SELECT s.dst AS doc, ${sqlDsum("r.rank / d.deg")} AS sm
       |  FROM sym s JOIN $prev r ON s.src = r.doc JOIN deg d ON s.src = d.src
       |  GROUP BY s.dst),
       |r$i AS (SELECT doc, 0.15 / n + 0.85 * sm AS rank FROM c$i, st)""".stripMargin
  }

  val graphPagerankSql: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($dedupMinHashSql)),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY src),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |r0 AS (SELECT src AS doc, 1.0 / n AS rank FROM deg, st),
       |${(1 to 5).map(prIter).mkString(",\n")}
       |SELECT r5.doc AS doc_id, CAST(d.deg AS BIGINT) AS degree,
       |  ${sqlR6("r5.rank")} AS pagerank
       |FROM r5 JOIN deg d ON r5.doc = d.src ORDER BY doc_id""".stripMargin

  /** Incremental dedup — the production shape at 100 TB, where a new
    * crawl increment is deduped AGAINST the standing corpus without ever
    * re-pairing the corpus with itself: existing docs (source index < 10
    * here) contribute only their LSH band keys; candidates form where a
    * NEW doc collides with an OLD doc, or two NEW docs collide with the
    * earlier-id one as the survivor. Verified with exact Jaccard ≥ 0.8,
    * then each new doc reports the smallest doc it duplicates (or
    * survives as unique).
    *
    * Scale shape: the standing corpus's signatures are a staged table
    * (here the session memo) — the increment is signed, banded, and
    * bucket-joined; old×old pairs never form, so incremental cost is
    * O(increment) + collisions, not O(corpus²).
    */
  /** The harness's standing-corpus predicate: sources indexed < 10 are
    * "old". `try_cast` (NULL on malformed input, in Spark AND DuckDB's
    * TRY_CAST twin) instead of a bare CAST: under ANSI mode Spark's CAST
    * throws where DuckDB's errors differently — a latent engine
    * divergence on any data outside the harness naming convention. A
    * NULL index is neither old nor new (both filters drop it) — the
    * conservative reading for an unparseable source id.
    */
  private val harnessIsOld: org.apache.spark.sql.Column =
    expr("try_cast(substr(source, 4) AS INT)") < 10

  val dedupIncremental: Q = (spark, dir) =>
    dedupIncrementalOver(spark, dir, harnessIsOld)

  /** Incremental dedup core, parameterized by the old/new split — the
    * caller says which rows form the standing corpus (a date bound, a
    * crawl-id set, a snapshot flag), not a hardcoded naming convention.
    */
  def dedupIncrementalOver(spark: SparkSession, dir: String,
                           isOld: org.apache.spark.sql.Column): DataFrame = {
    val sh = sharedShingles(spark, dir)
    val banded = Det.memo(spark, s"dedup.sig:$dir") {
      sh.withColumn("sig", expr("minhash_sig(shingles)"))
        .select(col("doc_id"), col("sig"))
    }
      .withColumn("bands", expr(
        "transform(sequence(0, 3), k -> md5(concat(CAST(k AS STRING), '|', sig[k*3], '|', sig[k*3+1], '|', sig[k*3+2])))"))
      .select(col("doc_id"), explode(col("bands")).as("band"))
    val srcIdx = documents(spark, dir)
      .select(col("doc_id"), isOld.as("is_old"))
    val ex = banded.join(srcIdx, "doc_id")
    val oldB = ex.filter(col("is_old")).select(col("doc_id").as("other"), col("band"))
    val newB = ex.filter(!col("is_old")).select(col("doc_id"), col("band"))
    val candOld = newB.join(oldB, "band").select(col("doc_id"), col("other"))
    val candNew = newB.as("a")
      .join(newB.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("other"))
    val cand = candOld.union(candNew).distinct()
    val sa = sh.select(col("doc_id"), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as("o2"), col("shingles").as("sh_b"))
    val dups = cand
      .join(sa, "doc_id")
      .join(sb, cand("other") === sb("o2"))
      .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
      .filter(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.8)
      .groupBy(col("doc_id")).agg(min(col("other")).as("dup_of"))
    srcIdx.filter(!col("is_old")).select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.as("is_new_unique"))
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String =
    s"""WITH sh AS ($duckShingles),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    [list_aggregate(list_transform(shingles, s -> md5(CAST(j AS VARCHAR) || ':' || s)), 'min')
       |     for j in generate_series(0, 11)] AS sig
       |  FROM sh),
       |banded AS (
       |  SELECT doc_id,
       |    unnest([md5(CAST(k AS VARCHAR) || '|' || sig[3*k+1] || '|' || sig[3*k+2] || '|' || sig[3*k+3])
       |            for k in generate_series(0, 3)]) AS band
       |  FROM sig),
       |srcidx AS (
       |  SELECT doc_id, TRY_CAST(substr(source, 4) AS INT) < 10 AS is_old FROM documents),
       |ex AS (SELECT b.doc_id, b.band, s.is_old FROM banded b JOIN srcidx s USING (doc_id)),
       |oldb AS (SELECT doc_id AS other, band FROM ex WHERE is_old),
       |newb AS (SELECT doc_id, band FROM ex WHERE NOT is_old),
       |cand AS (
       |  SELECT DISTINCT doc_id, other FROM (
       |    SELECT n.doc_id, o.other FROM newb n JOIN oldb o USING (band)
       |    UNION ALL
       |    SELECT a.doc_id, b.doc_id AS other
       |    FROM newb a JOIN newb b ON a.band = b.band AND a.doc_id > b.doc_id)),
       |v AS (
       |  SELECT c.doc_id, c.other,
       |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) AS inter,
       |    len(x.shingles) AS na, len(y.shingles) AS nb
       |  FROM cand c JOIN sh x ON c.doc_id = x.doc_id JOIN sh y ON c.other = y.doc_id),
       |dups AS (
       |  SELECT doc_id, min(other) AS dup_of FROM v
       |  WHERE inter / (na + nb - inter) >= 0.8 GROUP BY doc_id)
       |SELECT s.doc_id, d.dup_of, d.dup_of IS NULL AS is_new_unique
       |FROM srcidx s LEFT JOIN dups d USING (doc_id)
       |WHERE NOT s.is_old ORDER BY s.doc_id""".stripMargin

  // ---- Corpus-level source overlap ----

  /** Per-(source, shingle) distinct postings — the corpus-level analogue
    * of the doc shingle table: which 3-gram shingles each source
    * contributes at all, regardless of how many of its docs carry them.
    * One explode + distinct, shuffled on (source, shingle); shared by
    * both overlap queries via a memo so the derivation runs once.
    */
  private def sourceShingles(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"dedup.srcsh:$dir") {
      withShingles(documents(spark, dir))
        .select(col("source"), explode(col("shingles")).as("shingle"))
        .distinct()
    }

  /** Exact source-overlap matrix: Jaccard between every two sources'
    * distinct shingle sets — the corpus-curation question "which crawl
    * sources duplicate each other" answered at the source level rather
    * than the doc level (a mix audit runs this before choosing per-source
    * caps). Pairs sharing zero shingles are absent (inner postings join).
    * Scale: the postings self-join expands each shingle into
    * C(sources-carrying-it, 2) pairs — bounded by the SOURCE count
    * squared per shingle, not the doc count; when the source universe is
    * itself huge (per-domain), q_source_overlap_sig is the constant-state
    * scale path and this exact form is the verification baseline.
    */
  /** Shingle counts grouped by their full (sorted) source set — the
    * sufficient statistic for the exact overlap matrix, memoized (r15).
    * The old form re-ran a string-keyed postings self-join per run
    * (~12 CPU-s at sf0.1: ~2× the postings shuffled by shingle string,
    * then C(k,2) pair rows per shingle into a count). inter(a,b) only
    * depends on HOW MANY shingles carry each distinct source set — at
    * most 2^S rows for S sources — so the per-run work collapses to a
    * pair explode over that tiny cached table with the shingle count as
    * the weight. Counts are identical pair by pair. (When the source
    * universe is itself huge this grouping degenerates —
    * q_source_overlap_sig is the documented constant-state scale path;
    * this exact form is its accuracy baseline.)
    */
  private def sourceShingleSetCounts(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"dedup.srcshset:$dir") {
      sourceShingles(spark, dir).groupBy(col("shingle"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        // Tens of kB, but the per-run pair EXPLODE over it is CPU-heavy
        // (~0.6 s of nested-HOF work at sf0.1): r15 cached it as ONE
        // partition to kill 32-task scheduling overhead, which also
        // serialized that explode (measured: the warm run was one
        // 590 ms single-task stage). A handful of partitions keeps the
        // scheduling negligible AND the explode parallel.
        .groupBy(col("srcs")).agg(count(lit(1)).as("cnt"))
        .repartition(math.min(8, math.max(1, spark.sparkContext.defaultParallelism)))
    }

  val sourceOverlap: Q = (spark, dir) => {
    val sets = sourceShingleSetCounts(spark, dir)
    // Per-source distinct-shingle counts: each shingle contributes its
    // set's weight once per member source — same n as the old
    // groupBy(source) over the postings.
    val counts = sets.select(explode(col("srcs")).as("source"), col("cnt"))
      .groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    // Ordered pairs from each sorted source set, weighted by the set's
    // shingle count — exactly the rows the a.shingle = b.shingle AND
    // a.source < b.source join produced, aggregated set-first.
    sets
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), b -> struct(a AS source_a, b AS source_b))))"))
        .as("p"), col("cnt"))
      .select(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"), col("cnt"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("cnt")).as("inter"))
      .join(broadcast(counts.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        r6(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH ss AS (
       |  SELECT DISTINCT source, shingle FROM (
       |    SELECT source,
       |      unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |        for i in generate_series(1, len(toks) - 2)])) AS shingle
       |    FROM (SELECT source, string_split(text, ' ') AS toks FROM documents))),
       |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT i.source_a, i.source_b, i.inter,
       |  ${sqlR6("CAST(i.inter AS DOUBLE) / CAST(ca.n + cb.n - i.inter AS DOUBLE)")} AS jaccard
       |FROM inter i
       |JOIN cnt ca ON i.source_a = ca.source
       |JOIN cnt cb ON i.source_b = cb.source
       |ORDER BY source_a, source_b""".stripMargin

  /** MinHash-signature source overlap: each source keeps 12 minima of
    * md5(j ':' shingle) over its distinct shingle set — S×12 cells of
    * state however large the corpus — and every pair's resemblance is
    * estimated as matching coordinates / 12. The per-(source, j) min is
    * a map-side-combining aggregate (no postings self-join anywhere), so
    * this is the form that survives a source universe too big for
    * q_source_overlap's exact join; that query is its accuracy oracle.
    * All S² pairs appear (signature rows always join), including
    * zero-match ones.
    */
  val sourceOverlapSig: Q = (spark, dir) => {
    // The S×12 signature table is the constant-state artifact a corpus
    // run would persist; memoized (r15) so the per-run work is the
    // S²-pair join over S×12 rows, not 12 md5 evaluations per posting
    // (~8 CPU-s at sf0.1).
    val sig = Det.memo(spark, s"dedup.srcsig:$dir") {
      sourceShingles(spark, dir)
        .select(col("source"), col("shingle"), explode(sequence(lit(0), lit(11))).as("j"))
        .withColumn("h", md5(concat(col("j").cast("string"), lit(":"), col("shingle"))))
        .groupBy(col("source"), col("j")).agg(min(col("h")).as("mh"))
        .repartition(1) // S×12 rows — one cached partition (see above)
    }
    sig.as("a").join(sig.as("b"),
        col("a.j") === col("b.j") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        (col("a.mh") === col("b.mh")).cast("long").as("m"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("m")).cast("long").as("sig_matches"))
      .select(col("source_a"), col("source_b"), col("sig_matches"),
        r6(col("sig_matches").cast("double") / lit(12.0)).as("est_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSigSql: String =
    s"""WITH ss AS (
       |  SELECT DISTINCT source, shingle FROM (
       |    SELECT source,
       |      unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |        for i in generate_series(1, len(toks) - 2)])) AS shingle
       |    FROM (SELECT source, string_split(text, ' ') AS toks FROM documents))),
       |sig AS (
       |  SELECT source, j, min(md5(CAST(j AS VARCHAR) || ':' || shingle)) AS mh
       |  FROM ss CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j)
       |  GROUP BY source, j)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS sig_matches,
       |  ${sqlR6("CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 12.0")} AS est_jaccard
       |FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---- Repeated-passage trim ----

  /** Passage-level dedup (the within-corpus duplicate-span class of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"):
    * a token is DUPLICATED when any 3-token shingle covering it occurs in
    * ≥ 2 distinct documents, and the trimmed text keeps only
    * non-duplicated tokens in order. Doc-level dedup can't touch this —
    * boilerplate shared across otherwise-distinct pages survives every
    * doc-hash — so production pipelines trim the shared spans themselves.
    * Shape: positional shingles (n rows/doc, NOT distinct — position
    * matters) → document frequency per shingle (one shuffle) →
    * covered-position explode (≤ 3n) → left-join mark + ordered
    * re-concat per doc. Every stage is a map or a keyed shuffle — linear
    * at 100 TB. A production run widens the window (e.g. 50-gram rolling
    * hashes, so only long verbatim spans trim); width 3 keeps the oracle
    * tractable on the short synthetic docs, and the plan shape is
    * width-independent.
    */
  val dedupPassage: Q = (spark, dir) => {
    val base = documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
    val psh = base.filter(col("n") >= 3)
      .select(col("doc_id"), explode(expr(
          """transform(sequence(1, CAST(n AS INT) - 2),
            |          p -> named_struct('p', p, 's', concat_ws(' ', slice(toks, p, 3))))""".stripMargin))
        .as("ps"))
      .select(col("doc_id"), col("ps.p").as("p"), col("ps.s").as("s"))
    val dfc = psh.select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val dup = psh.join(dfc, "s").filter(col("df") >= 2)
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + 2)).as("i"))
      .distinct()
      .withColumn("dup", lit(true))
    base.select(col("doc_id"), col("n"), posexplode(col("toks")).as(Seq("i0", "tok")))
      .withColumn("i", (col("i0") + 1).cast("int"))
      .join(dup, Seq("doc_id", "i"), "left_outer")
      .groupBy(col("doc_id"), col("n"))
      .agg(
        sum(when(col("dup"), 1L).otherwise(0L)).cast("long").as("n_dup_toks"),
        concat_ws(" ", expr(
          """transform(array_sort(collect_list(
            |  CASE WHEN dup IS NULL THEN named_struct('i', i, 'tok', tok) END)),
            |          x -> x.tok)""".stripMargin)).as("trimmed_text"))
      .select(col("doc_id"), col("n").as("n_toks"), col("n_dup_toks"), col("trimmed_text"),
        r6(col("n_dup_toks").cast("double") / col("n").cast("double")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  val dedupPassageSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |pshp AS (
       |  SELECT doc_id, unnest(generate_series(1, CAST(n AS INT) - 2)) AS p, toks
       |  FROM base WHERE n >= 3),
       |psh AS (SELECT doc_id, p, array_to_string(toks[p:p+2], ' ') AS s FROM pshp),
       |dfc AS (SELECT s, count(DISTINCT doc_id) AS df FROM psh GROUP BY s),
       |dup AS (
       |  SELECT DISTINCT doc_id, i FROM (
       |    SELECT doc_id, unnest(generate_series(p, p + 2)) AS i
       |    FROM psh JOIN dfc USING (s) WHERE df >= 2)),
       |tok AS (
       |  SELECT doc_id, n, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok
       |  FROM base),
       |marked AS (
       |  SELECT t.doc_id, t.n, t.i, t.tok, d.i IS NOT NULL AS dup
       |  FROM tok t LEFT JOIN dup d ON t.doc_id = d.doc_id AND t.i = d.i)
       |SELECT doc_id, n AS n_toks,
       |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_toks,
       |  coalesce(array_to_string(list(tok ORDER BY i) FILTER (WHERE NOT dup), ' '), '') AS trimmed_text,
       |  ${sqlR6("CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / CAST(n AS DOUBLE)")} AS dup_ratio
       |FROM marked GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- fuzzy (edit-distance)

  /** Prefix-block edit-distance near-dup pairs: candidate pairs share a
    * 12-char text prefix AND a length window (|len_a − len_b| ≤ d), and
    * survive only if levenshtein ≤ d = 8. Levenshtein is the right tool
    * where MinHash is not: token-ORDER-preserving small edits (typo
    * variants, template instantiations) that shingle methods can
    * under-score on short texts.
    *
    * Scale shape: the only shuffle is the equi-join on the prefix key —
    * never all-pairs. Prefix blocking is the standard record-linkage
    * trade (a pair edited WITHIN its first 12 chars is missed; recall
    * lives in the blocking key, precision in the verify). The length
    * prefilter prunes before the O(len²) levenshtein runs, and a block-
    * frequency cap (≤ 64 docs per prefix, same df-cap discipline as
    * [[dedupNgramCapped]]) bounds the worst block at boilerplate-prefix
    * skew — a capped block is dropped whole, auditably, rather than
    * exploding quadratically.
    */
  private val fuzzyMaxDist = 8
  private val fuzzyPrefixLen = 12
  private val fuzzyBlockCap = 64

  val dedupFuzzy: Q = (spark, dir) => {
    val base = documents(spark, dir)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, fuzzyPrefixLen).as("pfx"),
        length(col("text")).as("len"))
    val blocked = base.withColumn("block_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("pfx"))))
      .filter(col("block_n") <= fuzzyBlockCap)
    val a = blocked.select(col("pfx"), col("doc_id").as("doc_a"),
      col("text").as("text_a"), col("len").as("len_a"))
    val b = blocked.select(col("pfx").as("pfx_b"), col("doc_id").as("doc_b"),
      col("text").as("text_b"), col("len").as("len_b"))
    // ALL predicates ride inside the join condition, cheap-first: And
    // short-circuits left-to-right, so the banded levenshtein (early-exit
    // at d+1 — O(len·d), not the O(len²) full DP) runs only on pairs the
    // id-order and length window admit. Writing the distance filter as a
    // post-join .filter instead lets PushPredicateThroughJoin PREPEND it
    // to the condition — the edit distance then runs on every
    // prefix-collision pair including the doc_a ≥ doc_b half (observed:
    // 2× pairs × 35× DP cells at sf0.1). The projection recomputes the
    // banded distance only for the surviving pairs — noise.
    a.join(b, col("pfx") === col("pfx_b") && col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= fuzzyMaxDist &&
        levenshtein(col("text_a"), col("text_b"), fuzzyMaxDist) >= 0)
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b"), fuzzyMaxDist))
      .select(col("doc_a"), col("doc_b"), col("edit_dist").cast("long").as("edit_dist"),
        col("len_a").cast("long").as("len_a"), col("len_b").cast("long").as("len_b"),
        r6(lit(1.0) - col("edit_dist").cast("double")
          / greatest(col("len_a"), col("len_b")).cast("double")).as("sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupFuzzySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, substr(text, 1, $fuzzyPrefixLen) AS pfx,
       |    length(text) AS len
       |  FROM documents),
       |blocked AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY pfx) AS block_n FROM base) t
       |  WHERE block_n <= $fuzzyBlockCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |  CAST(a.len AS BIGINT) AS len_a, CAST(b.len AS BIGINT) AS len_b,
       |  ${sqlR6("1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) " +
              "/ CAST(greatest(a.len, b.len) AS DOUBLE)")} AS sim
       |FROM blocked a JOIN blocked b ON a.pfx = b.pfx
       |WHERE a.doc_id < b.doc_id AND abs(a.len - b.len) <= $fuzzyMaxDist
       |  AND levenshtein(a.text, b.text) <= $fuzzyMaxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------------- snapshot diff

  /** Corpus snapshot reconciliation: given two snapshots of the corpus
    * (old = doc_id % 10 < 8; new = doc_id % 10 ≥ 2, with every 7th doc's
    * text edited — both derived DETERMINISTICALLY from the one corpus so
    * the oracle sees identical snapshots), classify every doc_id as
    * added / removed / changed / unchanged by row-hash compare and count
    * per (source, class). This is the audit step between two ingest
    * runs: what did the crawl refresh actually do?
    *
    * Scale shape: each side is hashed BEFORE the join (md5 of the
    * content — a narrow projection, so 100 TB of text never ships into
    * the join; only (doc_id, source, 32-byte hash) does), then ONE
    * full-outer shuffle join on doc_id and a counting aggregation.
    * This is the Delta-Lake-CDF-shaped diff re-expressed as plain
    * relational algebra over content hashes.
    */
  /** The diff kernel over two ARBITRARY document snapshots (doc_id,
    * source, text): each side hashed BEFORE the one full-outer join —
    * text never ships into it. `snapshotDiff` feeds it two
    * deterministically-derived views of one corpus (so the DuckDB
    * oracle sees identical snapshots); ext.Publish.servingDiff feeds it
    * two RETAINED serving versions — "what did the last publish do".
    *
    * Presence is carried as an explicit non-null marker per side, NOT
    * inferred from h_old/h_new nullness: md5(NULL text) is NULL, and a
    * null-text doc present on both sides must classify by the same rule
    * the oracle uses (side-presence via the outer join), never "added".
    */
  private[graft] def snapshotDiffOver(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val old = oldDocs.select(col("doc_id"), col("source"),
      md5(col("text")).as("h_old"), lit(true).as("in_old"))
    val neu = newDocs.select(col("doc_id"), col("source").as("source_new"),
      md5(col("text")).as("h_new"), lit(true).as("in_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source"), col("source_new")).as("source"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("h_old") === col("h_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("class"))
      .groupBy(col("source"), col("class"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("class"))
  }

  val snapshotDiff: Q = (spark, dir) => {
    val d = documents(spark, dir)
    snapshotDiffOver(
      d.filter(col("doc_id") % 10 < 8)
        .select(col("doc_id"), col("source"), col("text")),
      d.filter(col("doc_id") % 10 >= 2)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text")))
  }

  val snapshotDiffSql: String =
    """WITH old AS (
      |  SELECT doc_id, source, md5(text) AS h_old
      |  FROM documents WHERE doc_id % 10 < 8),
      |neu AS (
      |  SELECT doc_id, source AS source_new,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 10 >= 2)
      |SELECT coalesce(o.source, n.source_new) AS source,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.h_old = n.h_new THEN 'unchanged'
      |       ELSE 'changed' END AS class,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
      |GROUP BY 1, 2
      |ORDER BY source, class""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_dedup_fuzzy" -> dedupFuzzy,
    "q_snapshot_diff" -> snapshotDiff,
    "q_dedup_incremental" -> dedupIncremental,
    "q_graph_pagerank" -> graphPagerank,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_minhash" -> dedupMinHash,
    "q_dedup_ngram" -> dedupNgram,
    "q_dedup_ngram_capped" -> dedupNgramCapped,
    "q_dedup_containment" -> dedupContainment,
    "q_dedup_containment_capped" -> dedupContainmentCapped,
    "q_dedup_simhash" -> dedupSimHash,
    "q_dedup_groups" -> dedupGroups,
    "q_dedup_keep" -> dedupKeep,
    "q_dedup_sizes" -> dedupSizes,
    "q_dedup_passage" -> dedupPassage,
    "q_source_overlap" -> sourceOverlap,
    "q_source_overlap_sig" -> sourceOverlapSig
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_fuzzy" -> dedupFuzzySql,
    "q_snapshot_diff" -> snapshotDiffSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_graph_pagerank" -> graphPagerankSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_minhash" -> dedupMinHashSql,
    "q_dedup_ngram" -> dedupNgramSql,
    "q_dedup_ngram_capped" -> dedupNgramCappedSql,
    "q_dedup_containment" -> dedupContainmentSql,
    "q_dedup_containment_capped" -> dedupContainmentCappedSql,
    "q_dedup_simhash" -> dedupSimHashSql,
    "q_dedup_groups" -> dedupGroupsSql,
    "q_dedup_keep" -> dedupKeepSql,
    "q_dedup_sizes" -> dedupSizesSql,
    "q_dedup_passage" -> dedupPassageSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_source_overlap_sig" -> sourceOverlapSigSql
  )
}
