package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Mergeable cardinality sketches over the `documents` table: KMV
  * (k-minimum-values, a.k.a. bottom-k) distinct-count estimation per
  * source, plus the union/merge law verified as a result cell.
  *
  * Why KMV and not HyperLogLog: both are one-pass, constant-state,
  * mergeable distinct sketches; KMV's state (the k smallest value
  * hashes) and estimator ((k−1)/u_(k)) are plain relational algebra, so
  * the SAME deterministic md5 derivation runs in Spark and in the
  * DuckDB oracle with bit-identical results — where HLL's register math
  * has no engine-portable twin (Spark's approx_count_distinct sketch is
  * opaque, so it could only get a rows-count check, not a cell compare).
  * Accuracy is comparable: SE ≈ 1/√(k−2) (Beyer et al., "On Synopses
  * for Distinct-Value Estimation Under Multiset Operations", SIGMOD'07)
  * — k = 64 gives ~13%.
  *
  * Scale shape — the point of the operator: the production path is ONE
  * aggregation over the raw token stream. The [[graft.functions.KmvBottomK]]
  * aggregator deduplicates in-buffer, so there is NO distinct()
  * pre-shuffle; partial aggregation ships ≤ 64 rows per (partition,
  * source) through the exchange however many billions of raw tokens a
  * source holds, and the merge query shows per-shard sketches unioning
  * into the corpus sketch without re-reading data — exactly how 1000
  * executors sketch independently under a combining coordinator. The
  * exact count / realized-error columns are the verification overlay
  * (they are why the small-SF oracle can grade the sketch at all) and
  * would be dropped in a production run.
  *
  * Determinism: value hash = first 12 hex digits of md5(token) read as
  * a 48-bit BIGINT via the instr('0123456789abcdef', ·) digit idiom
  * (TextOps.splitAssignCol's convention) — exact below 2^53, so the
  * double estimator divides identical operands in both engines; ties
  * break on the token string; the aggregator's total order makes the
  * sketch a pure function of the input set.
  */
object Sketch {
  import Tables._
  import Det._
  type Q = (SparkSession, String) => DataFrame

  /** Sketch size: 64 minima ⇒ ~1/√62 ≈ 13% standard error. */
  val kmvK = 64

  /** 16^12 = 2^48, the hash-space size, exact in double. */
  private val hashSpace = 281474976710656.0

  /** The 48-bit value hash: first 12 hex digits of md5 as a BIGINT.
    * Spark side uses one `conv(hex, 16, 10)` node (r16): the original
    * 12-term instr/substr digit sum — kept verbatim on the DuckDB side,
    * where it still defines the value — built a ~50-node expression
    * tree PER HASH SITE that the cms/kmv plans then re-planned at every
    * AQE stage boundary (q_sketch_cms burned ~5 CPU-s per warm run with
    * only 0.3 s inside stages — the rest was driver planning + 12
    * substr/instr evaluations per row). conv of the same 12 hex chars
    * is the identical Σ digit·16^(12−i) value, exact below 2^53.
    */
  private def hvExpr(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 12), 16, 10) AS BIGINT)"

  private def hvDuck(e: String): String =
    (1 to 12).map { i =>
      s"(instr('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * ${1L << (4 * (12 - i))}"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  /** Raw (source, token, hash) stream — NOT distinct; the aggregator
    * collapses duplicates in-buffer. Memoized for the two sketch queries
    * and the exact-count overlay.
    */
  /** Attach the 48-bit md5 value hash to any (source, tok) frame — the
    * hashing step shared by the batch sketches and the streaming HLL
    * twin (identical hv ⇒ identical registers wherever computed).
    */
  def hashTokens(d: DataFrame): DataFrame =
    d.withColumn("hv", expr(hvExpr("tok")))

  private def hashedToks(spark: SparkSession, dir: String): DataFrame =
    Det.memo(spark, s"sketch.toks:$dir") {
      hashTokens(documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok")))
    }

  private val hashedToksSql: String =
    s"""ht AS (
       |  SELECT source, tok, ${hvDuck("tok")} AS hv FROM (
       |    SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
       |    FROM documents))""".stripMargin

  private def kmvAgg = udaf(new graft.functions.KmvBottomK(kmvK))

  private def estCol(kth: org.apache.spark.sql.Column, nDistinct: org.apache.spark.sql.Column) =
    r6(when(nDistinct <= kmvK, nDistinct.cast("double"))
      .otherwise(lit((kmvK - 1).toDouble) * lit(hashSpace) / kth.cast("double")))

  /** Per-source distinct-token cardinality: the KMV estimate from the
    * bounded sketch, the exact count, and the realized relative error.
    * A source with ≤ k distinct tokens has every hash in its sketch, so
    * the estimator switches to the (exact) sketch size — the standard
    * small-range rule.
    */
  val sketchKmv: Q = (spark, dir) => {
    val ht = hashedToks(spark, dir)
    val sk = ht.groupBy(col("source"))
      .agg(kmvAgg(col("hv"), col("tok")).as("sk"))
      .select(col("source"),
        size(col("sk")).cast("long").as("k_used"),
        element_at(col("sk"), size(col("sk"))).getField("hv").as("kth_hash"))
    val exact = ht.select(col("source"), col("tok")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    sk.join(exact, "source")
      .withColumn("est_distinct", estCol(col("kth_hash"), col("n_exact")))
      .select(col("source"), col("n_exact"), col("k_used"), col("kth_hash"),
        col("est_distinct"),
        r6(abs(col("est_distinct") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
      .orderBy(col("source"))
  }

  val sketchKmvSql: String =
    s"""WITH $hashedToksSql,
       |ranked AS (
       |  SELECT source, tok, hv,
       |    row_number() OVER (PARTITION BY source ORDER BY hv, tok) AS rn
       |  FROM ht),
       |exact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM ht GROUP BY source),
       |sk AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS k_used, max(hv) AS kth_hash
       |  FROM ranked WHERE rn <= $kmvK GROUP BY source),
       |est AS (
       |  SELECT s.source, e.n_exact, s.k_used, s.kth_hash,
       |    ${sqlR6(s"CASE WHEN e.n_exact <= $kmvK THEN CAST(e.n_exact AS DOUBLE) " +
                 s"ELSE CAST($kmvK - 1 AS DOUBLE) * 281474976710656.0 / CAST(s.kth_hash AS DOUBLE) END")} AS est_distinct
       |  FROM sk s JOIN exact e ON s.source = e.source)
       |SELECT source, n_exact, k_used, kth_hash, est_distinct,
       |  ${sqlR6("abs(est_distinct - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)")} AS rel_err
       |FROM est ORDER BY source""".stripMargin

  /** The merge law as a verified result: the corpus-wide estimate
    * computed (a) directly — one global sketch over the raw stream —
    * and (b) by unioning the per-source sketches and re-sketching the
    * union. The two k-th minima must agree EXACTLY: every global
    * minimum is a minimum within its own source, so the per-source cut
    * loses nothing — the invariant that lets shards sketch
    * independently. One row: both estimates, the exact global count,
    * and the equality cell.
    */
  val sketchKmvMerge: Q = (spark, dir) => {
    val ht = hashedToks(spark, dir)
    val direct = ht.agg(kmvAgg(col("hv"), col("tok")).as("sk"))
      .select(element_at(col("sk"), least(size(col("sk")), lit(kmvK)))
        .getField("hv").as("kth_direct"))
    val merged = ht.groupBy(col("source"))
      .agg(kmvAgg(col("hv"), col("tok")).as("sk"))
      .select(explode(col("sk")).as("hvv"))
      .select(col("hvv.hv").as("hv"), col("hvv.v").as("tok"))
      .agg(kmvAgg(col("hv"), col("tok")).as("sk"))
      .select(element_at(col("sk"), least(size(col("sk")), lit(kmvK)))
        .getField("hv").as("kth_merged"))
    val exact = ht.select(col("tok")).distinct().agg(count(lit(1)).as("n_exact"))
    direct.crossJoin(merged).crossJoin(exact)
      .select(
        lit(kmvK.toLong).as("k"),
        col("n_exact"),
        estCol(col("kth_direct"), col("n_exact")).as("est_direct"),
        estCol(col("kth_merged"), col("n_exact")).as("est_merged"),
        (col("kth_direct") === col("kth_merged")).as("merge_exact"))
  }

  val sketchKmvMergeSql: String =
    s"""WITH $hashedToksSql,
       |gtok AS (SELECT DISTINCT tok, hv FROM ht),
       |direct AS (
       |  SELECT max(hv) AS kth_direct FROM (
       |    SELECT hv, row_number() OVER (ORDER BY hv, tok) AS rn FROM gtok) t
       |  WHERE rn <= $kmvK),
       |persrc AS (
       |  SELECT DISTINCT tok, hv FROM (
       |    SELECT tok, hv,
       |      row_number() OVER (PARTITION BY source ORDER BY hv, tok) AS rn
       |    FROM ht) t WHERE rn <= $kmvK),
       |merged AS (
       |  SELECT max(hv) AS kth_merged FROM (
       |    SELECT hv, row_number() OVER (ORDER BY hv, tok) AS rn FROM persrc) t
       |  WHERE rn <= $kmvK),
       |exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM gtok)
       |SELECT CAST($kmvK AS BIGINT) AS k, e.n_exact,
       |  ${sqlR6(s"CASE WHEN e.n_exact <= $kmvK THEN CAST(e.n_exact AS DOUBLE) " +
               s"ELSE CAST($kmvK - 1 AS DOUBLE) * 281474976710656.0 / CAST(d.kth_direct AS DOUBLE) END")} AS est_direct,
       |  ${sqlR6(s"CASE WHEN e.n_exact <= $kmvK THEN CAST(e.n_exact AS DOUBLE) " +
               s"ELSE CAST($kmvK - 1 AS DOUBLE) * 281474976710656.0 / CAST(m.kth_merged AS DOUBLE) END")} AS est_merged,
       |  d.kth_direct = m.kth_merged AS merge_exact
       |FROM direct d, merged m, exact e""".stripMargin

  // ---------------------------------------------------------------- HLL

  /** HyperLogLog registers: m = 64 (p = 6), alpha_64 = 0.709 (Flajolet
    * et al., "HyperLogLog: the analysis of a near-optimal cardinality
    * estimation algorithm", AofA 2007). SE ≈ 1.04/√64 = 13%.
    */
  val hllM = 64
  private val hllRankBits = 48 - 6 // hash bits left after the register index

  /** Deterministic HyperLogLog — the answer to "HLL's register math has
    * no engine-portable twin" (the objection that picked KMV in r8):
    * Spark's approx_count_distinct sketch is opaque, but HLL itself is
    * just relational algebra once the hash is pinned. Register index =
    * top 6 bits of the 48-bit md5 hash; rank = leading-zero count of
    * the remaining 42 bits + 1, computed INTEGRALLY as 43 −
    * bit_length(w) via length(bin(w)) — both engines produce the same
    * binary string, so the registers (and therefore every downstream
    * cell) are bit-identical. The harmonic sum Σ2^(−M_j) is rescaled to
    * the INTEGER sum Σ2^(42+1−M_j) (each term a BIGINT power of two —
    * exact, associative, order-free) so no decimal truncation touches
    * it; the only floating ops are one multiply-divide chain and the
    * small-range ln() correction, both r6-rounded.
    *
    * Scale shape: register maintenance is ONE aggregation with map-side
    * combine — partials ship ≤ m = 64 rows per (partition, source) no
    * matter how many billions of tokens a source holds, and shard
    * register tables merge by plain MAX, the HLL merge law. The exact
    * count / realized-error columns are the verification overlay (how
    * the small-SF oracle grades the sketch); a production run keeps the
    * 64-row register table only. Completes the mergeable-sketch family:
    * KMV (bottom-k), CMS (heavy hitters), HLL (cardinality).
    */
  /** Per-(source, register) max rank over a hashed-token frame — the
    * HLL state. Factored out so the spec can pin the merge law (shard
    * registers merge by MAX into the global registers, exactly).
    */
  private[graft] def hllRegisters(ht: DataFrame): DataFrame = {
    val maxRank = hllRankBits + 1 // w = 0 ⇒ all rank bits zero
    ht.select(col("source"),
        expr(s"hv div ${1L << hllRankBits}L").as("j"),
        expr(s"hv % ${1L << hllRankBits}L").as("w"))
      .withColumn("rank", expr(
        s"CASE WHEN w = 0 THEN $maxRank ELSE $maxRank - length(bin(w)) END"))
      .groupBy(col("source"), col("j"))
      .agg(max(col("rank")).as("mj"))
  }

  val sketchHll: Q = (spark, dir) => {
    val ht = hashedToks(spark, dir)
    val m = hllM
    val maxRank = hllRankBits + 1
    val regs = hllRegisters(ht)
    // Full register spine: absent registers are M = 0 (they carry the
    // 2^maxRank term of the harmonic sum and count toward V).
    val spine = ht.select(col("source")).distinct()
      .crossJoin(spark.range(0, m).select(col("id").as("j")))
    val filled = spine.join(regs, Seq("source", "j"), "left_outer")
      .select(col("source"), coalesce(col("mj"), lit(0L)).as("mj"))
    val est = filled.groupBy(col("source"))
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRank - mj)")).as("isum"),
        count(when(col("mj") === 0, lit(1))).as("v_zero"))
      .withColumn("est_raw",
        lit(0.709) * lit(m.toDouble) * lit(m.toDouble)
          * lit(math.pow(2.0, maxRank)) / col("isum").cast("double"))
      .withColumn("est_hll", r6(
        when(col("est_raw") <= lit(2.5 * m) && col("v_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
          .otherwise(col("est_raw"))))
    val exact = ht.select(col("source"), col("tok")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    est.join(exact, "source")
      .select(col("source"), col("n_exact"), col("v_zero"),
        r6(col("est_raw")).as("est_raw"), col("est_hll"),
        r6(abs(col("est_hll") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
      .orderBy(col("source"))
  }

  val sketchHllSql: String = {
    val m = hllM
    val maxRank = hllRankBits + 1
    val pow2 = s"CAST(${1L << hllRankBits} AS BIGINT) * 2.0" // 2^maxRank as double
    s"""WITH $hashedToksSql,
       |regs AS (
       |  SELECT source, hv // ${1L << hllRankBits} AS j,
       |    max(CASE WHEN hv % ${1L << hllRankBits} = 0 THEN $maxRank
       |        ELSE $maxRank - length(bin(hv % ${1L << hllRankBits})) END) AS mj
       |  FROM ht GROUP BY 1, 2),
       |spine AS (
       |  SELECT s.source, j FROM (SELECT DISTINCT source FROM ht) s,
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS j)),
       |filled AS (
       |  SELECT sp.source, coalesce(r.mj, 0) AS mj
       |  FROM spine sp LEFT JOIN regs r ON sp.source = r.source AND sp.j = r.j),
       |est AS (
       |  SELECT source,
       |    sum(CAST(1 AS BIGINT) << ($maxRank - mj)) AS isum,
       |    CAST(count(*) FILTER (WHERE mj = 0) AS BIGINT) AS v_zero
       |  FROM filled GROUP BY source),
       |est2 AS (
       |  SELECT source, v_zero,
       |    CAST(0.709 AS DOUBLE) * $m * $m * $pow2 / CAST(isum AS DOUBLE) AS est_raw
       |  FROM est),
       |est3 AS (
       |  SELECT source, v_zero, est_raw,
       |    ${sqlR6(s"CASE WHEN est_raw <= 2.5 * $m AND v_zero > 0 " +
                 s"THEN $m * ln($m / CAST(v_zero AS DOUBLE)) ELSE est_raw END")} AS est_hll
       |  FROM est2),
       |exact AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM ht GROUP BY source)
       |SELECT t.source AS source, e.n_exact, t.v_zero,
       |  ${sqlR6("t.est_raw")} AS est_raw, t.est_hll,
       |  ${sqlR6("abs(t.est_hll - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE)")} AS rel_err
       |FROM est3 t JOIN exact e ON t.source = e.source
       |ORDER BY t.source""".stripMargin
  }

  // ------------------------------------------------------ quantile sketch

  /** Histogram bins for the quantile sketch. SE of a quantile estimate
    * is bounded by half a bin's mass under any distribution.
    */
  val qsBins = 128

  /** The shared bin arithmetic — ONE SQL text evaluated by both engines
    * (identical IEEE op order ⇒ identical doubles).
    */
  private def qsStepExpr = s"(CAST(hi - lo + 1 AS DOUBLE) / $qsBins.0)"
  private def qsBucketExpr =
    s"LEAST(CAST(${qsBins - 1} AS BIGINT), CAST(FLOOR(CAST(n_chars - lo AS DOUBLE) / $qsStepExpr) AS BIGINT))"
  private def qsEstExpr =
    s"CAST(lo AS DOUBLE) + $qsStepExpr * (CAST(bucket AS DOUBLE) + (target - CAST(cum_before AS DOUBLE)) / CAST(cnt AS DOUBLE))"

  /** The binning kernel over any (source, n_chars, lo, hi) frame — the
    * shared constant between the batch sketch (bounds from an in-query
    * aggregate) and the streaming twin (bounds FROZEN at deploy — the
    * train-rarely/apply-per-batch asymmetry, like the frozen IVF
    * quantizer): ≤ bins·sources counter rows, mergeable by addition.
    */
  def qsHistOver(d: DataFrame): DataFrame =
    d.withColumn("bucket", expr(qsBucketExpr))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Mergeable quantile sketch: per-source p50/p90/p99 of document
    * length estimated from a 128-bin equi-width histogram over the
    * GLOBAL [min, max] range (shared binning is what makes shard
    * histograms mergeable by plain addition — the same property as the
    * CMS counter table), with linear interpolation inside the target
    * bin. The exact percentiles ride along as the verification overlay
    * (they need a full per-source sort — exactly the cost the sketch
    * exists to avoid at 100 TB), plus the realized relative error.
    *
    * Scale shape: the histogram is ONE aggregation with map-side
    * combine — partials ship ≤ 128 rows per (partition, source)
    * regardless of corpus size; the quantile extraction is a window
    * over ≤ 128·sources rows. Every estimate cell is the same
    * arithmetic TEXT in Spark and DuckDB, so the compare is exact.
    */
  val sketchQuantile: Q = (spark, dir) => {
    val qs = Seq(0.5, 0.9, 0.99)
    val d = documents(spark, dir).select(col("source"), col("n_chars"))
    val bounds = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val hist = qsHistOver(d.crossJoin(broadcast(bounds)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .join(hist.groupBy(col("source")).agg(sum(col("cnt")).as("n")), "source")
    val quant = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val ests = cum.crossJoin(broadcast(quant))
      .withColumn("target", col("q") * col("n").cast("double"))
      .filter(col("cum").cast("double") >= col("target"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("q")).orderBy(col("bucket"))))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(bounds))
      .select(col("source"), col("q"), col("n"), expr(qsEstExpr).as("est"))
      .groupBy(col("source"), col("n"))
      .agg(
        r6(max(when(col("q") === 0.5, col("est")))).as("p50_est"),
        r6(max(when(col("q") === 0.9, col("est")))).as("p90_est"),
        r6(max(when(col("q") === 0.99, col("est")))).as("p99_est"))
    val exact = documents(spark, dir).groupBy(col("source"))
      .agg(
        r6(expr("percentile(n_chars, 0.5)")).as("p50_exact"),
        r6(expr("percentile(n_chars, 0.9)")).as("p90_exact"),
        r6(expr("percentile(n_chars, 0.99)")).as("p99_exact"))
    ests.join(exact, "source")
      .select(col("source"), col("n"),
        col("p50_est"), col("p90_est"), col("p99_est"),
        col("p50_exact"), col("p90_exact"), col("p99_exact"),
        r6(abs(col("p99_est") - col("p99_exact"))
          / greatest(col("p99_exact"), lit(1.0))).as("p99_rel_err"))
      .orderBy(col("source"))
  }

  val sketchQuantileSql: String =
    s"""WITH d AS (SELECT source, n_chars FROM documents),
       |bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d),
       |hist AS (
       |  SELECT source, $qsBucketExpr AS bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM d, bounds GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket) - cnt AS cum_before,
       |    sum(cnt) OVER (PARTITION BY source) AS n
       |  FROM hist),
       |quant AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
       |                         CAST(0.99 AS DOUBLE)]) AS q),
       |hits AS (
       |  SELECT source, q, n, bucket, cnt, cum_before, target FROM (
       |    SELECT c.*, qu.q, qu.q * CAST(c.n AS DOUBLE) AS target,
       |      row_number() OVER (PARTITION BY c.source, qu.q ORDER BY c.bucket) AS rn
       |    FROM cum c, quant qu
       |    WHERE CAST(c.cum AS DOUBLE) >= qu.q * CAST(c.n AS DOUBLE)) t
       |  WHERE rn = 1),
       |ests AS (
       |  SELECT source, CAST(n AS BIGINT) AS n,
       |    ${sqlR6(s"max(CASE WHEN q = 0.5 THEN $qsEstExpr END)")} AS p50_est,
       |    ${sqlR6(s"max(CASE WHEN q = 0.9 THEN $qsEstExpr END)")} AS p90_est,
       |    ${sqlR6(s"max(CASE WHEN q = 0.99 THEN $qsEstExpr END)")} AS p99_est
       |  FROM hits, bounds GROUP BY source, n),
       |exact AS (
       |  SELECT source,
       |    ${sqlR6("quantile_cont(n_chars, 0.5)")} AS p50_exact,
       |    ${sqlR6("quantile_cont(n_chars, 0.9)")} AS p90_exact,
       |    ${sqlR6("quantile_cont(n_chars, 0.99)")} AS p99_exact
       |  FROM documents GROUP BY source)
       |SELECT e.source AS source, e.n, e.p50_est, e.p90_est, e.p99_est,
       |  x.p50_exact, x.p90_exact, x.p99_exact,
       |  ${sqlR6("abs(e.p99_est - x.p99_exact) / greatest(x.p99_exact, 1.0)")} AS p99_rel_err
       |FROM ests e JOIN exact x ON e.source = x.source
       |ORDER BY e.source""".stripMargin

  // ---------------------------------------------------------------- CMS

  /** Count-min rows (independent hash functions) and bucket width.
    * Error bound: overcount ≤ e·N/w with prob 1−e^−d (Cormode &
    * Muthukrishnan, "An Improved Data Stream Summary: The Count-Min
    * Sketch and its Applications", J. Algorithms 2005). */
  val cmsD = 4
  val cmsW = 128
  private val cmsTopK = 20

  /** Seeded 48-bit hash of a token under CMS row j (j is a COLUMN). */
  private def cmsBucketExpr: String =
    s"(${hvExpr("concat('cms', cast(j as string), '#', tok)")}) % $cmsW"

  private def cmsBucketDuck: String =
    s"(${hvDuck("'cms' || CAST(j AS VARCHAR) || '#' || tok")}) % $cmsW"

  /** Same hash with row index j as a compile-time LITERAL — lets the d
    * bucket ids stack through one posexplode instead of a join, which is
    * what makes the identical kernel legal in a streaming aggregation
    * (no stream-side join at all). */
  private def cmsBucketLit(j: Int): String =
    s"(${hvExpr(s"concat('cms$j#', tok)")}) % $cmsW"

  /** The d×w counter table over a weighted token frame (`tok`, `w`):
    * posexplode the d bucket ids per row, sum weights per (j, bucket).
    * Batch feeds the VOCABULARY frame (w = exact count — map-side
    * combined once); the streaming twin feeds raw tokens (w = 1) and
    * keeps the same ≤ d·w = 512-row state forever. Shard sketches merge
    * by plain addition — the counter table IS the mergeable state.
    */
  def cmsCountersOver(toks: DataFrame): DataFrame =
    toks.select(col("w"),
        posexplode(array((0 until cmsD).map(j => expr(cmsBucketLit(j))): _*))
          .as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket")).agg(sum(col("w")).as("cnt"))

  /** Count-min-sketch heavy hitters: the corpus's top-20 tokens by exact
    * frequency, each with its CMS estimate (min over d=4 seeded counter
    * rows of w=128 buckets) and the realized overcount — which the CMS
    * guarantee says is ≥ 0 always and small with high probability
    * (one-sided error: collisions only ADD). Every cell is integer, so
    * the oracle compare is exact, and the estimate's d×w counter table
    * is itself pure relational algebra over deterministic md5-derived
    * bucket ids — the same counters materialize in Spark and DuckDB.
    *
    * Scale shape: token frequencies are aggregated ONCE with map-side
    * combine (vocabulary-sized partials), then the d×w = 512-cell
    * counter table is a weighted re-aggregation of that vocabulary frame
    * — constant state per shard, mergeable by plain addition, exactly
    * how 1000 executors would maintain per-partition sketches under a
    * combining reduce. The candidate probe joins 20×4 = 80 rows against
    * the 512-row sketch — broadcast-trivial. The exact-count overlay
    * (top-k window over the vocabulary frame) is the verification
    * harness, bounded by |vocab|, and is what the small-SF oracle
    * grades; a production run keeps only the counters.
    */
  val sketchCms: Q = (spark, dir) => {
    val ex = documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
    val rows = spark.range(0, cmsD).select(col("id").cast("int").as("j"))
    val sketch = cmsCountersOver(ex.select(col("tok"), col("n_exact").as("w")))
    val cand = ex
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_exact").desc, col("tok"))).cast("long"))
      .filter(col("rank") <= cmsTopK)
    val probes = cand.crossJoin(broadcast(rows))
      .select(col("rank"), col("tok"), col("n_exact"), col("j"),
        expr(cmsBucketExpr).as("bucket"))
    probes.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("rank"), col("tok"), col("n_exact"))
      .agg(min(col("cnt")).as("est_cms"))
      .select(col("rank"), col("tok"), col("n_exact"), col("est_cms"),
        (col("est_cms") - col("n_exact")).as("overcount"))
      .orderBy(col("rank"))
  }

  val sketchCmsSql: String =
    s"""WITH ex AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY tok),
       |rows_j AS (SELECT unnest(generate_series(0, ${cmsD - 1})) AS j),
       |sk AS (
       |  SELECT j, $cmsBucketDuck AS bucket, CAST(sum(n_exact) AS BIGINT) AS cnt
       |  FROM ex, rows_j GROUP BY 1, 2),
       |cand AS (
       |  SELECT tok, n_exact, rank FROM (
       |    SELECT tok, n_exact,
       |      row_number() OVER (ORDER BY n_exact DESC, tok) AS rank
       |    FROM ex) t WHERE rank <= $cmsTopK),
       |probes AS (
       |  SELECT rank, tok, n_exact, j, $cmsBucketDuck AS bucket
       |  FROM cand, rows_j)
       |SELECT p.rank, p.tok, p.n_exact, min(s.cnt) AS est_cms,
       |  min(s.cnt) - p.n_exact AS overcount
       |FROM probes p JOIN sk s ON p.j = s.j AND p.bucket = s.bucket
       |GROUP BY p.rank, p.tok, p.n_exact
       |ORDER BY p.rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_sketch_kmv" -> sketchKmv,
    "q_sketch_kmv_merge" -> sketchKmvMerge,
    "q_sketch_cms" -> sketchCms,
    "q_sketch_hll" -> sketchHll,
    "q_sketch_quantile" -> sketchQuantile
  )

  val oracles: Map[String, String] = Map(
    "q_sketch_kmv" -> sketchKmvSql,
    "q_sketch_kmv_merge" -> sketchKmvMergeSql,
    "q_sketch_cms" -> sketchCmsSql,
    "q_sketch_hll" -> sketchHllSql,
    "q_sketch_quantile" -> sketchQuantileSql
  )
}
