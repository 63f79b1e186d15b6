package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Deterministic numerics shared by every verified query and its DuckDB
  * oracle twin (SURVEY.md §7.5.6).
  *
  * Two failure modes make naive `round(sum(double), 2)` hash-unstable
  * across engines:
  *
  *   1. Summation order: IEEE double addition is not associative, and
  *      Spark's parallel partial sums vs DuckDB's (and DuckDB's window
  *      segment trees vs Spark's sequential frames) can differ in the
  *      last ulp — which `round` then amplifies to a 0.01 flip near a
  *      .005 boundary.
  *   2. Rounding rule: Spark `round` is exact-decimal HALF_UP while
  *      DuckDB rounds via scaled-double arithmetic; they disagree on
  *      boundary values even for bit-identical inputs.
  *
  * Fixes, applied as a calling convention on BOTH sides:
  *   - Sums aggregate in DECIMAL(28,8) (exact, associative, order-free),
  *     then cast to double (correctly rounded, engine-identical).
  *   - Averages are exact-decimal sums divided by counts in double — one
  *     IEEE division, identical everywhere.
  *   - Rounding is `floor(x * 1eS + 0.5) / 1eS`: only IEEE double ops,
  *     so both engines compute the same bits (ties resolve toward +inf,
  *     consistently). The +0.5 absorbs half-ulp scaling error.
  */
object Det {
  private val DecT = "decimal(28,8)"

  private def p10(s: Int): Double = math.pow(10.0, s)

  /** floor-based round: bit-identical across engines for identical x. */
  def r(c: Column, s: Int): Column = floor(c * lit(p10(s)) + lit(0.5)) / lit(p10(s))
  def r2(c: Column): Column = r(c, 2)
  def r4(c: Column): Column = r(c, 4)
  def r6(c: Column): Column = r(c, 6)

  /** Order-independent sum: exact decimal accumulation → double. */
  def dsum(c: Column): Column = sum(c.cast(DecT)).cast("double")

  /** Order-independent avg: exact decimal sum / non-null count. */
  def davg(c: Column): Column = dsum(c) / count(c).cast("double")

  /** Windowed variants (DuckDB computes window sums via segment trees —
    * a different addition order than Spark's frames; decimal is exact
    * under any order).
    */
  def dsumOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(DecT)).over(w).cast("double")
  def davgOver(c: Column, w: WindowSpec): Column =
    dsumOver(c, w) / count(c).over(w).cast("double")

  /** Materialization pin for expensive computed columns (reference C1
    * pattern — persist what multiple consumers read).
    *
    * Two optimizer behaviors multiply the cost of a pricey HOF column (a
    * MinHash signature, a SimHash fingerprint, a vector norm) without
    * this: (1) CollapseProject inlines the expression into every
    * downstream reference and into both sides of a self-join; (2)
    * InferFiltersFromGenerate clones it again into a pushed-down filter
    * below any explode — a plain repartition barrier does NOT stop the
    * pushdown (filters travel through exchanges; measured 24x blowup,
    * 414 s for q_dedup_minhash at sf0.1). An InMemoryRelation blocks
    * both: the column is computed once and every consumer — including
    * both self-join sides — scans the same cache. At 100 TB the
    * equivalent is a staged write of the signature table.
    *
    * Lifecycle: every pin is registered per owning session and lives
    * until a release: `releasePins(spark)` unpersists them all (Verify
    * after its dump, the benches at each family boundary, suites in
    * cleanup), `releaseForDir` drops the memos of one source dir and
    * `releaseKeyPrefix` those of one artifact version, so a long-lived
    * session doesn't accumulate dead InMemoryRelations.
    */
  private val pinRegistry = scala.collection.concurrent.TrieMap
    .empty[org.apache.spark.sql.SparkSession,
           scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]]
  private val memoRegistry = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]

  /** Drop entries owned by STOPPED sessions — a consumer that never
    * calls releasePins must not leak its session (and every pinned plan)
    * for the JVM lifetime. Swept on every pin/memo; the registries' keys
    * otherwise hold strong references.
    */
  private def sweepStopped(): Unit = {
    memoRegistry.keys.filter(_._1.sparkContext.isStopped).foreach(memoRegistry.remove)
    pinRegistry.keys.filter(_.sparkContext.isStopped).foreach(pinRegistry.remove)
  }

  /** Registry entry count for `spark` (test hook: eviction is observable). */
  private[graft] def registeredCount(spark: org.apache.spark.sql.SparkSession): Int =
    pinRegistry.get(spark).map(_.synchronized(pinRegistry(spark).size)).getOrElse(0) +
      memoRegistry.keys.count(_._1 eq spark)

  /** Driver-VALUE memo (r15): bounded query-batch artifacts collected to
    * the driver (probe vectors, centroid/codebook arrays) so a warm
    * search launches zero collect jobs for them. Same immutability
    * contract as the DataFrame memos; cleared wholesale by releasePins
    * and — conservatively, the values are cheap to re-collect — by
    * releaseForDir, so an in-place corpus mutation can never serve stale
    * driver state (AnnIndex.maintainStream's releaseForDir per batch
    * covers the stream case).
    */
  private val valueRegistry = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Any]

  def memoValue[A](spark: org.apache.spark.sql.SparkSession, key: String)
                  (build: => A): A = {
    valueRegistry.keys.filter(_._1.sparkContext.isStopped).foreach(valueRegistry.remove)
    valueRegistry.getOrElseUpdate((spark, key), build).asInstanceOf[A]
  }

  /** Test hook: number of live value memos for `spark`. */
  private[graft] def valueMemoCount(spark: org.apache.spark.sql.SparkSession): Int =
    valueRegistry.keys.count(_._1 eq spark)

  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    sweepStopped()
    val buf = pinRegistry.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.ArrayBuffer.empty)
    buf.synchronized { buf += df }
    df.cache()
  }

  /** Memoized pin per (session, key): the first caller builds and pins,
    * later callers reuse the same InMemoryRelation — the in-session twin
    * of a staged intermediate table at 100 TB. Assumes the underlying
    * source is immutable for the session: a rewrite of the parquet under
    * the same path would serve stale data until a release.
    */
  def memo(spark: org.apache.spark.sql.SparkSession, key: String)
          (build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    memoRegistry.get((spark, key)) match {
      case Some(df) => df
      case None =>
        val df = pin(build)
        memoRegistry.put((spark, key), df)
        df
    }

  /** Unpersist a released frame AND any persisted RDD a LogicalRDD in its
    * plan wraps. Memos of fixpoint results are rebased over a
    * localCheckpoint RDD (Dedup.withRightSizedShuffle / graphPagerank):
    * unpersisting only the InMemoryRelation leaves the checkpoint blocks
    * on the block store until ContextCleaner GC — exactly the lingering
    * storage pressure the eager-release discipline exists to prevent.
    * After this, the frame is DEAD (a localCheckpoint RDD cannot be
    * recomputed) — so an RDD still reachable from ANOTHER registered
    * memo's or pin's plan is skipped (`sharedProtect`): releasing one
    * memo must never irrecoverably break a sibling that happens to share
    * a checkpoint-backed LogicalRDD. The shared RDD is then freed when
    * its LAST owner is released, because by then it is in nobody's
    * protect set.
    */
  private def unpersistDeep(df: org.apache.spark.sql.DataFrame,
                            sharedProtect: Set[Int] = Set.empty): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
        if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE &&
          !sharedProtect.contains(lr.rdd.id) =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** RDD ids of every LogicalRDD reachable from the plans of the still-
    * registered memos and pins of `spark` — the protect set for a deep
    * unpersist.
    */
  private def liveLogicalRddIds(spark: org.apache.spark.sql.SparkSession): Set[Int] = {
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.logical.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    val fromMemos = memoRegistry.collect {
      case ((s, _), df) if s eq spark => ids(df)
    }.flatten
    val fromPins = pinRegistry.get(spark).toSeq.flatMap { buf =>
      buf.synchronized { buf.flatMap(ids).toList }
    }
    (fromMemos ++ fromPins).toSet
  }

  /** Release (evict + deep-unpersist) the memos of `spark` whose key
    * satisfies `pred`. A memo is ALSO a pin (memo() registers the built
    * frame via pin()), so the released frames leave the pin registry
    * BEFORE the protect set is computed — otherwise each released memo's
    * own checkpoint-backed LogicalRDD ids re-enter liveLogicalRddIds via
    * fromPins and the deep unpersist never fires (self-protect): the
    * checkpoint blocks would linger until releasePins. Only survivors
    * protect.
    */
  private def releaseMemos(spark: org.apache.spark.sql.SparkSession)
                          (pred: String => Boolean): Unit = {
    val memos = memoRegistry.keys
      .filter { case (s, k) => (s eq spark) && pred(k) }.toList
      .flatMap(memoRegistry.remove)
    if (memos.nonEmpty) {
      pinRegistry.get(spark).foreach { buf =>
        buf.synchronized { buf.filterInPlace(d => !memos.exists(_ eq d)) }
      }
      val protectIds = liveLogicalRddIds(spark)
      memos.foreach(unpersistDeep(_, protectIds))
    }
  }

  /** Release exactly the memos keyed to one source dir (every memo key
    * ends `:<dir>` by convention) — the surgical REFRESH for an
    * in-place-mutated corpus: the stale chains die, every other
    * family's pins survive. The in-place mutator's contract
    * (memo docstring above) is `releaseForDir` + `Currency.invalidate`;
    * AnnIndex.maintainStream runs both per micro-batch.
    */
  def releaseForDir(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    // Value memos go wholesale (cheap to re-collect; never stale).
    valueRegistry.keys.filter(_._1 eq spark).foreach(valueRegistry.remove)
    releaseMemos(spark)(_.endsWith(s":$dir"))
  }

  /** Release memos whose KEY starts with `keyPrefix` — the surgical drop
    * for artifact-version-keyed memos superseded by a new commit
    * (ext.AnnIndex.rebuildIfDrifted: the replaced version's wide-codes
    * cache — keyed by its resolved version path, which releaseForDir's
    * `:corpusDir` suffix filter never matches — would otherwise linger
    * until releasePins).
    */
  def releaseKeyPrefix(spark: org.apache.spark.sql.SparkSession, keyPrefix: String): Unit =
    releaseMemos(spark)(_.startsWith(keyPrefix))

  /** Unpersist every pin owned by `spark` and evict its memo entries.
    * Memo eviction matters: an unpersisted-but-memoized DataFrame would
    * silently recompute its HOF chain per consumer on reuse (the exact
    * blowup pin exists to prevent) — evicting forces a fresh pin instead.
    * Everything goes at once, so no protect set applies.
    */
  def releasePins(spark: org.apache.spark.sql.SparkSession): Unit = {
    valueRegistry.keys.filter(_._1 eq spark).foreach(valueRegistry.remove)
    val memos = memoRegistry.keys.filter(_._1 eq spark).toList
      .flatMap(memoRegistry.remove)
    memos.foreach(unpersistDeep(_))
    pinRegistry.remove(spark).foreach { buf =>
      buf.synchronized { buf.foreach(unpersistDeep(_)); buf.clear() }
    }
  }

  // ---- DuckDB SQL twins (same ops, same order) ----
  def sqlR(e: String, s: Int): String = s"floor(($e) * 1e$s + 0.5) / 1e$s"
  def sqlR2(e: String): String = sqlR(e, 2)
  def sqlR4(e: String): String = sqlR(e, 4)
  def sqlR6(e: String): String = sqlR(e, 6)
  def sqlDsum(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(28,8))) AS DOUBLE)"
  def sqlDavg(e: String): String = s"(${sqlDsum(e)} / CAST(count($e) AS DOUBLE))"
  def sqlDsumOver(e: String, w: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(28,8))) OVER $w AS DOUBLE)"
  def sqlDavgOver(e: String, w: String): String =
    s"(${sqlDsumOver(e, w)} / CAST(count($e) OVER $w AS DOUBLE))"
}
