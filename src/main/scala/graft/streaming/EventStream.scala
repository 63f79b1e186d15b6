package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (SURVEY.md §2.9 north-star;
  * the reference is batch-only — this is the `readStream` → transforms →
  * `writeStream` surface a streaming-capable engine adds).
  *
  * Two pipelines:
  *   1. Windowed aggregate: file-source stream → watermark → tumbling
  *      1-hour window × event_type → append sink. Semantically identical
  *      to the batch `q_events_tumbling` query — `StreamingSpec` asserts
  *      the equivalence row-for-row.
  *   2. Stateful sessionization via flatMapGroupsWithState: per-user
  *      session accumulation with a 30-minute processing gap, the custom
  *      state path (KeyValueGroupedDataset) for semantics window() can't
  *      express.
  *
  * Scale notes: the file source lists directories incrementally
  * (maxFilesPerTrigger bounds batch size); state lives in the state store
  * keyed by (window, type) / user — both partition horizontally. The
  * watermark bounds state: windows older than max(event time) − 1h are
  * finalized and evicted.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Tumbling-window streaming aggregate from a parquet file source. */
  def windowedCounts(spark: SparkSession, sourceDir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "4")
      .parquet(sourceDir)
      .withWatermark("ts", "1 hour")
      // Group by the window STRUCT (not window(...)("start")): extracting the
      // field before the agg severs the event-time watermark link, which
      // append mode rejects and which would disable state eviction here.
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Run the windowed aggregate to completion against a static source dir
    * (processAllAvailable) into a memory sink; returns the final table.
    * Complete mode: with a bounded demo source no watermark ever closes
    * the last windows, so append would drop them.
    */
  def runWindowed(spark: SparkSession, sourceDir: String, queryName: String): DataFrame = {
    val q = windowedCounts(spark, sourceDir).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  // ---- Streaming corpus-mixture monitor ----

  /** Streaming twin of q_corpus_mix's per-(lang, source) cells: as crawl
    * files land, the running document/token counts per mixture cell
    * update — the live dashboard a data-ingest pipeline watches to catch
    * a source flooding the mix before a training snapshot is cut.
    *
    * State is one row per (lang, source) cell — bounded by the mixture
    * dimensionality, not the corpus — so complete-mode re-emission stays
    * O(cells) forever. The token count is the same split-size expression
    * as the batch query; StreamingSpec asserts the final table equals
    * the batch aggregation over the same files.
    */
  def mixtureMonitor(spark: SparkSession, sourceDir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  def runMixtureMonitor(spark: SparkSession, sourceDir: String, queryName: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = mixtureMonitor(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Stateful sessionization ----

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class SessionState(sessionStart: Long, lastTs: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Long, total_value: Double)

  /** Emit closed sessions (30-minute event-time gap) per user; state keeps
    * only the open session per key — bounded by the active-user count.
    */
  def sessionize(spark: SparkSession, sourceDir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    val reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event], state: GroupState[SessionState]) =>
          // Per-batch arrivals sorted by event time; with a static demo
          // source all data arrives in one batch, so this is total order.
          val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          for (e <- sorted) {
            val tsUs = e.ts.getTime * 1000
            st = st match {
              case null => SessionState(tsUs, tsUs, 1, e.value)
              case s if tsUs - s.lastTs > gapUs =>
                out += SessionOut(user, new java.sql.Timestamp(s.sessionStart / 1000), s.n, s.total)
                SessionState(tsUs, tsUs, 1, e.value)
              case s => s.copy(lastTs = tsUs, n = s.n + 1, total = s.total + e.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
      .toDF()
  }

  def runSessionize(spark: SparkSession, sourceDir: String, queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = sessionize(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  // ---- Streaming dedup ----

  private def streamReader(spark: SparkSession, sourceDir: String,
                           maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
  }

  /** Streaming exact dedup on event_id: the streaming twin of
    * q_dedup_exact's hash-group. dropDuplicatesWithinWatermark keeps only
    * keys newer than the watermark in the state store, so state is bounded
    * by (event-rate × watermark delay) instead of growing with the full
    * history — the property that makes exact dedup feasible on an
    * unbounded stream. A duplicate arriving within the delay is dropped;
    * one arriving later than the watermark is the documented residual
    * (production dedup composes this with the batch exact pass).
    */
  def dedupStream(spark: SparkSession, sourceDir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame =
    streamReader(spark, sourceDir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  def runDedupStream(spark: SparkSession, sourceDir: String, queryName: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = dedupStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Streaming MinHash near-dup detection ----

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Shingle + banding definitions shared VERBATIM by the stream detector,
    * the per-batch verification join, and the batch reconciliation sweep —
    * one definition, so "stream candidates ⊆ batch candidates" and
    * "sweep edges ⊇ stream edges" hold structurally, not by convention.
    */
  private[graft] val shinglesSql: String =
    """CASE WHEN size(toks) >= 3
      |  THEN array_distinct(transform(sequence(1, size(toks) - 2),
      |                                i -> concat_ws(' ', slice(toks, i, 3))))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
  private[graft] val bandsSql: String =
    "transform(sequence(0, 3), k -> md5(concat(CAST(k AS STRING), '|', sig[k*3], '|', sig[k*3+1], '|', sig[k*3+2])))"

  case class BandedDoc(band: String, doc_id: Long, sig: Seq[String])
  case class BandState(docs: List[(Long, Seq[String])])
  case class NearDupPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** Streaming twin of the batch MinHash near-dup operator
    * (queries.Dedup.dedupMinHash): each arriving document is shingled,
    * signed with the same native `minhash_sig` kernel, and banded 4×3;
    * state lives PER BAND BUCKET (the LSH key), holding the signatures
    * seen in that bucket. A new arrival is compared only against its own
    * bucket — the streaming form of "candidates only ever form inside
    * bands", so per-doc work is O(bucket size), never O(corpus).
    *
    * Emits EVERY band collision as a candidate pair (doc_a < doc_b),
    * annotated with the signature-estimated Jaccard (fraction of agreeing
    * minhash values) for downstream prioritization — the streaming stage
    * is candidate DETECTION; exact-shingle verification and the keep
    * policy run downstream exactly as in the batch pipeline. Emitting on
    * collision (not on an estimate threshold) makes the containment
    * STRUCTURAL: the batch operator's candidates are by definition band
    * collisions, so — short of bucket eviction — every batch-verified
    * pair is detected regardless of corpus (StreamingSpec asserts it).
    * A pair colliding in two bands emits twice (at-least-once, from
    * different band keys); consumers dedupe on (doc_a, doc_b).
    *
    * State bounding: each bucket keeps at most `maxDocsPerBand` most
    * recent signatures (12 md5 hex strings ≈ 400 B each) — the recency
    * trade-off an unbounded stream forces; a near-dup of a long-evicted
    * document is the documented residual that the periodic batch
    * `dedupMinHash` sweep catches (same contract as `dedupStream`'s
    * watermark residual).
    */
  def nearDupPairsStream(spark: SparkSession, sourceDir: String,
                         maxFilesPerTrigger: Option[Int] = None,
                         maxDocsPerBand: Int = 1000): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val banded = reader.parquet(sourceDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesSql))
      .withColumn("sig", expr("minhash_sig(shingles)"))
      .withColumn("band", explode(expr(bandsSql)))
      .select(col("band"), col("doc_id"), col("sig"))
      .as[BandedDoc]
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[BandedDoc], state: GroupState[BandState]) =>
          // Arrival order within a batch is nondeterministic — process in
          // doc_id order so the pair orientation (earlier id = doc_a) and
          // the eviction order are stable for a static source.
          val sorted = rows.toSeq.sortBy(_.doc_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
          var seen = state.getOption.map(_.docs).getOrElse(Nil)
          for (d <- sorted) {
            for ((pid, psig) <- seen if pid != d.doc_id && psig.nonEmpty && d.sig.nonEmpty) {
              val agree = d.sig.iterator.zip(psig.iterator).count { case (a, b) => a == b }
              val est = agree.toDouble / d.sig.size
              out += NearDupPair(math.min(pid, d.doc_id), math.max(pid, d.doc_id), est)
            }
            seen = ((d.doc_id, d.sig) :: seen).take(maxDocsPerBand)
          }
          state.update(BandState(seen))
          out.iterator
      }
      .toDF()
  }

  def runNearDupPairsStream(spark: SparkSession, sourceDir: String, queryName: String,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = nearDupPairsStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Streaming incremental dedup groups ----

  /** Standing near-dup GROUP LABELS maintained per micro-batch — the
    * composition of the streaming candidate detector
    * (`nearDupPairsStream`) with the durable connected-components
    * fixpoint (`Dedup.connectedComponentsDurable`): as documents arrive,
    * band-collision candidates are exact-verified (full-shingle Jaccard
    * ≥ 0.8, the same gate as the batch `dedupMinHash`) and the standing
    * component labels update, so "which group is this doc a duplicate
    * of" is answerable while the corpus is still arriving.
    *
    * Incrementality: each batch's fixpoint runs over (previous labels AS
    * edges) ∪ (this batch's verified pairs) — NOT the accumulated edge
    * log. A component's (doc → min-label) star is its contraction, and
    * components over a contracted graph plus new edges have the same
    * min-labels as over the original graph (min is associative and the
    * star preserves connectivity), so per-batch cost is O(|labeled docs|
    * + |new edges|) and old×old pairs are never re-joined — the same
    * contract as `Dedup.dedupIncrementalOver`. StreamingSpec asserts the
    * stream-maintained labels equal batch `dedupGroups` labels on the
    * same corpus, cross-batch.
    *
    * Durability: verified edges append to `workDir/edges` (the audit log
    * recovery can rebuild labels from), standing labels live in
    * `workDir/labels` (overwritten per batch AFTER the fixpoint staged
    * its inputs to `workDir/cc`, so the read of the previous labels is
    * fully consumed before the overwrite), and source offsets checkpoint
    * under `workDir/stream_ckpt` so a restart resumes without
    * reprocessing (the restart spec pins cross-restart merges). The
    * corpus is touched once per batch: the verification join reads just
    * the candidate doc_ids (broadcast semi-join into the scan) and its
    * small result is persisted for the batch's three consumers.
    * Bucket-eviction residuals inherit `nearDupPairsStream`'s contract:
    * the periodic batch sweep (`reconcileGroupsSweep`) catches a
    * near-dup of a long-evicted document and merges the repair into
    * these standing labels. Pass `sweepEveryBatches = Some(n)` to run
    * that sweep FROM WITHIN the stream on every n-th micro-batch
    * (keyed on the checkpointed batchId, so the cadence survives a
    * restart without double-sweeping a replayed batch — the sweep is
    * idempotent anyway), instead of depending on an operator
    * remembering to call it. The sweep runs at the end of the
    * foreachBatch body — exactly the "between micro-batches" window
    * its contract requires — and scans the corpus-so-far, so n trades
    * repair latency against full-corpus sweep cost: a production
    * stream picks n so the sweep period matches the daily batch
    * window.
    */
  def dedupGroupsStream(spark: SparkSession, sourceDir: String, workDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        maxDocsPerBand: Int = 1000,
                        sweepEveryBatches: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val updateLabels: (DataFrame, Long) => Unit = (batch, batchId) => {
      val s = batch.sparkSession
      val cand = batch.select(col("doc_a"), col("doc_b")).distinct()
      // Candidate gate BEFORE building the verification plan: cand is
      // batch-local (no corpus read), and most micro-batches of a steady
      // stream have zero collisions — without this gate every such batch
      // would still pay the verification join's corpus scan against an
      // empty broadcast (an empty build side does not short-circuit the
      // stream-side read).
      if (!cand.isEmpty) {
      val ids = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      // Exact verification against the corpus-so-far (batch read of the
      // same files the stream tails): identical shingle definition and
      // threshold to the batch pipeline, so a band collision that is not
      // a true near-dup never becomes an edge.
      val sh = s.read.parquet(sourceDir)
        .join(broadcast(ids), "doc_id")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("shingles", expr(shinglesSql))
        .select(col("doc_id"), col("shingles"))
      // Persisted for the batch: `verified` is consumed three times
      // (emptiness gate, edge-log append, fixpoint input) and its plan
      // contains the corpus scan of the verification join — without the
      // pin each consumer would re-read the corpus (3 scans per
      // micro-batch at 100 TB).
      val verified = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
        .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
        .filter(col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.8)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .persist()
      try {
        if (!verified.isEmpty) {
          verified.write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(s"$workDir/edges")
          val labelsPath = new org.apache.hadoop.fs.Path(s"$workDir/labels")
          val fs = labelsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          val prevEdges =
            if (fs.exists(labelsPath))
              s.read.parquet(labelsPath.toString)
                .select(col("doc").as("src"), col("lbl").as("dst"))
            else null
          val ccInput = if (prevEdges == null) verified else prevEdges.union(verified)
          val (labels, _) =
            graft.queries.Dedup.connectedComponentsDurable(ccInput, s"$workDir/cc")
          labels.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(labelsPath.toString)
        }
      } finally verified.unpersist(blocking = false)
      }
      // Scheduled repair: every n-th micro-batch (1-origin on the
      // checkpointed id so n=1 sweeps every batch) runs the full
      // reconciliation sweep AFTER this batch's own label update —
      // eviction residuals this batch just created are already
      // repairable, and the sweep's merge contract (labels ∪ sweep
      // edges fixpoint) makes the call order-safe.
      if (sweepEveryBatches.exists(n => (batchId + 1) % n == 0))
        reconcileGroupsSweep(s, sourceDir, workDir)
    }
    nearDupPairsStream(spark, sourceDir, maxFilesPerTrigger, maxDocsPerBand).writeStream
      .option("checkpointLocation", s"$workDir/stream_ckpt")
      .outputMode(OutputMode.Append())
      .foreachBatch(updateLabels)
      .start()
  }

  /** The stream-maintained labels in the batch `dedupGroups` shape
    * (doc_id, group_id, group_size), read from the standing label
    * parquet. A stream that has verified no edge yet has no labels —
    * that is an EMPTY groups table, not a read error.
    */
  def streamedGroups(spark: SparkSession, workDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val path = new org.apache.hadoop.fs.Path(s"$workDir/labels")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      spark.range(0).selectExpr("id AS doc_id", "id AS group_id", "id AS group_size")
    else
      spark.read.parquet(path.toString)
        .withColumn("group_size",
          count(lit(1)).over(Window.partitionBy(col("lbl"))).cast("long"))
        .select(col("doc").as("doc_id"), col("lbl").as("group_id"), col("group_size"))
        .orderBy(col("doc_id"))
  }

  /** Run the incremental-group stream to completion against a static
    * source dir and return the final standing labels.
    */
  def runDedupGroupsStream(spark: SparkSession, sourceDir: String, workDir: String,
                           maxFilesPerTrigger: Option[Int] = None,
                           maxDocsPerBand: Int = 1000,
                           sweepEveryBatches: Option[Int] = None): DataFrame = {
    val q = dedupGroupsStream(spark, sourceDir, workDir, maxFilesPerTrigger,
      maxDocsPerBand, sweepEveryBatches)
    q.processAllAvailable(); q.stop()
    streamedGroups(spark, workDir)
  }

  // ---- Batch↔stream reconciliation sweep ----

  /** Batch near-dup edge list over the corpus-so-far, with the SAME
    * shingle / signature / banding / exact-verify definitions as the
    * stream (`shinglesSql`/`bandsSql`/`minhash_sig`, Jaccard ≥ 0.8). The
    * full LSH self-join forms every same-band pair regardless of arrival
    * order or bucket eviction, so its verified edges are a superset of
    * everything the stream could have verified — the ground truth the
    * sweep reconciles against.
    *
    * Shape at scale: band equi-join (never all-pairs), candidates
    * distinct-ed before the exact verify. The shingle table feeds three
    * consumers (the signature pass and both verify-join sides);
    * `reconcileGroupsSweep` stages it once (persist — the in-session
    * twin of the parquet staging a daily 100 TB sweep would do, exactly
    * `Dedup.dedupMinHash`'s memo discipline) via the `Over` variant.
    */
  def batchNearDupEdges(spark: SparkSession, sourceDir: String): DataFrame =
    batchNearDupEdgesOver(shingleTable(spark, sourceDir))

  /** The corpus parsed to (doc_id, shingles) — the frame worth staging. */
  private def shingleTable(spark: SparkSession, sourceDir: String): DataFrame =
    spark.read.schema(docSchema).parquet(sourceDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesSql))
      .select(col("doc_id"), col("shingles"))

  /** Batch near-dup edges over a prepared (doc_id, shingles) frame. */
  def batchNearDupEdgesOver(docs: DataFrame): DataFrame = {
    val banded = docs
      .withColumn("sig", expr("minhash_sig(shingles)"))
      .select(col("doc_id"), explode(expr(bandsSql)).as("band"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("inter", expr("CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"))
      .filter(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
  }

  /** The periodic repair pass the stream's eviction contract promises:
    * run the batch near-dup sweep over the corpus-so-far and merge its
    * edges into the standing stream labels, so a near-dup of a
    * long-evicted document (which the bounded band buckets can never
    * pair) enters the groups after all.
    *
    * Merge is the SAME label-contraction trick as the per-batch update:
    * the fixpoint runs over (previous labels AS edges) ∪ (sweep edges) —
    * the stream's labels are star contractions of a subgraph of the
    * sweep's verified relation (identical definitions, identical gate),
    * and component min-labels are invariant under contracting a
    * subgraph, so post-sweep labels equal batch `dedupGroups` labels
    * over the same corpus. Sweep edges not yet in the audit log append
    * to `workDir/edges` (anti-join keeps the log a set), making the
    * sweep idempotent: a second run with no new documents changes
    * nothing. Safe to run between micro-batches of a live stream: the
    * label overwrite happens only after the fixpoint staged its inputs
    * durably under `workDir/cc` (same ordering the per-batch update
    * relies on).
    *
    * Returns the repaired standing groups (same shape as
    * `streamedGroups`).
    */
  def reconcileGroupsSweep(spark: SparkSession, sourceDir: String,
                           workDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Two-level staging: the shingle table is parsed from the corpus
    // ONCE and persisted (it feeds the signature pass and both exact-
    // verify sides), and the sweep result is persisted for its three
    // consumers (emptiness gate, log anti-join, fixpoint input).
    val sh = shingleTable(spark, sourceDir).persist()
    val sweep = batchNearDupEdgesOver(sh).persist()
    try {
      if (!sweep.isEmpty) {
        val edgesPath = s"$workDir/edges"
        val fresh =
          (if (fs.exists(new Path(edgesPath)))
            sweep.join(spark.read.parquet(edgesPath), Seq("src", "dst"), "left_anti")
          else sweep).persist()
        try {
          val hasFresh = !fresh.isEmpty
          if (hasFresh)
            fresh.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(edgesPath)
          val labelsPath = new Path(s"$workDir/labels")
          val labelsExist = fs.exists(labelsPath)
          // The fixpoint may be skipped ONLY when the standing labels
          // provably cover the edge log. "Both endpoints have a label"
          // is NOT coverage: a crash between a micro-batch's edge
          // append and its label overwrite can leave a logged edge
          // whose endpoints carry two DIFFERENT standing labels (each
          // from its own pre-crash component) — the log then holds a
          // merge the labels never saw, and since those edges are
          // already in the log the anti-join reports nothing fresh. So
          // the skip is gated on the real invariant: every log edge's
          // endpoints resolve to the SAME label. Checking it is one
          // O(|log|) join — noise next to the fixpoint it guards.
          // labelsExist=false with an existing log covers the
          // first-batch crash: recompute from the sweep alone.
          val labelsStale = !hasFresh && labelsExist && {
            val lbl = spark.read.parquet(labelsPath.toString)
            !spark.read.parquet(edgesPath)
              .join(lbl.select(col("doc").as("src"), col("lbl").as("l_src")),
                Seq("src"), "left_outer")
              .join(lbl.select(col("doc").as("dst"), col("lbl").as("l_dst")),
                Seq("dst"), "left_outer")
              .filter(col("l_src").isNull || col("l_dst").isNull ||
                col("l_src") =!= col("l_dst"))
              .isEmpty
          }
          if (hasFresh || !labelsExist || labelsStale) {
            val prevEdges =
              if (labelsExist)
                spark.read.parquet(labelsPath.toString)
                  .select(col("doc").as("src"), col("lbl").as("dst"))
              else null
            // Corpus appends never un-form a band pair, so the current
            // sweep's edges are a superset of every edge any earlier
            // sweep or stream batch could have logged — but the stale
            // repair unions the log anyway (CC labels are invariant
            // under duplicate edges) so the repair does not depend on
            // that monotonicity argument holding forever.
            val base = if (labelsStale)
              sweep.union(spark.read.parquet(edgesPath)) else sweep
            val ccInput = if (prevEdges == null) base else prevEdges.union(base)
            val (labels, _) =
              graft.queries.Dedup.connectedComponentsDurable(ccInput, s"$workDir/cc")
            labels.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(labelsPath.toString)
          }
        } finally fresh.unpersist(blocking = false)
      }
      streamedGroups(spark, workDir)
    } finally {
      sweep.unpersist(blocking = false)
      sh.unpersist(blocking = false)
    }
  }

  // ---- Streaming sequence packing ----

  case class DocTok(doc_id: Long, source: String, n_tokens: Long)
  case class PackState(offset: Long, openDocs: Long, openStraddle: Long,
                       openFirstDoc: Long)
  case class SeqOut(source: String, seq_id: Long, n_docs: Long,
                    seq_tokens: Long, n_straddle: Long, first_doc: Long)

  /** Streaming twin of `TextOps.packSequencesOver`: per source, the doc
    * stream is one concatenated token stream cut every `budget` tokens,
    * and a sequence row is EMITTED THE MOMENT it fills — the continuous
    * form of concatenate-then-split packing (training sequences leave
    * for the trainer while the corpus is still arriving).
    *
    * State per source is O(1): the stream offset plus the open (partial)
    * sequence's doc/straddle/first-doc counters — nothing grows with the
    * stream. The open tail is the documented residual (same contract as
    * `sessionize`'s open session): it is emitted only when the stream
    * ends, which a bounded demo reaches and an unbounded one never does.
    * Within a batch, docs process in doc_id order, so on an
    * id-ordered source the emitted rows equal the batch operator's
    * full-sequence rows exactly (StreamingSpec proves it cross-batch).
    */
  def packStream(spark: SparkSession, sourceDir: String,
                 maxFilesPerTrigger: Option[Int] = None,
                 budget: Long = 256L): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[DocTok]
      .groupByKey(_.source)
      .flatMapGroupsWithState[PackState, SeqOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, docs: Iterator[DocTok], state: GroupState[PackState]) =>
          val sorted = docs.toSeq.sortBy(_.doc_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[SeqOut]
          var st = state.getOption.getOrElse(PackState(0L, 0L, 0L, -1L))
          for (d <- sorted) {
            val start = st.offset
            val end = start + d.n_tokens
            var s = start / budget
            while (s <= (end - 1) / budget) {
              val contrib = math.min(end, (s + 1) * budget) -
                math.max(start, s * budget)
              val straddles = if (contrib < d.n_tokens) 1L else 0L
              val first = if (st.openFirstDoc < 0) d.doc_id else st.openFirstDoc
              if (end >= (s + 1) * budget) {
                // This doc fills sequence s to its boundary — emit it.
                out += SeqOut(source, s, st.openDocs + 1, budget,
                  st.openStraddle + straddles, first)
                st = PackState(st.offset, 0L, 0L, -1L)
              } else {
                st = PackState(st.offset, st.openDocs + 1,
                  st.openStraddle + straddles, first)
              }
              s += 1
            }
            st = st.copy(offset = end)
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }

  def runPackStream(spark: SparkSession, sourceDir: String, queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = packStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Streaming per-source admission quota ----

  case class AdmitDoc(doc_id: Long, source: String)
  case class AdmitState(admitted: Long)
  case class AdmitOut(doc_id: Long, source: String, admitted: Boolean,
                      source_seq: Long)

  /** Streaming twin of CorpusPipeline's per-source cap (stage 3.7):
    * ADMISSION CONTROL at ingest time. The batch cap selects its quota
    * retrospectively by md5 rank because it sees the whole corpus; a
    * stream cannot see the future, so the online contract is
    * first-come-first-served — each source's first `quota` docs land,
    * every later one is emitted with admitted=false (rejects stay in
    * the output so drops remain auditable, the batch stage's logged-
    * drop discipline). State per source is ONE counter — O(sources)
    * total state however long the stream runs, the cheapest possible
    * mapGroupsWithState shape. Docs process in doc_id order within a
    * micro-batch and the counter checkpoints with the query, so a
    * restart resumes the count instead of re-admitting; an id-ordered
    * source therefore admits exactly its per-source id-prefix,
    * batch-boundary-invariant (the spec proves it across a split).
    */
  def admitStream(spark: SparkSession, sourceDir: String, quota: Long,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .select(col("doc_id"), col("source")).as[AdmitDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[AdmitState, AdmitOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, docs: Iterator[AdmitDoc], state: GroupState[AdmitState]) =>
          val sorted = docs.toSeq.sortBy(_.doc_id)
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val out = sorted.map { d =>
            val ok = n < quota
            if (ok) n += 1
            AdmitOut(d.doc_id, source, ok, if (ok) n else -1L)
          }
          state.update(AdmitState(n))
          out.iterator
      }
      .toDF()
  }

  def runAdmitStream(spark: SparkSession, sourceDir: String, queryName: String,
                     quota: Long,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = admitStream(spark, sourceDir, quota, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Streaming quality-model scoring — the q_quality_model hashed-linear
    * scorer applied to documents AS THEY ARRIVE: a stateless per-row map
    * (no watermark, no state store, no shuffle), so the scored stream
    * equals the batch operator row for row and micro-batch boundaries
    * are invisible (the spec pins stream ≡ batch across a file split).
    * This is the admission gate a streaming ingest runs before a doc
    * ever reaches the corpus — at 100 TB/day the scorer rides the
    * ingest readers at scan speed.
    */
  def scoreStream(spark: SparkSession, sourceDir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.queries.Det
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("wsum", expr(graft.queries.TextOps.modelWsumExpr("toks")))
      .withColumn("score_raw",
        lit(0.5) + col("wsum") / size(col("toks")).cast("double"))
      .select(col("doc_id"), col("source"),
        Det.r6(greatest(lit(0.0), least(lit(1.0), col("score_raw"))))
          .as("model_score"),
        (col("score_raw") >= 0.5).as("keep"))
  }

  def runScoreStream(spark: SparkSession, sourceDir: String, queryName: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = scoreStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Streaming BM25 relevance routing — q_bm25_search's scorer applied
    * to documents AS THEY ARRIVE against the FROZEN corpus statistics
    * (per-term df, n_docs, avgdl) loaded once from the persisted
    * postings artifact (ext.PostingsIndex v3+): the train-rarely /
    * apply-per-batch asymmetry again (IVF assign, boilerplate cut).
    * The ≤ a-handful query-term dfs embed as literals, so scoring is a
    * PURE per-row map — no join, no shuffle, no state store — and
    * micro-batch boundaries are invisible (stream ≡ batch-with-same-
    * stats row for row; StreamingSpec pins it). The routing use: score
    * an incoming crawl for a standing keyword audit and keep/flag by
    * relevance without ever touching the standing corpus.
    *
    * Scores use the same Robertson rational idf and k1/b folding as
    * q_bm25_search; a document containing none of the terms scores 0
    * with n_terms 0 (the batch query drops such docs — the stream must
    * not, since routing needs the negative verdict too).
    */
  def bm25ScoreTransform(termDfs: Seq[(String, Double)], nDocs: Long,
                         avgdl: Double)(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("dl", size(col("toks")).cast("double"))
    val perTerm = termDfs.map { case (t, df) =>
      // Column-API lambda, not an interpolated expr string: Spark lexes
      // ''-doubled quotes as two ADJACENT literals concatenated
      // ('o''brien' → 'obrien'), so a quoted term would silently match
      // the wrong token; comparing against lit(t) needs no escaping.
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      val idf = (nDocs.toDouble - df + 0.5) / (df + 0.5)
      (when(tf > lit(0.0),
        lit(idf) * ((tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))))
        .otherwise(lit(0.0)),
        when(tf > lit(0.0), lit(1L)).otherwise(lit(0L)))
    }
    base.select(col("doc_id"), col("source"),
      perTerm.map(_._2).reduce(_ + _).as("n_terms"),
      graft.queries.Det.r6(perTerm.map(_._1).reduce(_ + _)).as("bm25"))
  }

  /** Frozen-stat loader + stream assembly: one 1-row meta read and one
    * pruned ≤|terms|-row aggregate against the committed index version,
    * collected to literals before the stream starts.
    */
  def bm25Stream(spark: SparkSession, sourceDir: String, idxDir: String,
                 terms: Seq[String],
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (nDocs, sumDl) = graft.ext.PostingsIndex.corpusStats(spark, idxDir)
    // v6: per-term df comes off the vocabulary-sized termsummary table
    // (merged partials — exact), not a recount over the posting rows.
    val dfs = graft.ext.PostingsIndex.termSummary(spark, idxDir)
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("df").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val termDfs = terms.map(t => t -> dfs.getOrElse(t, 0.0))
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    bm25ScoreTransform(termDfs, nDocs, sumDl.toDouble / nDocs.toDouble)(
      reader.parquet(sourceDir))
  }

  def runBm25Stream(spark: SparkSession, sourceDir: String, idxDir: String,
                    terms: Seq[String], queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = bm25Stream(spark, sourceDir, idxDir, terms, maxFilesPerTrigger)
      .writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Streaming boilerplate removal — the q_text_boilerplate rewrite
    * applied to documents AS THEY ARRIVE against a FROZEN hot-segment
    * set (TextOps.boilerHotSegments, trained on the corpus-so-far or
    * loaded from a persisted artifact): the same train-rarely /
    * apply-per-batch asymmetry as the IVF quantizer stream. The hot set
    * is collected once (it is the trained model — ~dozens of navbar/
    * banner segments; guarded, since a million-segment "hot" set means
    * the threshold is wrong) and embedded as a literal array, so the cut
    * is a PURE per-row map: no join, no shuffle, no state store, and
    * micro-batch boundaries are invisible (stream ≡ batch-with-same-
    * hot-set row for row — StreamingSpec pins it). At 100 TB/day the
    * per-row membership probe would ride a broadcast hash set or bloom
    * instead of a literal; the plan shape is identical.
    */
  def boilerStream(spark: SparkSession, sourceDir: String, hotSegs: Seq[String],
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(hotSegs.size <= 100000,
      s"hot-segment set has ${hotSegs.size} entries — threshold too low to freeze as a literal")
    val hotLit =
      if (hotSegs.isEmpty) expr("CAST(array() AS ARRAY<STRING>)")
      else array(hotSegs.sorted.map(lit(_)): _*)
    val segTok = graft.queries.TextOps.BoilerSegTokens
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("segs", expr(
        s"transform(sequence(1, size(toks), $segTok), i -> concat_ws(' ', slice(toks, i, $segTok)))"))
      .withColumn("kept", filter(col("segs"), s => !array_contains(hotLit, s)))
      .select(col("doc_id"), col("source"),
        size(col("segs")).cast("long").as("n_seg"),
        (size(col("segs")) - size(col("kept"))).cast("long").as("n_boiler"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  def runBoilerStream(spark: SparkSession, sourceDir: String, queryName: String,
                      hotSegs: Seq[String],
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = boilerStream(spark, sourceDir, hotSegs, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Streaming IVF assignment (frozen-quantizer maintenance) ----

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming IVF assignment — the stream twin of q_knn_ivf_incr's
    * maintenance path (Similarity.ivfIncrParts): new vectors arrive as
    * files and every micro-batch is assigned to the FROZEN coarse
    * quantizer. The quantizer (≤ k rows — trained in-session or loaded
    * from the persisted AnnIndex.centroids) is collected once and
    * embedded as a fold-constant literal array, so the per-vector argmin
    * is a PURE per-row map: no join, no shuffle, no state store — the
    * strongest scale shape for the per-batch path (train rarely, assign
    * per batch at ingest speed; `ivfDriftStream` below tells the
    * operator when to retrain).
    *
    * Assignment reproduces the batch operator bit-for-bit: the distance
    * is the same sequential-fold squared L2 (identical op order ⇒
    * identical doubles) and `array_min` over struct(dist, cluster) ≡
    * the batch `ORDER BY dist, cluster` row_number tie-break.
    * StreamingSpec pins stream ≡ batch on the assignment table.
    */
  def ivfAssignStream(spark: SparkSession, sourceDir: String, centroids: DataFrame,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val cent = centroids.select(col("cluster"), col("cent")).collect()
      .sortBy(_.getAs[Long]("cluster"))
    require(cent.nonEmpty, "frozen quantizer is empty")
    val centArr = array(cent.map { r =>
      struct(lit(r.getAs[Long]("cluster")).as("cluster"),
        array(r.getAs[scala.collection.Seq[Double]]("cent").toSeq.map(lit(_)): _*).as("cent"))
    }: _*)
    val reader = spark.readStream.schema(embSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb_d"))
      .withColumn("best", array_min(transform(centArr, c =>
        struct(
          aggregate(zip_with(col("emb_d"), c.getField("cent"),
            (x, cc) => (x - cc) * (x - cc)), lit(0.0), (acc, v) => acc + v).as("dist"),
          c.getField("cluster").as("cluster")))))
      .select(col("vec_id"),
        col("best.cluster").as("cluster"), col("best.dist").as("dist"))
  }

  case class VecAssign(vec_id: Long, cluster: Long, dist: Double)
  /** sumDist8 holds the running distance sum in 1e-8 units (each dist
    * quantized exactly as Det's decimal(28,8) cast: HALF_UP at scale 8),
    * so the accumulated sum is exact integer arithmetic — order-free
    * across micro-batches the way the batch decimal sum is order-free
    * across partitions. Overflow headroom: 9.2e18 units ≈ 9.2e10 in
    * distance, far above any real cluster's sum.
    */
  case class ClusterState(n: Long, sumDist8: Long)
  case class ClusterDrift(cluster: Long, n_new: Long, mean_dist_new: Double)

  /** Per-cluster drift monitor over the assignment stream: running count
    * and mean assign-distance per cluster in the state store — state is
    * O(k) (one row per cluster), nothing grows with the stream. Each
    * micro-batch re-emits the running totals of the clusters it touched
    * (Update mode); `n_new` is monotone per cluster, so the row with max
    * n_new is the current signal. The emitted mean reproduces the batch
    * report's `r6(davg(dist))` exactly: exact 1e-8-unit sum → double →
    * one IEEE division → the shared floor-round.
    */
  def ivfDriftStream(spark: SparkSession, sourceDir: String, centroids: DataFrame,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    ivfAssignStream(spark, sourceDir, centroids, maxFilesPerTrigger)
      .as[VecAssign]
      .groupByKey(_.cluster)
      .mapGroupsWithState[ClusterState, ClusterDrift](GroupStateTimeout.NoTimeout()) {
        (cluster: Long, rows: Iterator[VecAssign], state: GroupState[ClusterState]) =>
          val prev = state.getOption.getOrElse(ClusterState(0L, 0L))
          var n = prev.n
          var sum8 = prev.sumDist8
          for (r <- rows) {
            n += 1
            sum8 += java.math.BigDecimal.valueOf(r.dist)
              .setScale(8, java.math.RoundingMode.HALF_UP)
              .movePointRight(8).longValueExact()
          }
          val next = ClusterState(n, sum8)
          state.update(next)
          val mean = new java.math.BigDecimal(sum8).movePointLeft(8)
            .doubleValue() / n.toDouble
          ClusterDrift(cluster, n, math.floor(mean * 1e6 + 0.5) / 1e6)
      }.toDF()
  }

  def runIvfDriftStream(spark: SparkSession, sourceDir: String, queryName: String,
                        centroids: DataFrame,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = ivfDriftStream(spark, sourceDir, centroids, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  case class DriftTrigger(cluster: Long, n_new: Long, mean_dist_new: Double,
                          mean_dist_base: Double, drift_ratio: Double,
                          would_rebuild: Boolean)

  /** Streaming DECISION consumer for the drift signal (r12 — the stream
    * face of ext.AnnIndex.rebuildIfDrifted's rule, as q_knn_drift_decide
    * is its batch-query face): `baseStats` is the per-cluster BUILD-TIME
    * mean assign distance (the r6'd batch reference — at 100 TB it ships
    * frozen next to the centroids, k doubles), and each micro-batch
    * re-emits the running decision for every cluster it touched:
    * ratio = running new mean / build-time mean, would_rebuild flips
    * once the ratio crosses `bound` with ≥ `minNew` members. State is
    * O(k); the emitted numbers reproduce q_knn_drift_decide's cells
    * exactly (same 1e-8-exact accumulation, same r6 rounding, same
    * rule constants), so a listener keyed on would_rebuild fires at
    * precisely the batch decision boundary — StreamingSpec pins the
    * convergence.
    */
  def ivfDriftTriggerStream(spark: SparkSession, sourceDir: String,
                            centroids: DataFrame, baseStats: Map[Long, Double],
                            bound: Double = 2.0, minNew: Long = 3L,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    ivfAssignStream(spark, sourceDir, centroids, maxFilesPerTrigger)
      .as[VecAssign]
      .groupByKey(_.cluster)
      .mapGroupsWithState[ClusterState, DriftTrigger](GroupStateTimeout.NoTimeout()) {
        (cluster: Long, rows: Iterator[VecAssign], state: GroupState[ClusterState]) =>
          val prev = state.getOption.getOrElse(ClusterState(0L, 0L))
          var n = prev.n
          var sum8 = prev.sumDist8
          for (r <- rows) {
            n += 1
            sum8 += java.math.BigDecimal.valueOf(r.dist)
              .setScale(8, java.math.RoundingMode.HALF_UP)
              .movePointRight(8).longValueExact()
          }
          state.update(ClusterState(n, sum8))
          val mean = math.floor(new java.math.BigDecimal(sum8).movePointLeft(8)
            .doubleValue() / n.toDouble * 1e6 + 0.5) / 1e6
          val base = baseStats.getOrElse(cluster, 0.0)
          val ratio =
            if (base > 0) math.floor(mean / base * 1e6 + 0.5) / 1e6 else 0.0
          DriftTrigger(cluster, n, mean, base, ratio,
            ratio > bound && n >= minNew)
      }.toDF()
  }

  def runIvfDriftTriggerStream(spark: SparkSession, sourceDir: String,
                               queryName: String, centroids: DataFrame,
                               baseStats: Map[Long, Double],
                               bound: Double = 2.0, minNew: Long = 3L,
                               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = ivfDriftTriggerStream(spark, sourceDir, centroids, baseStats,
        bound, minNew, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  def runIvfAssignStream(spark: SparkSession, sourceDir: String, queryName: String,
                         centroids: DataFrame,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = ivfAssignStream(spark, sourceDir, centroids, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  // ---- Stream-stream interval join ----

  /** Click→purchase attribution as a stream-stream inner join: purchases
    * join clicks of the same user within [click_ts, click_ts + 30 min].
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions, so Spark can evict join state older than
    * (watermark − interval) — without the bound the state store would
    * retain every click forever. Append-mode emits a match once both
    * sides' watermarks pass the row.
    */
  def clickPurchaseJoin(spark: SparkSession, sourceDir: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val clicks = streamReader(spark, sourceDir, maxFilesPerTrigger)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = streamReader(spark, sourceDir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  def runClickPurchaseJoin(spark: SparkSession, sourceDir: String, queryName: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = clickPurchaseJoin(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** LEFT OUTER variant: clicks with no purchase in the interval emit
    * null-extended ONCE the click's join window is provably closed — i.e.
    * both watermarks have passed click_ts + 30 min. The two-sided
    * watermark + time bound is what makes the null emission decidable on
    * an unbounded stream (without it "no match yet" never becomes "no
    * match ever").
    */
  def clickPurchaseJoinOuter(spark: SparkSession, sourceDir: String,
                             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val clicks = streamReader(spark, sourceDir, maxFilesPerTrigger)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = streamReader(spark, sourceDir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("click_ts"), col("purchase_id"))
  }

  def runClickPurchaseJoinOuter(spark: SparkSession, sourceDir: String, queryName: String,
                                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = clickPurchaseJoinOuter(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Arbitrary-sink pattern via foreachBatch: each micro-batch of the
    * deduped stream lands as an append to a parquet directory. foreachBatch
    * is the hook for sinks the built-ins can't express (merge/upsert,
    * multi-table fan-out) — the batch DataFrame is a normal batch frame
    * inside the callback. Exactly-once comes from the checkpoint's batch
    * id + an idempotent write at the destination.
    */
  def runDedupToParquet(spark: SparkSession, sourceDir: String, outDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        checkpointDir: Option[String] = None): Unit = {
    val checkpoint = checkpointDir.getOrElse(
      java.nio.file.Files.createTempDirectory("dedup_ckpt").toString)
    val q = dedupStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
    q.processAllAvailable(); q.stop()
  }

  /** Streaming count-min sketch — the q_sketch_cms counter table
    * maintained live over the document stream: each micro-batch's tokens
    * stack their d seeded bucket ids through the SAME posexplode kernel
    * as the batch operator ([[graft.queries.Sketch.cmsCountersOver]],
    * w = 1 per raw token) and fold into a complete-mode aggregation
    * whose state is bounded at d·w = 512 counter rows FOREVER — the
    * canonical "sketch the firehose" shape: no watermark, no eviction,
    * no growth, and shard/worker sketches merge downstream by plain
    * addition. StreamingSpec pins the final counter table cell-equal to
    * the batch kernel over the same files (micro-batch boundaries are
    * invisible because counter addition is associative).
    */
  def cmsStream(spark: SparkSession, sourceDir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.queries.Sketch.cmsCountersOver(
      reader.parquet(sourceDir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .withColumn("w", lit(1L)))
  }

  def runCmsStream(spark: SparkSession, sourceDir: String, queryName: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = cmsStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Streaming HLL register table — the cardinality sketch's state
    * (Sketch.hllRegisters, the shared kernel) maintained over a
    * document token stream: per-(source, register) MAX rank in a
    * complete-mode aggregation. State is bounded at m·sources = 64 per
    * source forever, and max is idempotent + commutative, so the
    * stream table equals the batch registers over the same tokens and
    * merges with any shard's registers by MAX — the HLL merge law as
    * streaming state.
    */
  def hllStream(spark: SparkSession, sourceDir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.queries.Sketch.hllRegisters(
      graft.queries.Sketch.hashTokens(
        reader.parquet(sourceDir)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))))
  }

  def runHllStream(spark: SparkSession, sourceDir: String, queryName: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = hllStream(spark, sourceDir, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Streaming length-histogram sketch — the quantile sketch's counter
    * table (Sketch.qsHistOver, the shared kernel) maintained over a
    * document stream under FROZEN global bounds: [lo, hi] comes from
    * the standing corpus at deploy time (the frozen-quantizer
    * asymmetry — rebinning a live histogram would corrupt mergeability),
    * each micro-batch folds into a complete-mode aggregation whose
    * state is bounded at bins·sources rows forever, and stream/shard
    * counters merge with batch ones by plain addition because the
    * binning is the same deterministic arithmetic text.
    */
  def histStream(spark: SparkSession, sourceDir: String, lo: Long, hi: Long,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.queries.Sketch.qsHistOver(
      reader.parquet(sourceDir)
        .select(col("source"), col("n_chars"))
        .withColumn("lo", lit(lo)).withColumn("hi", lit(hi)))
  }

  def runHistStream(spark: SparkSession, sourceDir: String, queryName: String,
                    lo: Long, hi: Long,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = histStream(spark, sourceDir, lo, hi, maxFilesPerTrigger).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(queryName)
  }

  /** Demo main: stage the batch events table as a streaming source dir,
    * run both pipelines, print results.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-event-stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val src = java.nio.file.Files.createTempDirectory("events_stream").toString
      graft.Tables.events(spark, sfDir).repartition(8).write.mode("overwrite").parquet(src)
      val win = runWindowed(spark, src, "win_demo")
      println(s"[stream] windowed rows=${win.count()}")
      win.orderBy(col("window_start"), col("event_type")).show(10, truncate = false)
      val sess = runSessionize(spark, src, "sess_demo")
      println(s"[stream] closed sessions=${sess.count()}")
      sess.orderBy(col("user_id"), col("session_start")).show(10, truncate = false)
    } finally spark.stop()
  }
}
