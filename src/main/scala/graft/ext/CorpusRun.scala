package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One-command corpus build: gz-JSONL dump in, training corpus out.
  *
  *   runMain graft.ext.CorpusRun in.jsonl.gz outDir [benchmarkDir] [embeddingsParquet]
  *
  * Composes the pieces that each already exist — and that a user
  * previously had to wire by hand — into the chain a training-data drop
  * actually runs:
  *
  *   1. JSONL ingest (gzip-transparent, corrupt lines quarantined,
  *      landed as splittable parquet)               → outDir/ingest
  *   2. CorpusPipeline (PII scrub → quality gate → optional
  *      contamination gate → exact dedup → shingle near-dedup →
  *      optional semantic dedup → sequence packing) → outDir/pipeline
  *   3. Final corpus keyed by the verified train/val/test assignment
  *      (TextOps.splitAssignCol — the SAME md5 rule q_split_assign
  *      verifies, so the shipped partitioning is the audited one) and
  *      written partitioned by split               → outDir/corpus_final
  *   4. Lineage: every edge logged to the registry parquet + the DOT
  *      graph                                      → outDir/lineage{,.dot}
  *
  * Each stage reads the previous stage's landed parquet, so a failed run
  * resumes by re-running (every write is an idempotent overwrite of its
  * own stage directory) and the lineage rows tell an auditor which
  * stage's output any count came from.
  */
object CorpusRun {

  final case class RunCounts(ingested: Long, quarantined: Long,
                             stages: CorpusPipeline.StageCounts,
                             trainDocs: Long, valDocs: Long, testDocs: Long)

  def run(spark: SparkSession, inPath: String, outDir: String,
          benchmarkDir: Option[String] = None,
          embeddings: Option[DataFrame] = None,
          landPartitions: Option[Int] = None,
          maxDocsPerSource: Option[Int] = None,
          urlDedup: Boolean = true,
          boilerplateMinDocs: Option[Int] = None,
          containmentThreshold: Option[Double] = None): RunCounts = {
    val lineage = new graft.etl.Lineage(spark, s"$outDir/lineage", "corpus_run",
      new java.sql.Timestamp(System.currentTimeMillis()))

    // 1. ingest (quarantine repair stays available via
    // JsonlIngest.reingestQuarantine on outDir/ingest afterwards).
    val ingestDir = s"$outDir/ingest"
    val (nClean, nQuarantine) =
      JsonlIngest.ingestDocuments(spark, inPath, ingestDir, landPartitions)
    lineage.log(inPath, s"$ingestDir/documents.parquet", 1, nClean,
      s"jsonl ingest ($nQuarantine quarantined)")

    // 2. clean + dedup + pack.
    val bench = benchmarkDir.map(d => graft.Tables.documents(spark, d))
    val pipeDir = s"$outDir/pipeline"
    val stages = CorpusPipeline.run(spark, ingestDir, pipeDir,
      benchmark = bench, embeddings = embeddings,
      maxDocsPerSource = maxDocsPerSource, urlDedup = urlDedup,
      boilerplateMinDocs = boilerplateMinDocs,
      containmentThreshold = containmentThreshold)
    lineage.log(s"$ingestDir/documents.parquet", s"$pipeDir/corpus_clean",
      8, stages.afterCap,
      "scrub+quality+contam+url+boiler+exact+near+contain+semantic+cap")
    lineage.log(s"$pipeDir/corpus_clean", s"$pipeDir/sequences",
      1, stages.sequences, "sequence packing (256-token budget)")

    // 3. split-keyed final corpus: the doc's split is a pure function of
    // its own id (md5 bucket), so re-runs and corpus growth never move a
    // doc across the eval boundary — and the split column doubles as the
    // partition key, so a trainer reads split=train/ by directory prune.
    val clean = spark.read.parquet(s"$pipeDir/corpus_clean")
    val finalDir = s"$outDir/corpus_final"
    clean.withColumn("split", graft.queries.TextOps.splitAssignCol)
      .write.mode(SaveMode.Overwrite).partitionBy("split").parquet(finalDir)
    lineage.log(s"$pipeDir/corpus_clean", finalDir, 1, stages.afterCap,
      "train/val/test split partitioning (md5-stable)")

    val bySplit = spark.read.parquet(finalDir)
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dot = lineage.toDot
    val dotPath = new org.apache.hadoop.fs.Path(s"$outDir/lineage.dot")
    val fs = dotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(dotPath, true)
    try os.write(dot.getBytes("UTF-8")) finally os.close()

    RunCounts(nClean, nQuarantine, stages,
      bySplit.getOrElse("train", 0L), bySplit.getOrElse("val", 0L),
      bySplit.getOrElse("test", 0L))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusRun <in.jsonl[.gz]> <outDir> [benchmarkDir] [embeddingsParquet] [maxDocsPerSource]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-corpus-run").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // 4th arg: a (doc_id, embedding array<float>) parquet enabling the
      // semantic dedup stage from the command line; 5th: per-source cap.
      val emb = args.drop(3).headOption.map(p => spark.read.parquet(p))
      val cap = args.drop(4).headOption.map(_.toInt)
      val r = run(spark, args(0), args(1), args.drop(2).headOption, emb,
        maxDocsPerSource = cap)
      println(s"[corpus-run] ingested=${r.ingested} quarantined=${r.quarantined} " +
        s"clean=${r.stages.afterCap} sequences=${r.stages.sequences} " +
        s"train=${r.trainDocs} val=${r.valDocs} test=${r.testDocs} -> ${args(1)}")
    } finally spark.stop()
  }
}
