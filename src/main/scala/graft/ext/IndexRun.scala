package graft.ext

import org.apache.spark.sql.SparkSession

/** One-command index lifecycle for a corpus — the serving-side
  * counterpart of CorpusRun's ingest chain: ensure every persisted
  * artifact the query surface serves from (ANN index, phrase-search
  * postings, BPE merge tables) and run each one's drift-aware
  * maintenance pass, reporting what was done per artifact. This is the
  * scheduled job a 100 TB deployment runs after every corpus publish:
  * cheap no-ops when nothing moved, frozen-model appends for
  * in-distribution growth, full retrains only when the drift gates say
  * the fitted models no longer match the data.
  *
  *   - ANN: `AnnIndex.ensure` (build-if-absent) then
  *     `rebuildIfDrifted` — append new vectors under the frozen model
  *     or retrain on drift/removal (audited either way);
  *   - postings: `PostingsIndex.ensure` — postings are per-document,
  *     so currency is just count+path (append ≡ rebuild exactly; no
  *     drift concept applies);
  *   - BPE: `BpeArtifact.ensure` then `retrainIfDrifted` — versioned
  *     retrain when the live bigram vocabulary moves past the overlap
  *     bound.
  *
  * Each artifact keeps its own validity/commit discipline (meta-last
  * or CURRENT-pointer); this driver only sequences them, so a crash
  * mid-run leaves every artifact either at its prior version or fully
  * committed — never half-written.
  */
object IndexRun {

  final case class IndexReport(annBuilt: Boolean, annAction: String,
                               annNew: Long, annRatio: Double,
                               postingsBuilt: Boolean, rpBuilt: Boolean,
                               bpeTrained: Boolean, bpeAction: String,
                               bpeOverlap: Double)

  /** `withVectors = false` skips the embedding-backed artifacts (ANN +
    * RP) for a text-only corpus — the publish path for dumps that carry
    * no embeddings yet; postings + BPE still maintain. `keep` widens
    * every artifact's retained-version window to match the publish's
    * serving retention (r14): a time-travel snapshot's PAIRED index
    * versions then outlive exactly as many later publishes as the
    * snapshot itself.
    */
  def run(spark: SparkSession, corpusDir: String,
          annBound: Double = 2.0, bpeMinOverlap: Double = 0.75,
          withVectors: Boolean = true, keep: Int = 2): IndexReport = {
    // Every maintenance pass below re-reads the committed version at
    // entry and CAS-promotes at exit, so retryingCommit (r14 VERDICT #1)
    // makes a scheduled run that loses a race against a streaming
    // maintainer re-stage off the stream's commit instead of dying.
    import Versioned.retryingCommit
    val (annBuilt, drift) =
      if (!withVectors)
        (false, AnnIndex.DriftReport("skipped", 0L, 0L, 0.0))
      else {
        val annDir = AnnIndex.defaultIndexDir(corpusDir)
        val built = retryingCommit("index-run-ann-ensure") {
          AnnIndex.ensure(spark, corpusDir, annDir, keep)
        }
        // ensure() already retrained if the corpus moved under the same
        // path; the drift pass then provably no-ops on a fresh build — it
        // exists for the standing-index case where corpusDir GREW (new
        // vec_ids) rather than being re-keyed.
        (built, retryingCommit("index-run-ann-drift") {
          AnnIndex.rebuildIfDrifted(spark, corpusDir, annDir, annBound,
            keep = keep)
        })
      }

    val postDir = PostingsIndex.defaultDir(corpusDir)
    val postingsBuilt = retryingCommit("index-run-postings") {
      PostingsIndex.ensure(spark, corpusDir, postDir, keep)
    }

    // Projected store: per-document like postings — count+path currency,
    // no drift concept (the md5 matrix is fixed; append ≡ rebuild).
    val rpBuilt = withVectors && retryingCommit("index-run-rp") {
      RpIndex.ensure(spark, corpusDir, RpIndex.defaultDir(corpusDir), keep)
    }

    val bpeDir = BpeArtifact.defaultDir(corpusDir)
    val bpeTrained = retryingCommit("index-run-bpe-ensure") {
      BpeArtifact.ensure(spark, corpusDir, bpeDir, keep)
    }
    val bpe = retryingCommit("index-run-bpe-drift") {
      BpeArtifact.retrainIfDrifted(spark, corpusDir, bpeDir,
        bpeMinOverlap, keep)
    }

    IndexReport(annBuilt, drift.action, drift.nNew, drift.maxRatio,
      postingsBuilt, rpBuilt, bpeTrained, bpe.action, bpe.overlap)
  }

  final case class ArtifactStatus(kind: String, dir: String, version: Long,
                                  retained: Seq[Long], files: Long, bytes: Long,
                                  corpusDir: String, fingerprint: String)

  /** Fleet inspection — the ops face of the version chains: per
    * artifact, the committed version, the retained (time-travel)
    * window, the on-disk footprint, and the corpus identity the
    * committed meta pins (path + content fingerprint). Pure driver-side
    * file walking plus one-row meta reads — no data-path jobs; safe to
    * run against a fleet that is concurrently serving.
    */
  def status(spark: SparkSession, corpusDir: String): Seq[ArtifactStatus] = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (1L, f.length())
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(walk).foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }
    Seq("ann" -> AnnIndex.defaultIndexDir(corpusDir),
        "postings" -> PostingsIndex.defaultDir(corpusDir),
        "rp" -> RpIndex.defaultDir(corpusDir),
        "bpe" -> BpeArtifact.defaultDir(corpusDir)).map { case (kind, d) =>
      val v = Versioned.currentVersion(d)
      val (files, bytes) = walk(new java.io.File(d))
      val (mc, fp) =
        if (v == 0) ("", "")
        else {
          val meta = spark.read.parquet(s"${Versioned.versionDir(d, v)}/meta").head()
          (meta.getAs[String]("corpus_dir"),
            scala.util.Try(meta.getAs[String]("fingerprint")).getOrElse(""))
        }
      ArtifactStatus(kind, d, v, Versioned.versions(d), files, bytes, mc, fp)
    }
  }

  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.builder(cpus, "graft-index-run").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, corpusDir))
    finally spark.stop()
  }
}
