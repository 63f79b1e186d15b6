package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, PostingsIndex, Versioned}

/** The `pipeline` workload: the jobs a scheduler runs after a corpus is
  * published. The two full builds it maintains are made once per program
  * version by `prepare` (timed there, reported as `ext.publish_s` and
  * `ext.ann_build_s`):
  *
  *   - a text-only `Publish.run` of a JSONL dump of 89% of the documents
  *     (ingest → clean → serving → postings and BPE artifacts);
  *   - `AnnIndex.save` on 89% of the embeddings.
  *
  * Each run restores that state into its own live dir and times, in order:
  *
  *   1. `StarAdapter.runPipeline` (Job1 → Job2 → lineage);
  *   2. `PostingsIndex.appendDocs` of a 10% increment;
  *   3. `AnnIndex.rebuildIfDrifted` after a 10% append;
  *   4. `EventStream.runWindowed` and `runSessionize` over the events
  *      re-split into files.
  *
  * Steps 1 and 4 recompute from their whole input (pass 0, `cold_s`);
  * steps 2 and 3 extend committed state by an increment (pass 1,
  * `warm_s`). Bands are 1% of the ids by rank; the base is the first 89
  * bands. The seed picks which 10 of the other 11 bands are the increment
  * and the order in which the event files are written.
  */
object Pipeline {

  val layerNames: Seq[(String, String)] = Seq(
    "etl.pipeline_s" -> "s", "etl.bytes_written_mb" -> "MB",
    "ext.publish_s" -> "s", "ext.publish_mb" -> "MB", "ext.ann_build_s" -> "s",
    "ext.postings_append_10pct_s" -> "s", "ext.ann_append_10pct_s" -> "s", "ext.append_mb" -> "MB",
    "streaming.windowed_s" -> "s", "streaming.sessionize_s" -> "s")

  private val EventFiles = 8
  private val BaseBands = 89

  /** Band (0..99) of every id, by rank. */
  private def bandOf(ids: Seq[Long]): Map[Long, Int] = {
    val sorted = ids.sorted.toIndexedSeq
    sorted.indices.map(i => sorted(i) -> i * 100 / sorted.size).toMap
  }

  private def ids(df: DataFrame, c: String): Seq[Long] = df.select(c).collect().map(_.getLong(0)).toSeq

  private def in(c: String, s: Set[Long]) = col(c).isin(s.toSeq: _*)

  private def baseIds(df: DataFrame, c: String): Set[Long] =
    bandOf(ids(df, c)).collect { case (id, b) if b < BaseBands => id }.toSet

  private def servingDir(live: String) = s"$live/pub/serving"
  private def vecDir(live: String) = s"$live/vec"

  /** Parquet data files under `root`, keyed by inode: a hard link to a
    * file that already existed is carried over, not written.
    */
  private def dataFiles(roots: Seq[String]): Map[AnyRef, Long] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { p =>
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map((f: Path) => Files.getAttribute(f, "unix:ino") -> Files.size(f)).toList
      finally s.close()
    }.toMap

  /** Bytes of the data files under `roots` that are not in `before`. */
  private def newBytes(roots: Seq[String], before: Map[AnyRef, Long]): Long =
    dataFiles(roots).collect { case (ino, len) if !before.contains(ino) => len }.sum

  /** Builds the base state in `live`: the published 89% corpus with its
    * artifacts, and the ANN index of 89% of the embeddings. Returns the
    * `key=value` lines run.py hands to every pipeline run.
    */
  def prepare(spark: SparkSession, data: String, live: String): Seq[String] = {
    val docs = graft.Tables.documents(spark, data)
    val base = baseIds(docs, "doc_id")
    val dump = s"$live/dump"
    docs.filter(in("doc_id", base)).select(to_json(struct(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))).as("value")).write.mode(SaveMode.Overwrite).text(dump)
    val roots = Seq(live, graft.ext.ArtifactRoots.root)
    val before = dataFiles(roots)
    val t0 = Host.now()
    val serving = graft.ext.Publish.run(spark, dump, s"$live/pub").servingDocs
    val publishS = Host.secs(t0, Host.now())
    val publishB = newBytes(roots, before)

    val vecs = graft.Tables.embeddings(spark, data)
    vecs.filter(in("vec_id", baseIds(vecs, "vec_id")))
      .write.mode(SaveMode.Overwrite).parquet(s"${vecDir(live)}/embeddings.parquet")
    val t1 = Host.now()
    AnnIndex.save(spark, vecDir(live), AnnIndex.defaultIndexDir(vecDir(live)))
    val annS = Host.secs(t1, Host.now())
    Seq(s"publish_s=$publishS", s"publish_mb=${publishB / (1024.0 * 1024.0)}",
      s"ann_build_s=$annS", s"serving_docs=$serving")
  }

  def run(ctx: Ctx, live: String, prepared: Map[String, String]): Unit = {
    val spark = ctx.spark
    val work = ctx.work
    val rnd = new scala.util.Random(ctx.seed)
    for ((k, n) <- Seq("publish_s" -> "ext.publish_s", "publish_mb" -> "ext.publish_mb",
                       "ann_build_s" -> "ext.ann_build_s"))
      ctx.add(n, prepared(k).toDouble, if (n.endsWith("_mb")) "MB" else "s")

    // ---- inputs, off the clock ----
    def increment(df: DataFrame, c: String): Set[Long] = {
      val bands = rnd.shuffle((BaseBands until 100).toList).tail.toSet
      bandOf(ids(df, c)).collect { case (id, b) if bands(b) => id }.toSet
    }
    val docs = graft.Tables.documents(spark, ctx.data)
    val vecs = graft.Tables.embeddings(spark, ctx.data)
    val events = s"$work/in/events"
    val (doc10, vec10) = ctx.offClock {
      val incs = (increment(docs, "doc_id"), increment(vecs, "vec_id"))
      val ev = graft.Tables.events(spark, ctx.data)
      val evIds = ids(ev, "event_id").sorted
      val cut = (0 until EventFiles).map(i => evIds(i * evIds.size / EventFiles))
      // One file per id range; the seed permutes which range lands in which
      // file, so the file source meets the ranges in a different order.
      val fileOf = rnd.shuffle((0 until EventFiles).toList)
      val chunk = (1 until EventFiles).foldLeft(lit(0)) { (acc, i) =>
        when(col("event_id") >= cut(i), lit(i)).otherwise(acc)
      }
      val file = fileOf.zipWithIndex.foldLeft(lit(0)) { case (acc, (f, k)) =>
        when(chunk === k, lit(f)).otherwise(acc)
      }
      ev.withColumn("_file", file).repartitionByRange(EventFiles, col("_file"))
        .drop("_file").write.mode(SaveMode.Overwrite).parquet(events)
      incs
    }

    val postings = PostingsIndex.defaultDir(servingDir(live))
    val annDir = AnnIndex.defaultIndexDir(vecDir(live))
    def versionIs(what: String, dir: String, v: Long): Unit = {
      val got = Versioned.currentVersion(dir)
      if (got != v) ctx.fail(s"$what: committed version $got, expected $v (one commit per step)")
    }
    def annAppend(incIds: Set[Long]): AnnIndex.DriftReport = {
      vecs.filter(in("vec_id", incIds)).write.mode(SaveMode.Append)
        .parquet(s"${vecDir(live)}/embeddings.parquet")
      // In-place corpus growth: the session-memo contract of ext.Currency
      // and queries.Det, as every caller that appends to a corpus keeps it.
      graft.ext.Currency.invalidate(vecDir(live))
      graft.queries.Det.releaseForDir(spark, vecDir(live))
      AnnIndex.rebuildIfDrifted(spark, vecDir(live), annDir)
    }
    def annCheck(what: String, n: Int, v: Long)(r: Any): Unit = {
      val rep = r.asInstanceOf[AnnIndex.DriftReport]
      if (rep.action != "appended" || rep.nNew != n)
        ctx.fail(s"$what: rebuildIfDrifted gave $rep, expected appended with $n new")
      versionIs(what, annDir, v)
    }
    def streamCheck(what: String)(r: Any): Unit =
      ctx.check(what, "-", "EventStream", Queries.digest(r.asInstanceOf[DataFrame]))

    final case class Step(name: String, pass: Int, bytes: Option[String], body: () => Any, check: Any => Unit)
    val steps = Seq(
      Step("etl.pipeline", 0, Some("etl.bytes_written_mb"),
        () => graft.etl.StarAdapter.runPipeline(spark, ctx.data, s"$work/star"),
        r => {
          val (n1, n2) = r.asInstanceOf[(Long, Long)]
          val lineage = spark.read.parquet(s"$work/star/lineage_registry").count()
          ctx.check("etl.pipeline", "-", "StarAdapter", s"sales=$n1,asset=$n2,lineage=$lineage")
        }),
      Step("ext.postings_append_10pct", 1, Some("ext.append_mb"),
        () => PostingsIndex.appendDocs(spark, postings, docs.filter(in("doc_id", doc10))),
        _ => {
          versionIs("ext.postings_append_10pct", postings, 2)
          val n = PostingsIndex.docMeta(spark, Versioned.committedDir(postings)).count()
          val want = prepared("serving_docs").toLong + doc10.size
          if (n != want) ctx.fail(s"ext.postings_append_10pct: $n documents indexed, expected $want")
        }),
      Step("ext.ann_append_10pct", 1, Some("ext.append_mb"),
        () => annAppend(vec10), annCheck("ext.ann_append_10pct", vec10.size, 2)),
      Step("streaming.windowed", 0, None,
        () => graft.streaming.EventStream.runWindowed(spark, events, "perfbench_windowed"),
        streamCheck("streaming.windowed")),
      Step("streaming.sessionize", 0, None,
        () => graft.streaming.EventStream.runSessionize(spark, events, "perfbench_sessionize"),
        streamCheck("streaming.sessionize")))

    val roots = Seq(work, live)
    for (s <- steps) {
      val before = ctx.offClock(dataFiles(roots))
      val (r, d) = ctx.op(s.name, s.pass)(s.body())
      ctx.add(s"${s.name}_s", d.wallS, "s")
      ctx.offClock {
        val written = newBytes(roots, before)
        ctx.addDataFileBytes(written)
        s.bytes.foreach(b => ctx.add(b, written / (1024.0 * 1024.0), "MB"))
        r.foreach { v =>
          try s.check(v)
          catch { case e: Throwable => ctx.fail(s"${s.name} check: ${e.toString.take(300)}") }
        }
      }
    }
  }
}
