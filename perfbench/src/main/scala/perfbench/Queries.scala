package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The program's query modules, in `SparkEntry.queries` order, and the
  * survey that times all of them.
  */
object Catalog {

  type Q = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Core" -> graft.queries.Core.queries,
    "Joins" -> graft.queries.Joins.queries,
    "Windows" -> graft.queries.Windows.queries,
    "SetOps" -> graft.queries.SetOps.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Events" -> graft.queries.Events.queries,
    "Media" -> graft.queries.Media.queries,
    "Grouping" -> graft.queries.Grouping.queries,
    "Scalars" -> graft.queries.Scalars.queries,
    "Temporal" -> graft.queries.Temporal.queries,
    "Subqueries" -> graft.queries.Subqueries.queries,
    "Stats" -> graft.queries.Stats.queries,
    "Classic" -> graft.queries.Classic.queries,
    "Nested" -> graft.queries.Nested.queries,
    "Sampling" -> graft.queries.Sampling.queries,
    "Sketch" -> graft.queries.Sketch.queries,
    "Layout" -> graft.queries.Layout.queries,
    "AnnIndex" -> graft.ext.AnnIndex.queries)

  private val corpusModules = Set("TextOps", "Dedup", "Similarity", "Sketch", "Media", "AnnIndex")

  /** `q_dedup` of `q_dedup_minhash`: the unit whose queries share memos. */
  def family(name: String): String = name.split("_").take(2).mkString("_")

  def lookup(module: String, name: String): Q =
    modules.find(_._1 == module).flatMap(_._2.get(name))
      .getOrElse(sys.error(s"no query $name in module $module"))

  /** The workload a query belongs to: `corpus` when its plan reads
    * documents, embeddings or a serving artifact, `report` when it reads
    * only the star schema and events; a plan with no file scan (its inputs
    * were staged eagerly) is classified by its module.
    */
  def workloadOf(module: String, df: DataFrame, data: String): String = {
    val files = df.inputFiles.toSeq
    val star = files.forall { f =>
      f.contains(new File(data).getName) && !f.contains("/documents.parquet") && !f.contains("/embeddings.parquet")
    }
    if (files.isEmpty) (if (corpusModules(module)) "corpus" else "report")
    else if (star) "report" else "corpus"
  }

  /** Times every declared query once cold and once warm, in one fresh JVM
    * set up as a run is (same session, warmup and artifact root), modules
    * in an order the seed shuffles, `Det.releasePins` at each family
    * boundary, and writes
    * `workload family module name cold_s warm_s build_cold_s rows` per
    * query (rows counted after the timed executions).
    * The workloads' query lists are chosen from this table.
    */
  def survey(data: String, seed: Long, out: String): Unit = {
    val (spark, _) = Session.setUp(data)
    def timed(q: Q): (Double, Double, DataFrame) = {
      val t0 = Host.now()
      val df = q(spark, data)
      val t1 = Host.now()
      Queries.sink(df)
      (Host.secs(t0, Host.now()), Host.secs(t0, t1), df)
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((module, qs) <- new scala.util.Random(seed).shuffle(modules);
         (fam, names) <- qs.keys.toSeq.sorted.groupBy(family).toSeq.sortBy(_._1)) {
      graft.queries.Det.releasePins(spark)
      for (name <- names) {
        val row =
          try {
            val (cold, buildCold, df) = timed(qs(name))
            val (warm, _, warmDf) = timed(qs(name))
            Seq(workloadOf(module, df, data), fam, module, name, f"$cold%.3f", f"$warm%.3f", f"$buildCold%.3f",
              warmDf.count().toString)
          } catch { case e: Throwable => Seq("error", fam, module, name, e.toString.take(120).replace('\t', ' ')) }
        System.err.println(s"[survey] ${row.mkString(" ")}")
        lines += row.mkString("\t")
      }
    }
    spark.stop()
    Main.writeFile(out, lines.mkString("", "\n", "\n"))
  }
}

/** The `report` and `corpus` workloads: every listed query runs once cold
  * and then `warmRepeats` times warm, back-to-back, each execution timed as
  * `fn(spark, dir)` plus writing its full result to the `noop` sink;
  * `Det.releasePins` runs at each family boundary; the seed orders the
  * families.
  */
object Queries {

  /** Warm executions per query; `warm_s` takes the median of each query's
    * (of two, their mean). `corpus` runs three: its `warm_s` is the
    * smallest end-to-end time and the noisiest.
    */
  def warmRepeats(workload: String): Int = if (workload == "corpus") 3 else 2

  /** The digest's two aggregates over a result: row count and the sum of
    * one 64-bit hash per row over all columns, taken in column-name order.
    * Order-insensitive.
    */
  private def digestColumns(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.map(c => df.col(s"`$c`").cast("string"))
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))
  }

  private def digestOf(r: Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"

  /** The digest of a result, computed by a job of its own. */
  def digest(df: DataFrame): String = digestOf(df.select(digestColumns(df): _*).head())

  /** Digests taken from the timed executions themselves: `observed` adds a
    * `Dataset.observe` of the digest's aggregates on top of the result, and
    * the listener keeps the observed row when the write's query execution
    * finishes. One pass over the result rows, at most a few thousand here.
    */
  final class Observed(spark: SparkSession) extends QueryExecutionListener {
    private val rows = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    private var next = 0

    def observed(df: DataFrame): (DataFrame, String) = {
      next += 1
      val name = s"perfbench_digest_$next"
      val cols = digestColumns(df)
      (df.observe(name, cols.head, cols.tail: _*), name)
    }

    /** The digest observed under `name`, once the listener bus is drained. */
    def take(name: String): Option[String] = Option(rows.remove(name)).map(digestOf)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (n, r) => if (n.startsWith("perfbench_digest_")) rows.put(n, r) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def register(): Unit = spark.listenerManager.register(this)
    def unregister(): Unit = spark.listenerManager.unregister(this)
  }

  /** The timed action: the full result written to Spark's `noop` sink,
    * so the whole physical plan runs (a `count()` lets the optimizer drop
    * the final sort, projections and unread columns).
    */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times one query execution and checks its observed digest (off the
    * clock); returns the execution's seconds and its build seconds, the
    * part inside `fn(spark, dir)`, or None if it threw.
    */
  private def execute(ctx: Ctx, obs: Observed, e: Expected.Entry, pass: Int): Option[(Double, Double)] = {
    val fn = Catalog.lookup(e.module, e.name)
    var buildS = 0.0
    var name = ""
    val (r, d) = ctx.op(e.name, pass) {
      val t0 = Host.now()
      val (df, n) = obs.observed(fn(ctx.spark, ctx.data))
      buildS = Host.secs(t0, Host.now())
      name = n
      sink(df)
    }
    // ctx.op drained the listener bus after the op, so the row is there.
    r.map { _ =>
      ctx.check(e.name, e.family, e.module, obs.take(name).getOrElse("no digest observed"))
      (d.wallS, buildS)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs the workload; returns the number of serving artifacts whose
    * committed version changed during the run (must be 0).
    */
  def run(ctx: Ctx): Int = {
    val before = artifactVersions()
    val obs = new Observed(ctx.spark)
    obs.register()
    val entries = ctx.expected.of(ctx.workload)
    val families = entries.map(_.family).distinct.sorted
    val order = new scala.util.Random(ctx.seed).shuffle(families)
    try for (f <- order) {
      val t0 = Host.now()
      graft.queries.Det.releasePins(ctx.spark)
      ctx.add("det.release_s", Host.secs(t0, Host.now()), "s")
      for (e <- entries.filter(_.family == f)) {
        // Every execution's result is checked: the cold one may take
        // another path (eager memo builds, training) than the warm ones.
        execute(ctx, obs, e, 0).foreach { case (s, b) =>
          ctx.add(s"queries.${e.module}.cold_s", s, "s")
          ctx.add("queries.build_cold_s", b, "s")
        }
        val warm = (1 to warmRepeats(ctx.workload)).flatMap(_ => execute(ctx, obs, e, 1))
        if (warm.nonEmpty) {
          val s = median(warm.map(_._1))
          ctx.warmS += s
          ctx.add(s"queries.${e.module}.warm_s", s, "s")
          ctx.add("queries.build_warm_s", median(warm.map(_._2)), "s")
        }
      }
    } finally obs.unregister()
    graft.queries.Det.releasePins(ctx.spark)
    val after = artifactVersions()
    after.count { case (dir, v) => !before.get(dir).contains(v) }
  }

  /** Committed version of every artifact under the serving-artifact root,
    * nested ones (a corpus's `bpe`) included: every dir with a CURRENT file.
    */
  def artifactVersions(): Map[String, Long] = {
    def walk(d: File): Seq[(String, Long)] = {
      val here = if (new File(d, "CURRENT").isFile) Seq(d.getPath -> graft.ext.Versioned.currentVersion(d.getPath)) else Nil
      here ++ Option(d.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory).toSeq.flatMap(walk)
    }
    walk(new File(graft.ext.ArtifactRoots.root)).toMap
  }
}
