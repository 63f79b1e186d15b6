package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. One JVM measures one run of one workload.
  *
  *   run       workload=<report|corpus|pipeline> seed=<n> trace=<0|1>
  *             data=<dir> work=<dir> live=<dir> prepared=<file>
  *             expected=<tsv> out=<json> seconds=<s> [record=<tsv>]
  *   prepare   data=<dir> live=<dir> out=<file>
  *             build the serving artifacts and the pipeline's base once
  *   survey    data=<dir> seed=<n> out=<tsv>
  *             time every declared query cold and warm
  *   selftest  data=<dir> work=<dir> expected=<tsv>
  *
  * The serving-artifact root (`graft.index.root`), `java.io.tmpdir` and
  * `spark.local.dir` are set on the command line by run.py, inside the
  * run's own work dir.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("run") => Run(kv)
      case Some("prepare") => prepare(kv("data"), kv("live"), kv("out"))
      case Some("survey") => Catalog.survey(kv("data"), kv("seed").toLong, kv("out"))
      case Some("selftest") => sys.exit(SelfTest(kv))
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Builds, once per program version, the state runs start from: every
    * serving artifact of the input corpus (`IndexRun.run`) and the
    * pipeline's published base in `live`. Writes `key=value` lines to `out`.
    */
  private def prepare(data: String, live: String, out: String): Unit = {
    val spark = Session.build()
    try {
      val t0 = Host.now()
      val report = graft.ext.IndexRun.run(spark, data)
      val secs = Host.secs(t0, Host.now())
      System.err.println(s"[perfbench] artifacts built in $secs s: $report")
      val lines = s"prepare_s=$secs" +: Pipeline.prepare(spark, data, live)
      writeFile(out, lines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }

  def writeFile(path: String, text: String): Unit = {
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}

/** The one session configuration every run uses. */
object Session {

  val cores: Int = math.min(Runtime.getRuntime.availableProcessors, 4)

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Rounds of the warmup query in a run's set-up. */
  val WarmupRounds = 6

  /** A benchmark-owned query (scan, join, aggregate, sort) that runs the
    * code paths every timed op shares, so the first timed op does not
    * absorb all of the class loading and code generation. Set-up runs it
    * `WarmupRounds` times: enough for the JIT to compile those shared
    * paths, so that a query's warm time depends less on how many queries
    * the seed's order put before it.
    */
  def warmup(spark: SparkSession, data: String): Unit = {
    import org.apache.spark.sql.functions._
    val l = spark.read.parquet(s"$data/lineitem.parquet")
    val o = spark.read.parquet(s"$data/orders.parquet")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Builds the session, runs the warmup rounds and `Det.releasePins`;
    * returns the session and the seconds from the JVM's start.
    */
  def setUp(data: String): (SparkSession, Double) = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = build()
    for (i <- 1 to WarmupRounds) {
      val t0 = Host.now()
      warmup(spark, data)
      System.err.println(s"[perfbench] warmup round $i: ${Host.secs(t0, Host.now())} s")
    }
    graft.queries.Det.releasePins(spark)
    (spark, (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }
}
