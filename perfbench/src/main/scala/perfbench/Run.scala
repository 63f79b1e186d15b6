package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Expected outputs, one line per checked result:
  * `workload <TAB> family <TAB> module <TAB> name <TAB> expected`.
  * Lines starting with `#` are comments. The query workloads take their
  * query lists from this file, in file order.
  */
final case class Expected(entries: Seq[Expected.Entry]) {
  def of(workload: String): Seq[Expected.Entry] = entries.filter(_.workload == workload)
  def value(workload: String, name: String): Option[String] =
    entries.find(e => e.workload == workload && e.name == name).map(_.expected)
}

object Expected {
  final case class Entry(workload: String, family: String, module: String, name: String, expected: String) {
    def line: String = Seq(workload, family, module, name, expected).mkString("\t")
  }

  /** The file's comment lines, kept when outputs are re-recorded. */
  def header(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.startsWith("#")).toList finally src.close()
  }

  def load(path: String): Expected = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try Expected(src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      require(f.length == 5, s"malformed expected line: $l")
      Entry(f(0), f(1), f(2), f(3), f(4))
    }.toSeq)
    finally src.close()
  }
}

/** Everything one run measures, shared by the workloads. An op is one
  * timed call of the program; pass 0 is an op's first execution in the
  * run and pass 1 its back-to-back repeats.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val workload: String, val seed: Long, val expected: Expected,
                val recording: Boolean, val trace: Option[Trace]) {

  /** Counters summed over the ops of each pass: `cold_s` and `warm_s`. */
  val passes: Array[Host.Snap] = Array(Host.zero, Host.zero)
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val recorded = mutable.ArrayBuffer.empty[Expected.Entry]
  /** (op, pass, seconds, MB of shuffle and spill) of every execution. */
  val opLog = mutable.ArrayBuffer.empty[(String, Int, Double, Double)]
  var attempted, failed = 0L
  /** The query workloads' `warm_s`: over queries, the median of each
    * query's warm executions.
    */
  var warmS = 0.0
  var peakStorageMb, cachedRddsPeak = 0.0
  private var spanStart, spanEnd = 0L
  /** (start, end) nanos of benchmark work between ops: samples and checks. */
  private val offClockSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var shuffleSpillBytes, dataFileBytes = 0L
  /** Stages already counted; those of the session's setup and warmup are
    * not part of any op.
    */
  private val seenStages = {
    org.apache.spark.BenchAccess.drain(spark.sparkContext)
    mutable.Set(org.apache.spark.BenchAccess.stageWrites(spark.sparkContext).map(_._1): _*)
  }

  def add(name: String, v: Double, unit: String): Unit = {
    val prev = layer.get(name).map(_._1).getOrElse(0.0)
    layer(name) = (prev + v, unit)
  }

  def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Runs one timed op; returns its result (None if it threw) and its
    * counters. Exceptions count as failed ops, never as fast ones.
    */
  def op[A](name: String, pass: Int)(body: => A): (Option[A], Host.Snap) = {
    val s0 = Host.snap()
    if (spanStart == 0L) spanStart = s0.wall
    val r =
      try Some(body)
      catch { case e: Throwable => fail(s"$name (pass $pass): ${e.toString.take(300)}"); None }
    val s1 = Host.snap()
    spanEnd = s1.wall
    val d = s0.to(s1)
    passes(pass) = passes(pass).plus(d)
    attempted += 1
    val mb = afterOp() / (1024.0 * 1024.0)
    offClockSpans += ((s1.wall, Host.now()))
    opLog += ((name, pass, d.wallS, mb))
    (r, d)
  }

  /** `job_s`: first op's call to last op's return, less the benchmark's
    * own samples and checks in between.
    */
  def jobS: Double = {
    val off = offClockSpans.map { case (a, b) =>
      math.max(0L, math.min(b, spanEnd) - math.max(a, spanStart))
    }.sum
    (spanEnd - spanStart - off) / 1e9
  }

  /** Seconds of the benchmark's own work between and after ops. */
  def offClockS: Double = offClockSpans.map { case (a, b) => b - a }.sum / 1e9

  /** Compares an actual output with the expected one. When recording, the
    * first output of a name is recorded and later ones must equal it.
    */
  def check(name: String, family: String, module: String, actual: String): Unit =
    if (recording && !recorded.exists(_.name == name)) recorded += Expected.Entry(workload, family, module, name, actual)
    else (if (recording) recorded.find(_.name == name).map(_.expected) else expected.value(workload, name)) match {
      case Some(e) if e == actual => ()
      case e => fail(s"$name: output $actual, expected ${e.getOrElse("<none>")}")
    }

  def addDataFileBytes(b: Long): Unit = dataFileBytes += b

  /** Runs work that is not part of any op (output checks, input
    * preparation): its jobs are left out of the traced metrics and of
    * `bytes_written_mb`.
    */
  def offClock[A](body: => A): A = {
    val t0 = Host.now()
    org.apache.spark.BenchAccess.drain(spark.sparkContext)
    trace.foreach(_.paused = true)
    try body
    finally {
      org.apache.spark.BenchAccess.drain(spark.sparkContext)
      trace.foreach(_.paused = false)
      seenStages ++= org.apache.spark.BenchAccess.stageWrites(spark.sparkContext).map(_._1)
      offClockSpans += ((t0, Host.now()))
    }
  }

  /** Off-clock samples after every op: block-store memory, cached RDDs,
    * and the shuffle and spill bytes of the stages the op ran (returned).
    */
  def afterOp(): Long = {
    val st = spark.sparkContext.getExecutorMemoryStatus
    val usedMb = st.values.map { case (max, remaining) => max - remaining }.sum / (1024.0 * 1024.0)
    peakStorageMb = math.max(peakStorageMb, usedMb)
    cachedRddsPeak = math.max(cachedRddsPeak, spark.sparkContext.getPersistentRDDs.size.toDouble)
    org.apache.spark.BenchAccess.drain(spark.sparkContext)
    val bytes = org.apache.spark.BenchAccess.stageWrites(spark.sparkContext).collect {
      case (id, shuffle, spill) if seenStages.add(id) => shuffle + spill
    }.sum
    shuffleSpillBytes += bytes
    bytes
  }

  def bytesWrittenMb: Double = (shuffleSpillBytes + dataFileBytes) / (1024.0 * 1024.0)
}

object Run {

  val modules: Seq[String] = Catalog.modules.map(_._1)

  def apply(kv: Map[String, String]): Unit = {
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val traced = kv.getOrElse("trace", "0") == "1"
    val data = kv("data")
    val work = kv("work")
    val recordPath = kv.get("record")
    val prepared = {
      val src = scala.io.Source.fromFile(kv("prepared"), "UTF-8")
      try src.getLines().filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1)
      }.toMap finally src.close()
    }

    val (spark, setupS) = Session.setUp(data)
    val setupSnap = Host.snap()
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.register())
    val ctx = new Ctx(spark, data, work, workload, seed, Expected.load(kv("expected")),
      recordPath.isDefined, trace)
    val runStart = Host.snap()
    val rebuilds = workload match {
      case "report" | "corpus" => Queries.run(ctx)
      case "pipeline" => Pipeline.run(ctx, kv("live"), prepared); 0
      case other => sys.error(s"unknown workload $other")
    }
    val runD = runStart.to(Host.snap())
    val warmS = if (workload == "pipeline") ctx.passes(1).wallS else ctx.warmS
    if (rebuilds > 0) ctx.fail(s"$rebuilds serving artifacts were rebuilt during the run")
    // The serving artifacts live under graft.index.root; the JVM's temp
    // dir must never receive the historical default artifact root.
    val tmpRoot = new File(sys.props("java.io.tmpdir"), "graft_ann_index")
    if (tmpRoot.exists()) ctx.fail(s"artifacts were written under $tmpRoot")
    val traceMetrics = trace.map(_.metrics).getOrElse(Nil)
    trace.foreach(_.unregister())

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cold_s", ctx.passes(0).wallS, "s"),
      ("warm_s", warmS, "s"),
      ("job_s", ctx.jobS, "s"),
      ("bytes_written_mb", ctx.bytesWrittenMb, "MB"))

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    for (m <- modules; p <- Seq("cold", "warm")) layer(s"queries.$m.${p}_s") = (0.0, "s")
    for (n <- Seq("queries.build_cold_s", "queries.build_warm_s")) layer(n) = (0.0, "s")
    for (n <- Seq("planner.analysis_s", "planner.optimization_s", "planner.planning_s")) layer(n) = (0.0, "s")
    layer ++= ctx.layer.filter(_._1.startsWith("queries."))
    for ((n, v, u) <- traceMetrics if n.startsWith("planner.") || n.startsWith("exec.")) layer(n) = (v, u)
    layer("det.cached_rdds_peak") = (ctx.cachedRddsPeak, "count")
    layer("det.peak_storage_mb") = (ctx.peakStorageMb, "MB")
    layer("det.release_s") = ctx.layer.getOrElse("det.release_s", (0.0, "s"))
    // IndexRun.run's build of the serving artifacts, timed once per
    // program version when run.py prepared them; corpus runs serve from them.
    layer("ext.prepare_s") = (if (workload == "corpus") prepared("prepare_s").toDouble else 0.0, "s")
    layer("ext.artifact_rebuilds") = (rebuilds.toDouble, "count")
    for (n <- Pipeline.layerNames) layer(n._1) = ctx.layer.getOrElse(n._1, (0.0, n._2))
    for ((n, v, u) <- traceMetrics if n.startsWith("streaming.")) layer(n) = (v, u)
    val setupD = Host.zero.copy(cpu = setupSnap.cpu, gc = setupSnap.gc, compile = setupSnap.compile)
    for ((pass, d) <- Seq("setup" -> setupD, "cold" -> ctx.passes(0), "warm" -> ctx.passes(1))) {
      layer(s"jvm.cpu_${pass}_s") = (d.cpu, "s")
      layer(s"jvm.gc_${pass}_s") = (d.gc, "s")
      layer(s"jvm.compile_${pass}_s") = (d.compile, "s")
    }
    layer("host.ext_load") = (Host.extLoad(runD), "cores")
    layer("trace.warm_s") = (warmS, "s")
    layer("trace.job_s") = (ctx.jobS, "s")

    recordPath.filter(_ => ctx.failed == 0).foreach { p =>
      val actual = ctx.recorded.groupBy(_.name).map { case (n, es) => n -> es.head }
      val mine = ctx.expected.of(workload).map(_.name).toSet
      val updated = ctx.expected.entries.map(e =>
        if (e.workload == workload) actual.get(e.name).fold(e)(a => e.copy(expected = a.expected)) else e)
      val added = ctx.recorded.filter(e => !mine(e.name)).distinctBy(_.name)
      Main.writeFile(p, (Expected.header(p) ++ (updated ++ added).map(_.line)).mkString("", "\n", "\n"))
    }

    def obj(ms: Iterable[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val layerSeq = layer.toSeq.map { case (n, (v, u)) => (n, v, u) }
    val result = s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":${obj(if (traced) layerSeq else e2e)}}"""
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val record = s"""{"run":{"workload":${Json.str(workload)},"seed":$seed,"seconds":${kv.getOrElse("seconds", "0").toInt},"trace":$traced,"attempted":${ctx.attempted},"failed":${ctx.failed},"spark":${Json.str(spark.version)},"java":${Json.str(sys.props("java.version"))},"cores":${Session.cores},"heap_mb":$heapMb,"host.ext_load":${Json.num(Host.extLoad(runD))},"checks_s":${Json.num(ctx.offClockS)},"failures":${ctx.failures.map(Json.str).mkString("[", ",", "]")},"end_to_end":${obj(e2e)},"per_layer":${obj(layerSeq)},"ops":${ctx.opLog.map { case (n, p, sec, mb) => s"[${Json.str(n)},$p,${Json.num(sec)},${Json.num(mb)}]" }.mkString("[", ",", "]")}}}"""
    val t0 = Host.now()
    spark.stop()
    System.err.println(s"[perfbench] session stopped in ${Host.secs(t0, Host.now())} s")
    Main.writeFile(kv("out"), record + "\n" + result + "\n")
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
