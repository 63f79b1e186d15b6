package perfbench

import org.apache.spark.sql.execution.SortExec

/** The benchmark's own checks of itself (`run.py --selftest`):
  *
  *   1. the timed action runs the verified plan: the executed plan of a
  *      timed q_join_3way run, digest observation included, still contains
  *      its final (global) SortExec, which a `count()` action lets the
  *      optimizer drop;
  *   2. a correct expected digest passes, and a corrupted one is reported
  *      as a failure of the cold and of every warm execution.
  *
  * Returns the process exit code.
  */
object SelfTest {

  def apply(kv: Map[String, String]): Int = {
    val spark = Session.build()
    val expected = Expected.load(kv("expected"))
    val entry = expected.of("report").headOption.getOrElse(sys.error("no report query in the expected file"))
    var problems = List.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems ::= what
    }
    def runWith(digest: String): Ctx = {
      val ctx = new Ctx(spark, kv("data"), kv("work"), "report", 1L,
        Expected(Seq(entry.copy(expected = digest))), recording = false, trace = None)
      Queries.run(ctx)
      ctx
    }

    try {
      // (1) Plan of the timed write: capture it right after the timed op.
      val trace = new Trace(spark)
      trace.register()
      val fn = Catalog.lookup("Joins", "q_join_3way")
      Queries.sink(new Queries.Observed(spark).observed(fn(spark, kv("data")))._1)
      val ops = trace.lastPlan.map(Trace.operators).getOrElse(Nil)
      trace.unregister()
      expect(ops.exists { case s: SortExec => s.global; case _ => false },
        s"timed q_join_3way plan keeps its final SortExec (${ops.map(_.nodeName).distinct.mkString(",")})")
      val counted = fn(spark, kv("data")).groupBy().count().queryExecution.executedPlan
      expect(!Trace.operators(counted).exists(_.isInstanceOf[SortExec]),
        "a count() of the same query drops the SortExec (the defect the noop sink avoids)")

      // (2) Output checks.
      val good = runWith(entry.expected)
      val executions = 1 + Queries.warmRepeats("report")
      expect(good.failed == 0 && good.attempted == executions,
        s"recorded digest passes (attempted ${good.attempted}, failed ${good.failed})")
      val corrupted = entry.expected.dropRight(1) + (if (entry.expected.last == '7') '8' else '7')
      val bad = runWith(corrupted)
      expect(bad.failed == executions && bad.failures.forall(_.startsWith(s"${entry.name}: output")),
        s"corrupted digest is reported as a failed op (failed ${bad.failed})")
    } finally spark.stop()
    if (problems.isEmpty) 0 else 1
  }
}
