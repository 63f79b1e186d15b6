package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The listeners of a traced run: jobs, stages and tasks (SparkListener),
  * planner phases of every query execution (QueryExecutionListener) and
  * micro-batch progress (StreamingQueryListener). An untraced run
  * registers none of them.
  */
final class Trace(spark: SparkSession) {

  private val exec = new ExecStats
  private val plans = new PlanStats
  private val stream = new StreamStats
  /** Set around off-clock work (output checks, input preparation), with
    * the listener bus drained on both sides so every event of that work
    * is delivered while it is set.
    */
  @volatile var paused = false

  def register(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    spark.streams.addListener(stream)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(stream)
  }

  def drain(): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)

  /** Executed plan of the most recent successful query execution. */
  def lastPlan: Option[SparkPlan] = { drain(); plans.last }

  def metrics: Seq[(String, Double, String)] = {
    drain()
    exec.metrics ++ plans.metrics ++ stream.metrics
  }

  private final class ExecStats extends SparkListener {
    /** Per running job: its stages, and those submitted while it ran. */
    private val running = mutable.Map.empty[Int, (Seq[Int], mutable.Set[Int])]
    private val tasksPerStage = mutable.ArrayBuffer.empty[Int]
    private var jobs, stagesSkipped = 0L
    private var runMs, deserMs, gcMs = 0L
    private var cpuNs, inputB, shuffleReadB, shuffleWriteB, spillB = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (!paused) {
        jobs += 1
        running(e.jobId) = (e.stageIds, mutable.Set.empty[Int])
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      for ((stages, submitted) <- running.values if stages.contains(e.stageInfo.stageId))
        submitted += e.stageInfo.stageId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      // A stage of the job that never ran in it was reused from an earlier job.
      for ((stages, submitted) <- running.remove(e.jobId))
        stagesSkipped += stages.count(s => !submitted(s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!paused) record(e.stageInfo)
    }

    private def record(i: StageInfo): Unit = {
      tasksPerStage += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        deserMs += m.executorDeserializeTime
        gcMs += m.jvmGCTime
        inputB += m.inputMetrics.bytesRead
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.diskBytesSpilled
      }
    }

    def metrics: Seq[(String, Double, String)] = synchronized {
      val sorted = tasksPerStage.sorted
      val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble
      val mb = 1024.0 * 1024.0
      Seq(
        ("exec.jobs", jobs.toDouble, "count"),
        ("exec.stages", tasksPerStage.size.toDouble, "count"),
        ("exec.stages_skipped", stagesSkipped.toDouble, "count"),
        ("exec.tasks", tasksPerStage.sum.toDouble, "count"),
        ("exec.median_tasks_per_stage", median, "count"),
        ("exec.task_run_s", runMs / 1e3, "s"),
        ("exec.task_cpu_s", cpuNs / 1e9, "s"),
        ("exec.task_deser_s", deserMs / 1e3, "s"),
        ("exec.jvm_gc_s", gcMs / 1e3, "s"),
        ("exec.input_mb", inputB / mb, "MB"),
        ("exec.shuffle_read_mb", shuffleReadB / mb, "MB"),
        ("exec.shuffle_write_mb", shuffleWriteB / mb, "MB"),
        ("exec.spill_mb", spillB / mb, "MB"))
    }
  }

  private final class PlanStats extends QueryExecutionListener {
    private val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
    @volatile var last: Option[SparkPlan] = None

    private def add(qe: QueryExecution): Unit = synchronized {
      for ((phase, summary) <- qe.tracker.phases if phaseMs.contains(phase))
        phaseMs(phase) += summary.durationMs
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (!paused) {
        add(qe)
        last = Some(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (!paused) add(qe)

    def metrics: Seq[(String, Double, String)] = synchronized {
      Seq("analysis", "optimization", "planning").map(p => (s"planner.${p}_s", phaseMs(p) / 1e3, "s"))
    }
  }

  private final class StreamStats extends StreamingQueryListener {
    private val batchMs = mutable.ArrayBuffer.empty[Long]
    private var rows = 0L

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      // A progress event with no input is an idle trigger, not a batch.
      if (!paused && e.progress.numInputRows > 0) {
        batchMs += e.progress.batchDuration
        rows += e.progress.numInputRows
      }
    }

    def metrics: Seq[(String, Double, String)] = synchronized {
      val sorted = batchMs.sorted
      val p50 = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble
      val totalS = batchMs.sum / 1e3
      Seq(
        ("streaming.batches", batchMs.size.toDouble, "count"),
        ("streaming.rows_per_s", if (totalS > 0) rows / totalS else 0.0, "1/s"),
        ("streaming.batch_p50_ms", p50, "ms"),
        ("streaming.batch_max_ms", if (sorted.isEmpty) 0.0 else sorted.last.toDouble, "ms"))
    }
  }
}

object Trace {

  /** Every operator of an executed plan, looking through adaptive-query
    * wrappers to the plan that actually ran.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case s: QueryStageExec => expand(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(expand)
    }
    expand(plan)
  }
}
