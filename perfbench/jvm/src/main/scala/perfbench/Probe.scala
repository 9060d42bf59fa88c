package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters from Spark's scheduler, executors and planner. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  var buildJobs = 0L; var buildInput = 0L
  var queryExecutions = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var codegenFallback = 0L; var wscgStages = 0L
}

/** A `SparkListener` plus a `QueryExecutionListener` the benchmark registers
  * on its own session for traced passes. Jobs are attributed to the build or
  * execute phase of an op through the `perfbench.phase` local property the
  * calling thread sets; spans for each job go to the tracer.
  */
final class Probe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val PhaseKey = "perfbench.phase"
  private var c = new Counters
  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, Int, Int)]
  @volatile var spanParent = 0
  @volatile var opId = -1

  /** Counters since the last call; call after draining the listener bus. */
  def take(): Counters = synchronized { val r = c; c = new Counters; r }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("exec")
    e.stageIds.foreach(stagePhase(_) = phase)
    c.jobs += 1
    if (phase == "build") c.buildJobs += 1
    jobStart(e.jobId) = (e.time, spanParent, opId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, parent, op) =>
      tracer.external("exec.job", t, e.time, parent, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c.stages += 1; stagePhase.remove(e.stageInfo.stageId) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      if (stagePhase.get(e.stageId).contains("build"))
        c.buildInput += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val (fallback, wscg) = Probe.planCounts(qe.executedPlan)
    synchronized {
      c.queryExecutions += 1
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.codegenFallback += fallback
      c.wscgStages += wscg
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { c.queryExecutions += 1 }
}

object Probe {
  /** (CodegenFallback expression nodes, whole-stage-codegen stages) in an
    * executed plan, looking through adaptive plans, query stages and
    * command wrappers; reused exchanges are counted once, where built.
    */
  def planCounts(root: SparkPlan): (Long, Long) = {
    var fallback = 0L
    var wscg = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: CommandResultExec => walk(r.commandPhysicalPlan)
      case _: ReusedExchangeExec => ()
      case other =>
        if (other.isInstanceOf[WholeStageCodegenExec]) wscg += 1
        other.expressions.foreach(_.foreach {
          case _: CodegenFallback => fallback += 1
          case _ => ()
        })
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    (fallback, wscg)
  }
}
