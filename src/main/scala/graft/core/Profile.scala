package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What Spark ran while this listener was attached: the jobs started, the
  * completed stages (each `StageInfo` carries its tasks' summed
  * `taskMetrics`) and every ended task's `TaskMetrics`. The engine uses
  * only the DataFrame API, so the listener bus is its one view of
  * execution, and this is the one listener on it.
  *
  * Events are delivered asynchronously, after the action that posted them
  * returns. So [[Profile.of]] drains the bus before it attaches (no
  * earlier job lands here) and again before it detaches (every event of
  * the profiled work has arrived): nothing waits or polls.
  */
final class Profile private () extends SparkListener {
  private val jobIds = new ConcurrentLinkedQueue[Integer]()
  private val stageInfos = new ConcurrentLinkedQueue[StageInfo]()
  private val taskMetrics = new ConcurrentLinkedQueue[TaskMetrics]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobIds.add(e.jobId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageInfos.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) taskMetrics.add(e.taskMetrics)

  def jobs: Int = jobIds.size
  /** In completion order. */
  def stages: Seq[StageInfo] = stageInfos.asScala.toVector
  /** Of the ended tasks that reported metrics, in end order. */
  def tasks: Seq[TaskMetrics] = taskMetrics.asScala.toVector
}

object Profile {

  /** `body`'s result and what Spark ran for it. The profile is detached
    * even when `body` throws, and the exception is rethrown. */
  def of[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val p = new Profile()
    sc.addSparkListener(p)
    (try body finally try ListenerBus.drain(sc) finally sc.removeSparkListener(p), p)
  }
}
