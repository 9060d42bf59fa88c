package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Spark jobs `body` starts. */
  def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    n.get
  }

  /** Stages `body` completes, in completion order. */
  def stages(body: => Unit): Seq[StageInfo] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = done.add(e.stageInfo)
    })(body)
    done.asScala.toSeq
  }

  /** Runs `body` with `l` attached; `l` sees every event `body` posts. */
  private def listening(l: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerBus.drain(sc) }
    finally sc.removeSparkListener(l)
  }
}
