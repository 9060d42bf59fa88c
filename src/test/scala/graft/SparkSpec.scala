package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import graft.core.Profile
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

  /** What Spark ran for `body`. */
  def profile(body: => Unit): Profile = Profile.of(spark)(body)._2

  /** Spark jobs `body` starts. */
  def jobs(body: => Unit): Int = profile(body).jobs

  /** Runs `body` with a listener on the bus's shared queue that takes
    * `ms` per stage completion, so every event queued behind one reaches
    * the other listeners late. */
  def lagging[T](ms: Long)(body: => T): T = {
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(ms)
    }
    spark.sparkContext.addSparkListener(slow)
    try body finally spark.sparkContext.removeSparkListener(slow)
  }
}
