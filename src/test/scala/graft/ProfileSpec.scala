package graft

import org.apache.spark.graft.BusListeners
import graft.core.Profile

/** [[Profile]] drains the listener bus on both sides of its body, so it
  * counts exactly the body's work even when events reach it late. */
class ProfileSpec extends SparkSpec {

  test("under a lagging bus, every job, stage and task of the body is counted") {
    lagging(200) {
      val (n, p) = Profile.of(spark)(spark.sparkContext.parallelize(1 to 100, 4).count())
      assert(n == 100)
      assert((p.jobs, p.stages.map(_.numTasks), p.tasks.size) == (1, Seq(4), 4))
    }
  }

  test("a job that finished before `of` is not counted") {
    lagging(500) {
      // six stage completions at 500 ms each: most of these jobs' events
      // are still queued when the last job returns
      (1 to 3).foreach(_ =>
        spark.sparkContext.parallelize(1 to 100, 4).map(i => (i % 3, i)).reduceByKey(_ + _).count())
      val (_, p) = Profile.of(spark)(())
      assert((p.jobs, p.stages.size, p.tasks.size) == (0, 0, 0))
    }
  }

  test("a body that throws rethrows and leaves the bus's listener count unchanged") {
    val sc = spark.sparkContext
    val before = BusListeners.count(sc)
    val e = intercept[IllegalStateException] {
      Profile.of(spark)(throw new IllegalStateException("body failed"))
    }
    assert(e.getMessage == "body failed")
    assert(BusListeners.count(sc) == before)
  }
}
