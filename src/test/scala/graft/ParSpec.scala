package graft

import graft.oracle.Par
import org.apache.spark.{SparkException, TaskContext}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Par.par2's failure path: when the caller's arm throws, the helper's
  * jobs must not run on after the call returns, and neither arm's failure
  * may be lost. */
class ParSpec extends SparkSpec {

  private def groupRunning(group: String): Boolean = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).exists(id =>
      st.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
  }

  test("a throwing caller arm cancels and awaits the helper's job") {
    val sc = spark.sparkContext
    val group = "par-spec-helper"
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.par2(
        {
          sc.setJobGroup(group, "helper arm")
          // each task would hold its slot for 60 s unless the job is cancelled
          sc.parallelize(1 to 4, 4).map { i =>
            val end = System.currentTimeMillis() + 60000
            while (System.currentTimeMillis() < end && !TaskContext.get().isInterrupted()) Thread.sleep(20)
            i
          }.count()
        },
        {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!groupRunning(group) && System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("caller arm failed")
        })
    }
    assert(err.getMessage == "caller arm failed")
    assert(err.getSuppressed.exists(_.isInstanceOf[SparkException]),
      s"helper's cancellation not attached: ${err.getSuppressed.toSeq}")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the helper ran to completion instead of being cancelled")
    // the status store is fed by the listener bus, which trails the scheduler
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    }
    assert(!groupRunning(group))
  }

  test("when both arms throw, the caller's failure carries the helper's") {
    val err = intercept[IllegalStateException] {
      Par.par2(
        throw new IllegalArgumentException("helper arm failed"),
        { Thread.sleep(200); throw new IllegalStateException("caller arm failed") })
    }
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("helper arm failed"))
  }

  test("a helper failure rethrows after the caller's arm completes") {
    var callerDone = false
    val err = intercept[IllegalArgumentException] {
      Par.par2(throw new IllegalArgumentException("helper arm failed"),
        { Thread.sleep(100); callerDone = true })
    }
    assert(err.getMessage == "helper arm failed" && callerDone)
  }
}
