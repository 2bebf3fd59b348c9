package graft.oracle

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT eager constructions (guide §2.6 "Overlap
  * independent jobs"): Spark happily runs several jobs at once inside
  * one application — iterative operators here are only sequential
  * because the driver code calls their eager actions (localCheckpoint
  * per round, census collects) one after another. Where two chains
  * share no data dependency (a warm arm and its cold audit, the rank
  * and spectral arms of a refresh cycle), running one on a helper
  * thread lets its jobs back-fill the executor slots the other chain's
  * stage tails leave idle — and, just as important at fixture scale,
  * overlaps the per-job DRIVER cost (planning, codegen) that JobProfile
  * measured as ~40 ms/job of serial gap.
  *
  * The helper thread is created AT CALL TIME, so Spark's inheritable
  * thread-locals (job group, description) propagate — cancellation and
  * UI attribution behave as if the work ran inline. Its jobs also carry
  * a per-call job tag: when the caller's side `b` throws, the helper's
  * jobs are cancelled and the helper is awaited before the exception
  * rethrows, so no job of a failed query runs on after it, and the
  * helper's own failure rides along as a suppressed exception. A failure
  * of `a` rethrows once `b` has finished. */
object Par {

  /** Evaluate `a` on a fresh thread while `b` runs on the caller;
    * returns both. Use ONLY for sides with no mutual data dependency. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val fa = new FutureTask[A](() => a)
    val tag = s"graft-par-${System.identityHashCode(fa)}"
    val t = new Thread(() => { sc.foreach(_.addJobTag(tag)); fa.run() }, tag)
    t.setDaemon(true)
    t.start()
    val rb =
      try b
      catch {
        case e: Throwable =>
          // cancel until the helper is done: a job it submits between
          // one cancel and its exit is caught by the next
          while (!fa.isDone) {
            sc.foreach(_.cancelJobsWithTag(tag, "the other Par.par2 arm failed"))
            try fa.get(100, TimeUnit.MILLISECONDS) catch { case _: Exception => () }
          }
          try fa.get() catch { case x: ExecutionException => e.addSuppressed(x.getCause) }
          throw e
      }
    try (fa.get(), rb)
    catch {
      case e: ExecutionException => throw e.getCause
    }
  }
}
