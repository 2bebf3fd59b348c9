package graft

import graft.oracle.Registry
import graft.ops.ScaleGuard
import org.apache.spark.sql.functions._

/** The r17 size gates (verdict What's-wrong #2/#3): forced broadcasts
  * and single-partition window folds in the iterative loops degrade to
  * shuffle joins / 1-row-census crossJoins past a measured byte cap —
  * and the fallback arms compute IDENTICAL results. */
class ScaleGuardSpec extends SparkSpec {

  private def withCap[A](cap: Long)(body: => A): A = {
    spark.conf.set(ScaleGuard.MaxBytesKey, cap.toString)
    try body finally spark.conf.unset(ScaleGuard.MaxBytesKey)
  }

  test("materializedBytes reads a checkpointed frame's blocks without a job; plain frames are unmeasurable") {
    import spark.implicits._
    val df = (1 to 1000).toDF("x").localCheckpoint()
    val bytes = ScaleGuard.materializedBytes(df)
    assert(bytes.exists(_ > 0), s"checkpointed frame should be measurable: $bytes")
    assert(ScaleGuard.materializedBytes((1 to 10).toDF("x")).isEmpty,
      "an unmaterialized plan must not pretend to a size")
  }

  test("materializedBytes sees a fresh checkpoint while the status listener lags") {
    import spark.implicits._
    // hold the appStatus listener queue at the checkpoint job's start: the
    // block updates that would feed the status store queue up behind it
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    org.apache.spark.graft.StatusQueue.add(spark.sparkContext, slow)
    try {
      val df = (1 to 1000).toDF("x").localCheckpoint()
      val bytes = ScaleGuard.materializedBytes(df)
      assert(bytes.exists(_ > 0),
        s"a checkpointed frame must measure before the listener bus catches up: $bytes")
      withCap(1L)(assert(!ScaleGuard.fits(df), "measured bytes above a 1-byte cap"))
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("a plan over two checkpointed frames measures as the larger one") {
    import spark.implicits._
    val small = (1 to 100).toDF("x").localCheckpoint()
    val big = (1 to 100000).toDF("y").localCheckpoint()
    def measured(df: org.apache.spark.sql.DataFrame): Long =
      ScaleGuard.materializedBytes(df).getOrElse(fail("a checkpointed frame must measure"))
    val (s, b) = (measured(small), measured(big))
    assert(s < b, s"small $s, big $b")
    // the small frame comes first in the plan's pre-order
    val joined = small.join(big, $"x" === $"y")
    assert(ScaleGuard.materializedBytes(joined).contains(b))
    withCap((s + b) / 2) {
      assert(ScaleGuard.fits(small))
      assert(!ScaleGuard.fits(joined), "the big side exceeds the cap: the join must take the fallback arm")
      assert(!ScaleGuard.gatedBroadcast(joined).queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty)
    }
  }

  test("gatedBroadcast hints under the cap and falls back above it") {
    import spark.implicits._
    val df = (1 to 1000).toDF("x").localCheckpoint()
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hinted(ScaleGuard.gatedBroadcast(df)), "under the default cap: broadcast")
    withCap(0L) {
      assert(!hinted(ScaleGuard.gatedBroadcast(df)), "cap 0 forces the shuffle fallback")
    }
    withCap(1L) {
      assert(!hinted(ScaleGuard.gatedBroadcast(df)), "measured bytes above a 1-byte cap")
    }
  }

  test("fallback arms engage on an oversized node table and compute identical results") {
    // cap 0 ⇒ every gate chooses the shuffle join + checkpointed
    // 1-row-census shape; the iterative queries' results must not move.
    val names = Seq("q156_spectral_embed", "q38_dedup_clusters",
      "q139_pagerank", "q142_pagerank_full", "q163_spectral_delta")
    names.foreach { n =>
      val q = Registry.byName(n)
      val expect = q.run(spark, sf0001).orderBy(lit(1)).collect().toSeq.sortBy(_.toString)
      graft.oracle.Tables.releasePersisted(); spark.catalog.clearCache()
      val got = withCap(0L) {
        q.run(spark, sf0001).orderBy(lit(1)).collect().toSeq.sortBy(_.toString)
      }
      graft.oracle.Tables.releasePersisted(); spark.catalog.clearCache()
      assert(got == expect, s"$n: fallback arm diverged")
    }
  }

  test("under cap 0 the spectral round join is NOT broadcast (the gate really engages)") {
    val pmi = Registry.byName("q155_walk_pmi").run(spark, sf0001)
    val guarded = withCap(0L) {
      graft.ops.SpectralEmbed.spectralOf(pmi)
    }
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"cap 0 must degrade the round join to a shuffle join:\n$plan")
    graft.oracle.Tables.releasePersisted(); spark.catalog.clearCache()
  }
}
