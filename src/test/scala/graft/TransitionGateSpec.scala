package graft

import graft.ops.{Frontier, PageRankDelta}
import graft.oracle.Tables
import graft.streaming.LateDlq
import graft.streaming.LateDlq.Routed
import graft.streaming.TransitionGate.ItemEvent
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming ingestion face of the incremental-maintenance arc:
  * per-user frontier as transformWithState state, arriving events
  * emitting on [[LateDlq.routedOf]]'s `transition` lane exactly the
  * transitions whose (src, dst) fold is the directed census. Every input
  * here arrives in order, so the `late` lane must stay empty. Pinned against the BATCH decomposition q154 proved
  * (settled + delta + straddle ≡ full), on the real fixture corpus, and
  * across a crash between the settled and delta batches — the frontier
  * IS the checkpointed state, so state loss drops every straddle
  * transition and cannot pass. */
class TransitionGateSpec extends SparkSpec {

  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def withRocksDB[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private class Collector {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Routed]()
    def sinkOf(ds: Dataset[Routed], ckpt: String): StreamingQuery =
      ds.writeStream
        .foreachBatch((batch: Dataset[Routed], _: Long) =>
          batch.collect().foreach(buf.add))
        .outputMode("update").option("checkpointLocation", ckpt).start()
    private def lane(kind: String): Seq[Routed] = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.filter(_.kind == kind)
    }
    /** The folded transition lane; asserts nothing went to the late lane. */
    def census: Map[(Long, Long), Long] = {
      assert(lane("late").isEmpty, s"in-order input routed late: ${lane("late").take(5)}")
      lane("transition").groupBy(t => (t.src, t.dst))
        .map { case (k, v) => k -> v.size.toLong }
    }
  }

  /** The fixture's item events (CensusDelta's prep grain). */
  private def itemEvents: Seq[ItemEvent] = {
    val ev = Tables.table(spark, sf0001, "events")
    import spark.implicits._
    ev.select(col("user_id"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        Tables.tsMicros(ev).as("t"))
      .filter(col("item").isNotNull)
      .as[ItemEvent].collect().toSeq
  }

  /** The batch truth: the monolithic directed census of the corpus. */
  private def batchCensus: Map[(Long, Long), Long] = {
    val ev = Tables.table(spark, sf0001, "events")
    PageRankDelta.fullDirectedCensusOf(ev, Tables.tsMicros(ev))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  private val cut = graft.ops.SpectralDelta.DeltaCutUs

  test("hand fixture: chain opens silently, self-loops advance but don't emit") {
    withRocksDB {
      import spark.implicits._
      val stream = MemoryStream[ItemEvent]
      val col = new Collector
      val q = col.sinkOf(LateDlq.routedOf(stream.toDS()),
        java.nio.file.Files.createTempDirectory("graft_gate_hand").toString)
      try {
        // user 1: a, a, b  → only a→b (the self-loop advances the chain)
        // user 2: c        → nothing (chain just opened)
        stream.addData(
          ItemEvent(1L, 10L, 7L, 1000L), ItemEvent(1L, 11L, 7L, 2000L),
          ItemEvent(1L, 12L, 9L, 3000L), ItemEvent(2L, 20L, 3L, 1500L))
        q.processAllAvailable()
      } finally q.stop()
      assert(col.census == Map((7L, 9L) -> 1L), s"got ${col.census}")
    }
  }

  test("gate census over (settled batch, delta batch) == the monolithic batch census") {
    withRocksDB {
      import spark.implicits._
      val events = itemEvents
      val (settled, delta) = events.partition(_.t < cut)
      assert(settled.nonEmpty && delta.nonEmpty, "cut must split the corpus")
      val stream = MemoryStream[ItemEvent]
      val col = new Collector
      val q = col.sinkOf(LateDlq.routedOf(stream.toDS()),
        java.nio.file.Files.createTempDirectory("graft_gate_sb").toString)
      try {
        stream.addData(settled: _*); q.processAllAvailable()
        stream.addData(delta: _*); q.processAllAvailable()
      } finally q.stop()
      assert(col.census == batchCensus,
        s"gate census diverged from the batch census; " +
          s"sizes ${col.census.size} vs ${batchCensus.size}")
    }
  }

  test("gate composes with the artifact store: the delta batch's fold IS q167's delta+straddle census") {
    withRocksDB {
      import spark.implicits._
      // the production composition (r13 verdict Next #8): the gate runs
      // continuously; the settled corpus fitted q167's artifacts; today's
      // recurring refresh should consume the gate's FOLDED DELTA CENSUS
      // instead of re-lagging the delta shard. That works iff the gate's
      // delta-batch emissions fold to exactly cd + cb — the delta lag
      // census PLUS the frontier-join straddle census the batch path
      // computes (the first post-cut event of each user emits the
      // straddle from the gate's carried frontier by construction).
      val events = itemEvents
      val (settled, delta) = events.partition(_.t < cut)
      val stream = MemoryStream[ItemEvent]
      val preCol = new Collector
      val q = preCol.sinkOf(LateDlq.routedOf(stream.toDS()),
        java.nio.file.Files.createTempDirectory("graft_gate_art").toString)
      val settledCensus =
        try {
          stream.addData(settled: _*); q.processAllAvailable()
          val afterSettled = preCol.census
          stream.addData(delta: _*); q.processAllAvailable()
          afterSettled
        } finally q.stop()
      // delta-batch fold = total − settled-batch fold (counts per key)
      val deltaFold = preCol.census.map { case (k, n) =>
        k -> (n - settledCensus.getOrElse(k, 0L)) }.filter(_._2 != 0L)

      // the batch path's cd + cb over the same cut
      val sDf = settled.toDF(); val dDf = delta.toDF()
      val cd = PageRankDelta.directedCensusOf(dDf)
      val cb = Frontier.straddleOf(sDf, dDf)
        .filter(col("s_item") =!= col("d_item"))
        .groupBy(col("s_item").as("src"), col("d_item").as("dst"))
        .agg(count(lit(1)).as("w"))
      val batchDelta = cd.unionByName(cb)
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(deltaFold == batchDelta,
        s"gate delta fold != cd+cb; sizes ${deltaFold.size} vs ${batchDelta.size}")
      // and therefore merged = settled census + gate fold == the
      // monolithic census — the exact frame q167's warm arms consume
      val merged = (settledCensus.keySet ++ deltaFold.keySet).map { k =>
        k -> (settledCensus.getOrElse(k, 0L) + deltaFold.getOrElse(k, 0L)) }
        .filter(_._2 != 0L).toMap
      assert(merged == batchCensus, "settled census + gate fold != monolithic")
    }
  }

  test("restart between batches: the frontier survives the crash (straddles intact)") {
    withRocksDB {
      import spark.implicits._
      val events = itemEvents
      val (settled, delta) = events.partition(_.t < cut)
      // teeth: the cut must produce straddle transitions, else a gate
      // that lost all state between batches would pass trivially
      val sDf = settled.toDF(); val dDf = delta.toDF()
      val straddles = Frontier.straddleOf(sDf, dDf)
        .filter(col("s_item") =!= col("d_item")).count()
      assert(straddles > 0, "cut produced no straddle transitions — no teeth")

      val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_rs").toString
      val stream = MemoryStream[ItemEvent]
      val coll = new Collector
      val q1 = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
      try { stream.addData(settled: _*); q1.processAllAvailable() } finally q1.stop()

      // crash: the ONLY copy of every user's last settled item is the
      // checkpointed frontier. Restart and feed the delta.
      stream.addData(delta: _*)
      val q2 = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
      try q2.processAllAvailable() finally q2.stop()

      assert(coll.census == batchCensus,
        "restarted gate census diverged — frontier state was not recovered")
    }
  }
}
