package graft

import graft.ops.{DlqRoute, LateRepair, PageRankDelta}
import graft.oracle.Tables
import graft.streaming.LateDlq
import graft.streaming.LateDlq.Routed
import graft.streaming.TransitionGate.ItemEvent
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The DLQ gate: late events routed to a side lane instead of corrupting
  * the frontier, and the loop-closing identity — gate census + batch
  * repair over the DLQ lane == the monolithic census — pinned on the
  * real corpus under the q172 arrival model, across a restart. */
class LateDlqSpec extends SparkSpec {

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
    import scala.jdk.CollectionConverters._
    def census: Map[(Long, Long), Long] =
      buf.asScala.filter(_.kind == "transition").toSeq
        .groupBy(r => (r.src, r.dst)).map { case (k, v) => k -> v.size.toLong }
    def dlq: Set[Long] =
      buf.asScala.filter(_.kind == "late").map(_.event_id).toSet
    def dlqEvents: Seq[ItemEvent] =
      buf.asScala.filter(_.kind == "late")
        .map(r => ItemEvent(r.user_id, r.event_id, r.item, r.t)).toSeq
  }

  /** The corpus under the q172 arrival model — sf0.001-sized shards
    * (the 1000-id default yields only two shards on 1000 events). */
  private def routedEvents: Seq[(Long, ItemEvent, Boolean)] = {
    val ev = Tables.table(spark, sf0001, "events")
    DlqRoute.routedOf(ev, Tables.tsMicros(ev), bucket = 100L, delay = 3L)
      .select(col("ab"), col("user_id"), col("event_id"), col("item"),
        col("t"), col("late"))
      .collect()
      .map(r => (r.getLong(0),
        ItemEvent(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
        r.getBoolean(5))).toSeq
  }

  private def fullCensus: Map[(Long, Long), Long] = {
    val ev = Tables.table(spark, sf0001, "events")
    PageRankDelta.fullDirectedCensusOf(ev, Tables.tsMicros(ev))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("hand fixture: a late arrival is DLQ'd, the frontier stands, no wrong transition") {
    withRocksDB {
      import spark.implicits._
      val stream = MemoryStream[ItemEvent]
      val coll = new Collector
      val q = coll.sinkOf(LateDlq.routedOf(stream.toDS()),
        java.nio.file.Files.createTempDirectory("graft_dlq_hand").toString)
      try {
        // batch 1: user 1 chain a(t=1000) → b(t=3000)
        stream.addData(ItemEvent(1L, 10L, 7L, 1000L), ItemEvent(1L, 12L, 9L, 3000L))
        q.processAllAvailable()
        // batch 2: x(t=2000) arrives late (belongs between a and b) and a
        // genuine successor c(t=4000)
        stream.addData(ItemEvent(1L, 11L, 8L, 2000L), ItemEvent(1L, 13L, 5L, 4000L))
        q.processAllAvailable()
      } finally q.stop()
      assert(coll.dlq == Set(11L), s"late event not DLQ'd: ${coll.dlq}")
      // transitions: a→b from batch 1, b→c from batch 2 — and NOT b→x
      assert(coll.census == Map((7L, 9L) -> 1L, (9L, 5L) -> 1L),
        s"gate census corrupted by the late arrival: ${coll.census}")
    }
  }

  test("corpus: DLQ lane == the batch model's late set; kept census == lag census over kept") {
    withRocksDB {
      val routed = routedEvents
      val modelLate = routed.filter(_._3).map(_._2.event_id).toSet
      assert(modelLate.nonEmpty, "arrival model produced no late events — no teeth")
      val coll = new Collector
      import spark.implicits._
      val stream = MemoryStream[ItemEvent]
      val q = coll.sinkOf(LateDlq.routedOf(stream.toDS()),
        java.nio.file.Files.createTempDirectory("graft_dlq_corpus").toString)
      try {
        routed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, shard) =>
          stream.addData(shard.map(_._2): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(coll.dlq == modelLate,
        s"gate lane diverged from the batch model: sizes ${coll.dlq.size} vs ${modelLate.size}")
      val keptCensus = {
        val kept = routed.filterNot(_._3).map(_._2).toDF()
        PageRankDelta.directedCensusOf(kept)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      assert(coll.census == keptCensus,
        s"gate kept-census != lag census over kept; sizes ${coll.census.size} vs ${keptCensus.size}")
    }
  }

  test("tie contract enforced: the fixture has no per-user duplicate event time at the spec'd SFs") {
    // DlqRoute's batch late model flags on strict t only, while the gate
    // breaks hypothetical equal-t ties by event_id. The two lanes agree
    // BECAUSE the fixture never produces a per-user duplicate t at the
    // item-event grain — a documented contract that was unenforced (r14
    // advice): a regenerated fixture with duplicate (user_id, t) would
    // silently diverge the gate lane from the batch model. Pin it at the
    // SFs the specs and the driver's correctness gate actually run.
    // (sf0.1 is covered operationally: the same prep feeds every rolled
    // census the bench drives there, and ChainProbe records it.)
    Seq(sf0001, "/root/testdata/sf0.01").foreach { dir =>
      val ev = Tables.table(spark, dir, "events")
      val dup = graft.ops.CensusDelta.prep(ev, Tables.tsMicros(ev))
        .groupBy(col("user_id"), col("t")).count()
        .filter(col("count") > 1).limit(1).collect()
      assert(dup.isEmpty,
        s"$dir: per-user duplicate t at the item-event grain — the DLQ " +
          s"batch model's strict-t lateness no longer matches the gate's " +
          s"(t, event_id) tie-break: ${dup.toSeq}")
    }
  }

  test("q175 drain ledger: both drains contribute and the sequential repair lands on the monolithic census") {
    val rows = graft.oracle.Registry.byName("q175_drain_ledger")
      .run(spark, sf0001).collect()
    // teeth: each drain must move SOMETHING, else sequential composition
    // was never exercised
    assert(rows.exists(_.getLong(3) != 0), "drain 1 vacuous")
    assert(rows.exists(_.getLong(4) != 0), "drain 2 vacuous")
    // and at least one pair is touched by BOTH drains or deleted-then-
    // restored shapes exist — the composition is not two disjoint patches
    val w = rows.filter(_.getLong(2) != 0)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w == fullCensus,
      s"sequential drains != monolithic; sizes ${w.size} vs ${fullCensus.size}")
  }

  test("the loop closes: gate census + repair over the gate's own DLQ == monolithic census, across a restart") {
    withRocksDB {
      import spark.implicits._
      val routed = routedEvents
      val shards = routed.groupBy(_._1).toSeq.sortBy(_._1)
      assert(shards.size > 2, "need several arrival shards")
      val (firstHalf, secondHalf) = shards.splitAt(shards.size / 2)

      val ckpt = java.nio.file.Files.createTempDirectory("graft_dlq_rs").toString
      val coll = new Collector
      val stream = MemoryStream[ItemEvent]
      val q1 = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
      try {
        firstHalf.foreach { case (_, shard) =>
          stream.addData(shard.map(_._2): _*); q1.processAllAvailable()
        }
      } finally q1.stop()
      // crash: the only copy of every user's frontier is the checkpoint
      secondHalf.foreach { case (_, shard) => stream.addData(shard.map(_._2): _*) }
      val q2 = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
      try q2.processAllAvailable() finally q2.stop()

      // the repair consumes the GATE's own DLQ lane (end-to-end: nothing
      // re-derives lateness batch-side) against the kept corpus
      val dlqDf = coll.dlqEvents.toDF()
      val dlqIds = coll.dlq
      val keptDf = routed.map(_._2).filterNot(e => dlqIds.contains(e.event_id)).toDF()
      val corr = LateRepair.correctionOf(keptDf, dlqDf)
      val repaired = LateRepair.applyTo(
          coll.census.toSeq.map { case ((s, d), w) => (s, d, w) }.toDF("src", "dst", "w"),
          corr)
        .filter(col("w") =!= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(repaired == fullCensus,
        s"repaired census != monolithic; sizes ${repaired.size} vs ${fullCensus.size}")
    }
  }
}
