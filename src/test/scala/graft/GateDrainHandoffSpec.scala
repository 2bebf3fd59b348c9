package graft

import graft.ops.{ArtifactStore, ChainDrains, LateRepair, PageRankDelta, RollingRefresh}
import graft.oracle.Tables
import graft.streaming.LateDlq
import graft.streaming.LateDlq.Routed
import graft.streaming.TransitionGate.ItemEvent
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming-gate ↔ batch-drain HANDOFF as one timeline (r15
  * verdict Next #4): LateDlqSpec pins the loop identity across a
  * restart and ChainDrainsSpec pins the batch chain through the
  * artifact store — this spec runs the full production cadence that
  * composes them: checkpointed gate consumes a day → STOP → the
  * nightly drain lands the gate's OWN banked DLQ lane into the census
  * ARTIFACT (read artifact, roll the gate's transition lane, apply the
  * correction, commit under the next cycle's fingerprint) → the gate
  * RESUMES from the SAME checkpoint and the next day's lanes are
  * judged against the carried frontier state. Pinned per handoff:
  *
  *   1. the resumed gate's routing equals the batch arrival model's
  *      (the carried frontier is behaviorally exact after every
  *      stop/drain/resume), and at the end the frontier is probed
  *      DIRECTLY per user and equals the batch-replayed frontier;
  *   2. the drained artifact equals the MONOLITHIC settled census at
  *      every handoff, and the pre-drain fingerprint reads stale.
  *
  * The gate's day-k transition lane already CONTAINS the straddle
  * transitions (the checkpointed frontier carries across the day cut),
  * so the artifact roll is artifact + gate lane — no batch-side
  * straddle reconstruction — which is exactly what makes the handoff
  * production-shaped: the nightly job needs the store, the gate's two
  * lanes, and the settled event log for the selective fetch; never a
  * re-derivation of lateness. */
class GateDrainHandoffSpec extends SparkSpec {

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
    def transitions: Seq[Routed] = buf.asScala.filter(_.kind == "transition").toSeq
    def censusMap: Map[(Long, Long), Long] =
      transitions.groupBy(r => (r.src, r.dst)).map { case (k, v) => k -> v.size.toLong }
    def dlqEvents: Seq[ItemEvent] =
      buf.asScala.filter(_.kind == "late")
        .map(r => ItemEvent(r.user_id, r.event_id, r.item, r.t)).toSeq
  }

  private def censusMapOf(df: DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("gate -> stop -> artifact drain -> resume SAME checkpoint: lanes stay batch-exact, artifact == monolithic at every handoff, frontier probe matches") {
    withRocksDB {
      import spark.implicits._
      val ev = Tables.table(spark, sf0001, "events")
      val cuts = RollingRefresh.dailyCuts(3)
      // lateMod 3 (not the corpus default 47): the spec's 3 daily shards
      // carry only ~34/23/40 events at sf0.001, and the default cohort
      // density leaves day 1 with ZERO late arrivals — every handoff
      // must exercise both lanes or the resume assertions are vacuous
      // (probed: 5/2/9 late per day at mod 3)
      val routed = ChainDrains.routedByDay(ev, Tables.tsMicros(ev), cuts, lateMod = 3L)
        .select(col("day"), col("ab"), col("user_id"), col("event_id"),
          col("item"), col("t"), col("late"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1),
          ItemEvent(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)),
          r.getBoolean(6))).toSeq
      graft.oracle.Tables.releasePersisted()
      val byDay = routed.groupBy(_._1)
      (1 to 3).foreach(k => assert(byDay(k).exists(_._4), s"day $k has no late events — no teeth"))

      val base = java.nio.file.Files.createTempDirectory("graft_handoff_store").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_handoff_ckpt").toString
      val stream = MemoryStream[ItemEvent]

      def runDay(day: Int): Collector = {
        val coll = new Collector
        val q = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
        try {
          byDay(day).groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, shard) =>
            stream.addData(shard.map(_._3): _*)
            q.processAllAvailable()
          }
        } finally q.stop() // the nightly stop: state survives ONLY in the checkpoint
        coll
      }
      def commitCensus(fp: String, census: DataFrame): String = {
        val dir = ArtifactStore.versionDir(base, fp)
        ArtifactStore.beginFit(base)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        census.write.mode("overwrite").parquet(s"$dir/census")
        ArtifactStore.commitFit(base, fp)
        dir
      }

      // ---- day 0: the settled bootstrap through the gate, censused into
      // the store. Settled means IN ORDER — the arrival model applies to
      // arriving days only (routedByDay pins day-0 late = false); feeding
      // day 0 through the ab shards would re-impose the delay cohort on
      // data that already settled, so it rides one ordered batch.
      val c0 = {
        val coll = new Collector
        val q = coll.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
        try {
          stream.addData(byDay(0).map(_._3).sortBy(e => (e.t, e.event_id)): _*)
          q.processAllAvailable()
        } finally q.stop()
        coll
      }
      assert(c0.dlqEvents.isEmpty, "day 0 is settled by construction")
      var fp = "cycle0"
      var dir = commitCensus(fp,
        c0.transitions.map(r => (r.src, r.dst, 1L)).toDF("src", "dst", "w")
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
      val settledCensus = censusMapOf(PageRankDelta.directedCensusOf(
        byDay(0).map(_._3).toDF()))
      assert(censusMapOf(spark.read.parquet(s"$dir/census")) == settledCensus,
        "the gate's day-0 lane must census to the settled census")

      // ---- days 1..3: resume, route, stop, drain THROUGH the store
      (1 to 3).foreach { k =>
        val ck = runDay(k) // resumed from the SAME checkpoint
        // (1) the carried frontier is behaviorally exact: the resumed
        // gate's DLQ lane == the batch arrival model's day-k late set
        val modelLate = byDay(k).filter(_._4).map(_._3.event_id).toSet
        assert(ck.dlqEvents.map(_.event_id).toSet == modelLate,
          s"day $k after resume: gate lane diverged from the batch model " +
            s"(${ck.dlqEvents.size} vs ${modelLate.size})")
        // nightly drain: artifact + the gate's OWN lanes (transition lane
        // already carries the straddle — the checkpointed frontier crossed
        // the cut with us)
        val prevFp = fp
        val csArt = spark.read.parquet(s"$dir/census")
        val mPre = csArt
          .unionByName(ck.transitions.map(r => (r.src, r.dst, 1L)).toDF("src", "dst", "w")
            .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        val settledPre = routed
          .filter(r => r._1 < k || (r._1 == k && !r._4)).map(_._3).toDF()
        val corr = LateRepair.correctionOf(settledPre, ck.dlqEvents.toDF())
        val m = LateRepair.applyTo(mPre, corr)
          .filter(col("w") =!= 0).select(col("src"), col("dst"), col("w"))
        fp = s"cycle$k"
        dir = commitCensus(fp, m)
        assert(!ArtifactStore.isFresh(base, prevFp),
          s"day $k: pre-drain fingerprint must read STALE after the commit")
        // (2) the drained artifact == the monolithic settled census at
        // this handoff (everything arrived by day k, recomputed cold)
        val mono = censusMapOf(PageRankDelta.directedCensusOf(
          routed.filter(_._1 <= k).map(_._3).toDF()))
        assert(censusMapOf(spark.read.parquet(s"$dir/census")) == mono,
          s"day $k: drained artifact != monolithic settled census")
      }

      // ---- direct frontier probe: one synthetic max-t event per user;
      // the emitted transition's src IS the gate's frontier item
      val allEvents = routed.map(_._3)
      val tMax = allEvents.map(_.t).max
      val users = allEvents.map(_.user_id).distinct.sorted
      val probe = new Collector
      val qp = probe.sinkOf(LateDlq.routedOf(stream.toDS()), ckpt)
      try {
        stream.addData(users.map(u =>
          ItemEvent(u, 50_000_000L + u, 888888L, tMax + 1_000_000L)): _*)
        qp.processAllAvailable()
      } finally qp.stop()
      val gateFrontier = probe.transitions.map(r => r.user_id -> r.src).toMap
      val batchFrontier = graft.ops.Frontier.lastOf(allEvents.toDF())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // users whose frontier item happens to equal the probe item emit no
      // transition — impossible here (888888 is not a corpus item)
      assert(gateFrontier == batchFrontier,
        s"probed gate frontier != batch-replayed frontier " +
          s"(${gateFrontier.size} vs ${batchFrontier.size} users)")
      graft.oracle.Tables.releasePersisted()
    }
  }
}
