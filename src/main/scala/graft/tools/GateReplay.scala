package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.oracle.Tables
import graft.ops.DlqRoute
import graft.streaming.LateDlq
import graft.streaming.TransitionGate.ItemEvent

/** Streaming-gate throughput replay (r14 verdict Next #4): the bench's
  * `replay_sec` times only the reference 4-stage pipeline, so a
  * throughput regression in the maintenance arc's streaming face — the
  * transformWithState frontier gate ([[graft.streaming.LateDlq]]) — was
  * invisible to the artifact. This
  * replays the WHOLE item-event corpus of an sfDir through the DLQ gate
  * under the q172 arrival model (shard width scaled so the replay runs a
  * fixed number of micro-batches regardless of SF; the late cohort
  * delayed across shard boundaries so both lanes exercise) and reports
  * events/s plus the lane census.
  *
  * What is timed: ONLY the streaming loop (addData →
  * processAllAvailable over every shard) — the arrival-model batch
  * prep and the driver-side shard collect happen before the clock
  * starts, so the number is the gate's, not the fixture's. Lane counts
  * ride the same foreachBatch sink, letting Bench assert the replay
  * actually routed (kept > 0, late > 0) without a second pass. */
object GateReplay {

  final case class GateCounts(events: Long, transitions: Long, late: Long,
                              sec: Double) {
    def eventsPerSec: Double = if (sec > 0) events / sec else 0.0
  }

  /** Replay `sfDir`'s item events through [[LateDlq.routedOf]] in
    * `shards` arrival micro-batches. */
  def run(spark: SparkSession, sfDir: String, shards: Int = 10): GateCounts = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.table(spark, sfDir, "events")
    val maxId = Tables.swapPersist("gate_replay_e",
        graft.ops.CensusDelta.prep(ev, Tables.tsMicros(ev)))
      .agg(max(col("event_id"))).head().getLong(0)
    // shard width ~ corpus/shards → a FIXED micro-batch count at any SF
    // (micro-batch scheduling otherwise dominates and the number stops
    // measuring the gate); delay 2 shards keeps the late cohort inside
    // the replay window
    val bucket = math.max(1L, maxId / shards + 1L)
    // BENCH-HARNESS-ONLY collect: MemoryStream is driver-fed by
    // definition, so the replay stages the corpus's item events on the
    // driver (~100k rows at sf0.1). Production never does this — the
    // gate reads Kafka/files executor-side (io/IO.scala); this tool
    // exists to TIME the gate, not to model its ingestion.
    val arrivals = DlqRoute
      .routedOf(ev, Tables.tsMicros(ev), bucket = bucket, delay = 2L)
      .select(col("ab"), col("user_id"), col("event_id"), col("item"), col("t"))
      .collect()
      .map(r => (r.getLong(0), ItemEvent(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(_._2) }
    graft.oracle.Tables.releasePersisted()
    val nEvents = arrivals.iterator.map(_.length.toLong).sum

    // transformWithState requires the multi-column-family store —
    // RocksDB, which is also the production provider the throughput
    // number should price in
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // r16 optimization (guide §2.2, scale-dependent setting parameterised
    // per the brief's rule): the stateful operator's shuffle-partition
    // count fixes the RocksDB state-store count for the stream's
    // lifetime; at the session default (=cpu count) every micro-batch
    // pays that many state-store task open/commit cycles for ~10k events
    // — pure fixed cost at fixture scale. Local default 8 keeps real
    // parallelism; production sizes SPARK_GRAFT_GATE_PARTITIONS to the
    // expected keyed-state volume (the count is pinned at the first
    // checkpoint, so it is a deployment choice, not a hot knob). Work is
    // unchanged — Bench asserts the lane counts are byte-identical
    // across runs either way.
    val partKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.getOption(partKey)
    spark.conf.set(partKey,
      sys.env.getOrElse("SPARK_GRAFT_GATE_PARTITIONS", "8"))

    val transitions = new java.util.concurrent.atomic.AtomicLong()
    val late = new java.util.concurrent.atomic.AtomicLong()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ItemEvent]
    val q = LateDlq.routedOf(stream.toDS())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[LateDlq.Routed], _: Long) =>
        batch.groupBy(col("kind")).count().collect().foreach { r =>
          if (r.getString(0) == "late") late.addAndGet(r.getLong(1))
          else transitions.addAndGet(r.getLong(1))
        }
      }
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_gate_replay").toString)
      .start()
    val t0 = System.nanoTime()
    try {
      arrivals.foreach { shard =>
        stream.addData(shard: _*)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      prevParts match {
        case Some(v) => spark.conf.set(partKey, v)
        case None => spark.conf.unset(partKey)
      }
    }
    GateCounts(nEvents, transitions.get(), late.get(),
      (System.nanoTime() - t0) / 1e9)
  }
}
