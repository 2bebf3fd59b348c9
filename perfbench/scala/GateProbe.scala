package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.DlqRoute
import graft.oracle.Tables
import graft.streaming.LateDlq
import graft.streaming.TransitionGate.ItemEvent

/** The DLQ gate's layer probe: a closed-loop replay of the `events` corpus
  * through [[LateDlq.routedOf]] (transformWithState on RocksDB). The corpus
  * is cut into [[Shards]] arrival shards by the q172 arrival model
  * ([[DlqRoute.routedOf]], late cohort delayed by [[DelayShards]]); each
  * shard is one micro-batch, sent when the previous one has finished. The
  * gate shares `alerts_stream`'s streaming engine and state-store layer, so
  * a traced `alerts_stream` run replays it once with the listeners attached
  * ([[layerProbe]]) and checks its lanes against the batch route. */
final class GateProbe(sfDir: String) {

  val Shards = 10
  val DelayShards = 2L
  val BaselineShards = 3

  final case class Staged(shards: IndexedSeq[Array[ItemEvent]], bucket: Long)

  private def events(spark: SparkSession) = Tables.table(spark, sfDir, "events")

  /** The shards, in arrival order. */
  def stage(spark: SparkSession): Staged = {
    val ev = events(spark)
    val ts = Tables.tsMicros(ev)
    val maxId = DlqRoute.routedOf(ev, ts, bucket = 1L).agg(max(col("event_id"))).head().getLong(0)
    // shard width ~ corpus / Shards: a fixed micro-batch count at any sf
    val bucket = maxId / Shards + 1L
    val rows = DlqRoute.routedOf(ev, ts, bucket = bucket, delay = DelayShards)
      .select(col("ab"), col("user_id"), col("event_id"), col("item"), col("t"))
      .collect()
    val shards = rows
      .map(r => (r.getLong(0), ItemEvent(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._2) }
      .toIndexedSeq
    Staged(shards, bucket)
  }

  /** One replay: per-shard wall ms and the two lane counts. */
  def replay(spark: SparkSession, s: Staged, dir: String, rec: Recorder, parent: Long): (Seq[Double], Long, Long) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the gate's state store and partition count, as graft.tools.GateReplay
    // sets them: transformWithState needs RocksDB, and the stateful
    // operator's partition count is pinned at the first checkpoint
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val partKey = "spark.sql.shuffle.partitions"
    val prev = Seq(providerKey, partKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(providerKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(partKey, sys.env.getOrElse("SPARK_GRAFT_GATE_PARTITIONS", "8"))
    val kept = new AtomicLong()
    val late = new AtomicLong()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ItemEvent]
    val q = LateDlq.routedOf(stream.toDS()).writeStream.queryName("gate")
      .foreachBatch { (batch: Dataset[LateDlq.Routed], _: Long) =>
        batch.groupBy(col("kind")).count().collect().foreach { r =>
          if (r.getString(0) == "late") late.addAndGet(r.getLong(1)) else kept.addAndGet(r.getLong(1))
        }
      }
      .outputMode("update").option("checkpointLocation", dir).start()
    val span = rec.start("gate", "streaming", parent, Map("query_id" -> q.id.toString))
    try {
      val times = s.shards.map { shard =>
        val t0 = Clock.ms
        stream.addData(shard.toSeq)
        q.processAllAvailable()
        Clock.ms - t0
      }
      (times, kept.get(), late.get())
    } finally {
      q.stop()
      rec.end(span)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** The batch lanes: late = the route's late flag; kept = the transition
    * census over the kept events in (t, event_id) order per user. */
  private def expected(spark: SparkSession, s: Staged): (Long, Long) = {
    val ev = events(spark)
    val r = DlqRoute.routedOf(ev, Tables.tsMicros(ev), bucket = s.bucket, delay = DelayShards).cache()
    val late = r.filter(col("late")).count()
    val kept = r.filter(!col("late"))
      .withColumn("src", lag(col("item"), 1).over(Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
      .filter(col("src").isNotNull && col("src") =!= col("item")).count()
    r.unpersist()
    (kept, late)
  }

  /** The single-thread baseline: a replay of the first [[BaselineShards]]
    * shards on a `local[1]` session. Stops `spark`. */
  private def baseline(spark: SparkSession, s: Staged, work: String): Map[String, Any] = {
    spark.stop()
    val one = Main.session(1, work)
    val part = s.copy(shards = s.shards.take(BaselineShards))
    val (times, _, _) = replay(one, part, s"$work/one-${System.nanoTime()}", new Recorder(false), 0L)
    Map("eps_1core" -> part.shards.map(_.length).sum / (times.sum / 1000.0))
  }

  /** The gate's per-layer figures for another workload's traced run: one
    * staged replay with the listeners attached, then the baseline. Stops
    * `spark`. */
  def layerProbe(spark: SparkSession, work: String): Map[String, Any] = {
    val s = stage(spark)
    val rec = new Recorder(true)
    rec.attach(spark)
    val (times, kept, late) = replay(spark, s, s"$work/probe-${System.nanoTime()}", rec, 0L)
    rec.detach(spark)
    val (expKept, expLate) = expected(spark, s)
    Map("gate_spans" -> rec.spans, "gate_progress" -> rec.progress.records.toArray.toSeq, "gate_shard_ms" -> times,
      "kept" -> kept, "late" -> late, "gate_ok" -> (kept == expKept && late == expLate)) ++
      baseline(spark, s, work)
  }
}
