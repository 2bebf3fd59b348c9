package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.gen.LogGenerator
import graft.io.Codec
import graft.model._
import graft.pipeline.{ErrorRateDetector, LatencySloMonitor, MetricsJob}
import graft.stateful.{BreachDetector, Escalator}

/** `alerts_stream`: the reference topology, live. Generated logs are fed
  * open-loop at a fixed offered rate (event i is due `i / rate` seconds
  * after the feed starts, whether or not the queries keep up) through a
  * `MemoryStream`, into six streaming queries:
  *
  *   raw ─┬─ error_rate (ErrorRateDetector) ──encode─┐
  *        └─ p95 (LatencySloMonitor) → parquet files  │
  *             └─ breach (BreachDetector) ──encode───┴→ alert topic
  *   alert topic ─decode─┬─ escalator (Escalator) ──encode→ escalation topic
  *                       └─ metrics_alerts (MetricsJob)
  *   escalation topic ─decode─ metrics_escalations (MetricsJob)
  *
  * Topics are `Codec.encode` rows, filled from the producing query's
  * `foreachBatch`; the moment a row is published there is the moment it
  * reaches the benchmark's sink. A `MemoryStream` trims on commit, so each
  * consumer reads its own copy of a stream, as a Kafka consumer group keeps
  * its own offsets. */
final class AlertsStream(rate: Double, sfDir: String) extends Workload {

  /** Minute-aligned virtual clock, as in the reference replay. */
  val Base = 1767680040L
  val Services: Seq[String] = LogGenerator.services.map(_._1)

  /** The generator's send interval. */
  val LingerMs = 250.0

  /** The raw consumers' event-time watermark delay in seconds: a window
    * whose end is at or before (last event's second − this) is closed by the
    * real events alone; later windows close only at the flush. */
  val WatermarkS: Long = Seq(ErrorRateDetector.Watermark, LatencySloMonitor.Watermark).map { w =>
    val Array(n, unit) = w.split(" ")
    require(unit.startsWith("second"), s"watermark $w")
    n.toLong
  }.max

  /** Every query's processing-time trigger: a deployment runs micro-batches
    * on an interval, not back to back, so six queries leave the cores idle
    * between batches instead of spinning on per-batch fixed cost. At 2 s
    * that fixed cost kept a 4-core host's CPU near saturation: alert latency
    * climbed through a run and moved with the host's load. */
  val TriggerMs = 3000L

  /** Where in the trigger interval the feed starts (see [[feed]]). */
  val PhaseMs = 100.0

  /** Untimed warm-up feed, on a [[WarmTriggerMs]] trigger: the per-batch
    * code paths (planning, WAL, state commit, the file source) run several
    * times more often than at [[TriggerMs]] in the same wall time, so JIT
    * has compiled them before the timed feed. */
  val WarmSeconds = 4.0
  val WarmTriggerMs = 500L

  final case class Staged(events: Array[RawLog], genS: Double)

  override def setup(spark: SparkSession, seed: Int, seconds: Double): Staged = {
    import spark.implicits._
    // about 50 events per virtual second; generate a margin beyond the feed
    val virtual = math.ceil(rate * seconds / 30.0).toInt + 60
    val (events, genS) = Main.timed(
      LogGenerator.logs(spark, Base, virtual, seed).as[RawLog].collect())
    Staged(events.sortBy(e => (e.timestamp, e.service, e.request_id)), genS)
  }

  override def setupInfo(s: Staged): Map[String, Any] =
    Map("gen_rows" -> s.events.length, "gen_build_s" -> s.genS)

  private def sec(e: RawLog): Long =
    java.time.LocalDateTime.parse(e.timestamp).toEpochSecond(java.time.ZoneOffset.UTC) - Base

  /** Untimed: the whole topology, open loop at the workload's rate, for
    * [[WarmSeconds]], then the flush — JIT, codegen and state-store set-up
    * on every path the timed run takes. */
  override def warm(spark: SparkSession, s: Staged, work: String): Unit = {
    val t = new Topology(spark, s"$work/warm", new Recorder(false), 0L, WarmTriggerMs)
    try {
      val f = feed(t, s.events, WarmSeconds)
      t.flush(s.events(f.sent - 1))
    } finally t.stop()
  }

  final case class Feed(t0: Double, sends: Seq[(Int, Int, Double)], sent: Int, endMs: Double)

  /** One load-generating thread sends event i at t0 + i / rate, whether or
    * not the queries keep up. It sends everything due every [[LingerMs]], as
    * a Kafka producer lingers: each send is one input partition of the next
    * micro-batch. Returns when the last event due within `seconds` is sent.
    *
    * t0 sits [[PhaseMs]] after a trigger tick: processing-time triggers fire
    * at epoch multiples of their interval, so every run meets the triggers
    * at the same point of its schedule, and the trigger phase, which alone
    * moves an alert's latency by up to one interval, is the same in every
    * run instead of a random draw. */
  private def feed(t: Topology, events: Array[RawLog], seconds: Double): Feed = {
    val sends = mutable.ArrayBuffer[(Int, Int, Double)]() // (first index, count, send ms after t0)
    val limit = math.min(events.length, (rate * seconds).toInt)
    val t0 = (math.floor(Clock.ms / t.triggerMs) + 1) * t.triggerMs + PhaseMs
    Thread.sleep((t0 - Clock.ms).toLong)
    val feeder = new Thread(() => {
      var i = 0
      while (i < limit) {
        val now = Clock.ms - t0
        val due = math.min(limit, math.floor(now * rate / 1000.0).toInt + 1)
        if (due > i) {
          t.raw.addData(events.slice(i, due).toSeq)
          sends += ((i, due - i, now))
          i = due
        }
        val next = (math.floor(now / LingerMs) + 1) * LingerMs
        Thread.sleep(math.max(0L, (next - (Clock.ms - t0)).toLong))
      }
    }, "perfbench-feeder")
    feeder.start()
    feeder.join()
    Feed(t0, sends.toSeq, limit, Clock.ms - t0)
  }

  override def measure(spark: SparkSession, s: Staged, seconds: Double, rec: Recorder,
                       work: String): Map[String, Any] = {
    val root = rec.start("alerts_stream", "workload", 0L)
    val t = new Topology(spark, s"$work/run-${System.nanoTime()}", rec, root, TriggerMs)
    try {
      val feedSpan = rec.start("feeder", "gen", root)
      val cpu0 = Main.threadCpu()
      val f = feed(t, s.events, seconds)
      rec.end(feedSpan)
      // wait until both raw consumers have finished a batch that holds the
      // last send (a MemoryStream offset counts sends from 0); alerts still
      // in flight then arrive during the flush's drain and count with their
      // arrival time
      def offset(q: StreamingQuery): Long = Option(q.lastProgress)
        .flatMap(p => scala.util.Try(p.sources.head.endOffset.toLong).toOption).getOrElse(-1L)
      while (Seq(t.errorRate, t.p95).exists(q => offset(q) < f.sends.size - 1 && q.isActive) &&
        Clock.ms - f.t0 < f.endMs + 60000) Thread.sleep(10)
      val drained = Clock.ms - f.t0
      // the CPU time counted is all the work on the sent events: it ends
      // when every query has drained the flush, never inside a micro-batch
      t.flush(s.events(f.sent - 1))
      val cpu = Main.threadCpuMsSince(cpu0)
      t.stop()
      rec.end(root)

      // ---- output checks, outside the timed interval
      val (attempted, failed, checkInfo) = check(spark, s.events.take(f.sent), t)
      val lastIdx = mutable.Map[(String, Long), Int]()
      s.events.iterator.take(f.sent).zipWithIndex.foreach { case (e, i) => lastIdx((e.service, sec(e))) = i }
      Map(
        "rate" -> rate, "t0_ms" -> f.t0, "feed_end_ms" -> f.endMs,
        "sent" -> f.sent, "drained_ms" -> drained, "cpu_ms" -> cpu,
        "closed_by_s" -> (Base + sec(s.events(f.sent - 1)) - WatermarkS),
        "sends" -> f.sends.map { case (i, n, ms) => Seq(i, n, ms) },
        "last_index" -> lastIdx.toSeq.map { case ((svc, sc), i) => Seq(svc, Base + sc, i) },
        "alerts" -> t.alertSink.asScala.toSeq.map(a =>
          Seq(a.ms - f.t0, a.id, a.service, a.kind, a.windowStart, a.windowEnd)),
        "escalations" -> t.escSink.asScala.toSeq.map(a => Seq(a.ms - f.t0, a.id)),
        "attempted" -> attempted, "failed" -> failed, "check" -> checkInfo)
    } catch {
      case e: Throwable => t.stop(); throw e
    }
  }

  /** The DLQ gate shares this workload's streaming engine and state-store
    * layer; the traced run measures it here (see [[GateProbe.layerProbe]]). */
  override def tracedExtra(spark: SparkSession, s: Staged, work: String): Map[String, Any] =
    new GateProbe(sfDir).layerProbe(spark, work)

  /** The open-loop run's outputs against a batch evaluation of the same
    * stage functions over the logs that were sent:
    *  - alerts: equal as multisets of encoded rows;
    *  - escalations: every alert forwarded once, and per service exactly
    *    ⌊n/3⌋ tagged ESCALATED (which ones depends on arrival order, which
    *    the streaming topology does not fix — see Escalator's doc);
    *  - alert metrics: the final update per window equals the batch metrics;
    *  - escalation metrics: equal the batch metrics over the streamed
    *    escalations.
    * Returns (rows checked, rows wrong, detail). */
  private def check(spark: SparkSession, sent: Array[RawLog], t: Topology): (Long, Long, Map[String, Any]) = {
    import spark.implicits._
    val logs = ErrorRateDetector.withEventTime(spark.createDataset(sent.toSeq).toDF())
    val batchAlerts = spark.createDataset(ErrorRateDetector.detect(logs).as[IncidentAlert]
      .unionByName(BreachDetector.detect(LatencySloMonitor.p95Windows(logs))).collect().toSeq)
    val expAlerts = Codec.encode(batchAlerts.toDF()).select("value").as[String].collect().toSeq
    val gotAlerts = t.alertSink.asScala.toSeq.map(_.value)
    val alertWrong = multisetDiff(expAlerts, gotAlerts)

    val gotEsc = Codec.decodeEscalations(spark.createDataset(t.escSink.asScala.toSeq.map(_.value)).toDF("value"))
      .as[EscalationEvent].collect().toSeq
    val alertRows = batchAlerts.collect().toSeq
    val untagged = gotEsc.map(e => IncidentAlert(e.incident_id, e.service, e.`type`,
      if (e.severity == "ESCALATED") "?" else e.severity, e.p95_latency, e.breach_count,
      e.window_start, e.window_end, e.error_rate, e.total_logs))
    val origSeverity = alertRows.map(a => a.incident_id -> a.severity).toMap
    val escWrong = multisetDiff(alertRows.map(_.copy(severity = "?")), untagged.map(_.copy(severity = "?"))) +
      gotEsc.count(e => e.severity != "ESCALATED" && origSeverity.get(e.incident_id).exists(_ != e.severity)) +
      gotEsc.count(e => (e.severity == "ESCALATED") != e.escalation_reason.contains("MULTIPLE_INCIDENTS")) +
      alertRows.groupBy(_.service).toSeq.map { case (svc, rows) =>
        math.abs(gotEsc.count(e => e.service == svc && e.severity == "ESCALATED") - rows.size / 3).toLong
      }.sum

    val expMetrics = metricRows(MetricsJob.metrics(batchAlerts.toDF()))
    val metricsWrong = multisetDiff(expMetrics, t.metricSinks("metrics_alerts").values.toSeq)
    val escDf = spark.createDataset(gotEsc).toDF().drop("escalation_reason")
    val expEscMetrics = metricRows(MetricsJob.metrics(escDf, "total_escalations"))
    val escMetricsWrong = multisetDiff(expEscMetrics, t.metricSinks("metrics_escalations").values.toSeq)

    val attempted = (expAlerts.size + alertRows.size + expMetrics.size + expEscMetrics.size).toLong
    val wrong = Seq(alertWrong, escWrong, metricsWrong, escMetricsWrong)
    (attempted, math.min(attempted, wrong.sum), Map(
      "alerts" -> expAlerts.size, "alerts_wrong" -> alertWrong,
      "escalations" -> gotEsc.size, "escalations_wrong" -> escWrong,
      "alert_metrics" -> expMetrics.size, "alert_metrics_wrong" -> metricsWrong,
      "escalation_metrics" -> expEscMetrics.size, "escalation_metrics_wrong" -> escMetricsWrong))
  }

  /** Rows in one multiset and not in the other, both ways. */
  private def multisetDiff[T](a: Seq[T], b: Seq[T]): Long = {
    val ca = a.groupBy(identity).view.mapValues(_.size).toMap
    val cb = b.groupBy(identity).view.mapValues(_.size).toMap
    (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
  }

  private def metricRows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).collect().toSeq.map(_.getString(0))

  final case class Published(ms: Double, id: String, service: String, kind: String,
                             windowStart: Long, windowEnd: Long, value: String)

  /** The six queries, their topics and the benchmark's sinks. */
  final class Topology(spark: SparkSession, dir: String, rec: Recorder, root: Long, val triggerMs: Long) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    private val trigger = Trigger.ProcessingTime(triggerMs)

    /** One stream per consumer; publishing appends to every copy. */
    final class Topic[T: org.apache.spark.sql.Encoder](consumers: Int) {
      val copies: Seq[MemoryStream[T]] = Seq.fill(consumers)(MemoryStream[T])
      def addData(rows: Seq[T]): Unit = copies.foreach(_.addData(rows))
    }

    val raw = new Topic[RawLog](2)
    val alertTopic = new Topic[(String, String)](2)
    val escTopic = new Topic[(String, String)](1)
    val alertSink = new ConcurrentLinkedQueue[Published]()
    val escSink = new ConcurrentLinkedQueue[Published]()
    val metricSinks: Map[String, mutable.Map[String, String]] =
      Map("metrics_alerts" -> mutable.Map(), "metrics_escalations" -> mutable.Map())

    private def publish(topic: Topic[(String, String)], sink: ConcurrentLinkedQueue[Published])
                       (b: DataFrame): Unit = {
      val rows = b.select(col("key"), col("value"),
        get_json_object(col("value"), "$.incident_id"), get_json_object(col("value"), "$.type"),
        get_json_object(col("value"), "$.window_start"), get_json_object(col("value"), "$.window_end"))
        .collect()
      val now = Clock.ms
      rows.foreach(r => sink.add(Published(now, r.getString(2), r.getString(0), r.getString(3),
        r.getString(4).toLong, r.getString(5).toLong, r.getString(1))))
      if (rows.nonEmpty) topic.addData(rows.toSeq.map(r => (r.getString(0), r.getString(1))))
    }

    private def toTopic(name: String, df: DataFrame, topic: Topic[(String, String)],
                        sink: ConcurrentLinkedQueue[Published], mode: String): StreamingQuery =
      Codec.encode(df).writeStream.queryName(name).outputMode(mode).trigger(trigger)
        .option("checkpointLocation", s"$dir/cp_$name")
        .foreachBatch { (b: Dataset[Row], _: Long) => publish(topic, sink)(b) }
        .start()

    private def toMetrics(name: String, df: DataFrame): StreamingQuery = {
      val sink = metricSinks(name)
      df.writeStream.queryName(name).outputMode("update").trigger(trigger)
        .option("checkpointLocation", s"$dir/cp_$name")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          val rows = b.select(concat_ws("|", col("service"), col("window_start").cast("string")),
            to_json(struct(b.columns.map(col).toIndexedSeq: _*))).collect()
          sink.synchronized(rows.foreach(r => sink(r.getString(0)) = r.getString(1)))
        }
        .start()
    }

    private def decoded(topic: Topic[(String, String)], consumer: Int): DataFrame =
      topic.copies(consumer).toDF().toDF("key", "value")

    // stage 1: both consumers of the raw log stream
    private def logs(consumer: Int) = ErrorRateDetector.withEventTime(raw.copies(consumer).toDF())
    val errorRate: StreamingQuery =
      toTopic("error_rate", ErrorRateDetector.detect(logs(0)), alertTopic, alertSink, "append")
    val p95: StreamingQuery = LatencySloMonitor.p95Windows(logs(1)).writeStream.queryName("p95").trigger(trigger)
      .format("parquet").option("path", s"$dir/p95").option("checkpointLocation", s"$dir/cp_p95")
      .outputMode("append").start()
    // stage 2: the breach state machine tails the p95 file boundary
    val breach: StreamingQuery = toTopic("breach",
      BreachDetector.detect(spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[P95Window].schema)
        .parquet(s"$dir/p95").as[P95Window]).toDF(),
      alertTopic, alertSink, "update")
    // stage 3: escalation over the alert topic
    val escalator: StreamingQuery = toTopic("escalator",
      Escalator.escalate(Codec.decodeAlerts(decoded(alertTopic, 0)).as[IncidentAlert], ttlMs = None).toDF(),
      escTopic, escSink, "update")
    // stage 4: windowed metrics over both topics
    val metricsAlerts: StreamingQuery = toMetrics("metrics_alerts", MetricsJob.metrics(Codec.decodeAlerts(decoded(alertTopic, 1))))
    val metricsEsc: StreamingQuery = toMetrics("metrics_escalations",
      MetricsJob.metrics(Codec.decodeEscalations(decoded(escTopic, 0)).drop("escalation_reason"), "total_escalations"))

    val queries: Seq[StreamingQuery] = Seq(errorRate, p95, breach, escalator, metricsAlerts, metricsEsc)
    private val layer = Map("error_rate" -> "pipeline", "p95" -> "pipeline", "breach" -> "stateful",
      "escalator" -> "stateful", "metrics_alerts" -> "pipeline", "metrics_escalations" -> "pipeline")
    private val spans = queries.map(q => q.name -> rec.start(q.name, layer(q.name), root,
      Map("query_id" -> q.id.toString))).toMap

    /** Every query has processed everything upstream of it: topology stage
      * by stage, the queries of one stage in parallel. */
    def drain(): Unit =
      Seq(Seq(errorRate, p95), Seq(breach), Seq(escalator, metricsAlerts), Seq(metricsEsc)).foreach { stage =>
        val waits = stage.map(q => new Thread(() => q.processAllAvailable()))
        waits.foreach(_.start())
        waits.foreach(_.join())
        stage.flatMap(_.exception).headOption.foreach(e => throw e)
      }

    /** One event an hour past the last one advances both raw watermarks past
      * every real window, so the remaining windows close; then drain. */
    def flush(last: RawLog): Unit = {
      val ts = java.time.LocalDateTime.parse(last.timestamp).plusHours(1).toString
      raw.addData(Seq(RawLog(if (ts.length == 16) ts + ":00" else ts, Services.head, "node-1", "INFO",
        "req-flush", "flush", 10)))
      drain()
    }

    def stop(): Unit = queries.foreach { q =>
      if (q.isActive) q.stop()
      rec.end(spans(q.name))
    }
  }
}
