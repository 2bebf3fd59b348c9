package graft

import graft.gen.LogGenerator
import graft.io.Codec
import graft.model._
import graft.pipeline.{ErrorRateDetector, LatencySloMonitor, MetricsJob}
import graft.stateful.{BreachDetector, Escalator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming end-to-end behavior: event-time windows + watermark, stateful
  * operators across micro-batches, and the batch-replay equivalence property
  * (SURVEY §5.3: incremental run == one-shot batch run). */
class StreamingSpec extends SparkSpec {

  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def iso(epoch: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(epoch))

  private def rawLog(epoch: Long, service: String, level: String, latency: Int): RawLog =
    RawLog(iso(epoch), service, "node-1", level, s"req-$epoch-$latency", "m", latency)

  val T0 = 1767680000L // window-aligned base (divisible by 20)

  test("error-rate detector: streaming with watermark == batch on same data") {
    import spark.implicits._
    // 30 ERROR-heavy events in [T0, T0+20), quiet after
    val logs = (0 until 30).map(i => rawLog(T0 + i % 20, "auth-service", if (i % 2 == 0) "ERROR" else "INFO", 100)) ++
      (0 until 30).map(i => rawLog(T0 + i % 20, "payment-service", "INFO", 50))
    val stream = MemoryStream[RawLog]
    val sq = ErrorRateDetector.detect(
        ErrorRateDetector.withEventTime(stream.toDF()), minVolume = 10)
      .writeStream.format("memory").queryName("alerts_stream").outputMode("append").start()
    try {
      stream.addData(logs)
      sq.processAllAvailable()
      // advance watermark beyond window ends (+5s wm +20s window)
      stream.addData(rawLog(T0 + 120, "auth-service", "INFO", 10))
      sq.processAllAvailable()
      stream.addData(rawLog(T0 + 180, "auth-service", "INFO", 10))
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("alerts_stream")
      .select("incident_id", "service", "window_start", "window_end", "error_rate", "total_logs")
      .collect().toSet
    val batch = ErrorRateDetector.detect(
        ErrorRateDetector.withEventTime(logs.toDF()), minVolume = 10)
      .select("incident_id", "service", "window_start", "window_end", "error_rate", "total_logs")
      .collect().toSet
    assert(streamed.nonEmpty, "no alerts emitted by streaming run")
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // only auth-service spikes; payment has 0% errors
    assert(streamed.forall(_.getString(1) == "auth-service"))
  }

  test("streaming dedup: in-window duplicates dropped across batches, key re-admitted after watermark eviction") {
    import spark.implicits._
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val docs = stream.toDF().toDF("content_hash", "event_time")
    val sq = graft.ops.StreamingDedup.dedup(docs, Seq("content_hash"), delay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    def ts(e: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(e))
    try {
      stream.addData(("h1", ts(T0)), ("h1", ts(T0 + 1)))   // same-batch dup
      sq.processAllAvailable()
      stream.addData(("h1", ts(T0 + 5)))                    // cross-batch dup, in window
      sq.processAllAvailable()
      stream.addData(("h2", ts(T0 + 100)))                  // advances watermark to T0+90
      sq.processAllAvailable()
      stream.addData(("h1", ts(T0 + 95)))                   // h1 state evicted -> re-admitted
      sq.processAllAvailable()
    } finally sq.stop()
    val out = spark.table("dedup_stream").as[(String, java.sql.Timestamp)].collect()
      .map { case (h, t) => (h, t.toInstant.getEpochSecond - T0) }.sorted.toList
    assert(out == List(("h1", 0L), ("h1", 95L), ("h2", 100L)),
      s"expected one h1 per watermark era + h2, got $out")
  }

  test("streaming corpus ingestion: dedup + quality gate run as one continuous query") {
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(e: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(e))
    val hiQ = (1 to 60).map(i => s"word$i").mkString(" ")   // distinct words -> high ttr
    val loQ = Seq.fill(60)("the").mkString(" ")             // stopword soup -> low score
    val docs = stream.toDF().toDF("doc_id", "text", "event_time")
      .withColumn("h", sha2(col("text"), 256))
    val gated = graft.ext.TextOps.scoredDocs(
        graft.ops.StreamingDedup.dedup(docs, Seq("h"), delay = "10 seconds"))
      .filter(col("quality_score") >= graft.ops.CorpusPipeline.QualityFloor)
      .select("doc_id")
    val sq = gated.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, hiQ, ts(T0)), (2L, loQ, ts(T0 + 1)))
      sq.processAllAvailable()
      stream.addData((3L, hiQ, ts(T0 + 2)))  // exact dup of doc 1, in window
      sq.processAllAvailable()
      stream.addData((4L, hiQ + " extra", ts(T0 + 3)))  // novel high-quality
      sq.processAllAvailable()
    } finally sq.stop()
    val out = spark.table("corpus_stream").as[Long].collect().toSet
    assert(out == Set(1L, 4L),
      s"expected dedup to drop 3 and the gate to drop 2, got $out")
  }

  test("streaming bow dedup: word-order-shuffled re-ingest dropped where the exact hash admits it") {
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(e: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(e))
    // q57's canonical bag hash as the streaming dedup key: the shuffled
    // replay (same word multiset, different order + punctuation) collapses
    // onto doc 1's key; the genuinely different multiset survives
    val docs = stream.toDF().toDF("doc_id", "text", "event_time")
      .withColumn("bh", graft.ext.BowDedup.bowHashCol(col("text")))
      .withColumn("xh", sha2(col("text"), 256))
    val sq = graft.ops.StreamingDedup.dedup(docs, Seq("bh"), delay = "10 seconds")
      .select("doc_id").writeStream.format("memory").queryName("bow_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, "alpha beta gamma", ts(T0)))
      sq.processAllAvailable()
      stream.addData((2L, "Gamma, alpha beta!", ts(T0 + 2)), // shuffled replay
                     (3L, "alpha alpha beta gamma", ts(T0 + 3))) // different bag
      sq.processAllAvailable()
    } finally sq.stop()
    val out = spark.table("bow_stream").as[Long].collect().toSet
    assert(out == Set(1L, 3L), s"bow gate must drop the shuffled replay only, got $out")
    // the exact-hash gate would have admitted the replay — the canonical
    // key is what buys the drop
    assert(Seq("alpha beta gamma", "Gamma, alpha beta!")
      .map(t => Seq((t, ts(T0))).toDF("text", "event_time")).map(df =>
        df.select(sha2(col("text"), 256)).head.getString(0)).distinct.length == 2)
  }

  test("stream-static outlier gate: static-corpus thresholds gate arriving vectors == batch") {
    import spark.implicits._
    // two tight static clusters → per-cell p90 distance thresholds are 0;
    // an arriving vector on a corner passes, a perturbed one is cut —
    // model + thresholds are eager k-row leaves, so each micro-batch pays
    // one broadcast join, never a static-corpus re-aggregation
    val staticCorpus = ((0L +: (2L to 4L)).map(i => (i, Array.fill(4)(1.0f))) ++
      Seq(1L, 5L).map(i => (i, Array.fill(4)(-1.0f)))).toDF("vec_id", "embedding")
    def gate(pts: org.apache.spark.sql.DataFrame) =
      graft.ext.OutlierPrune.outlierGateStreamStatic(pts, staticCorpus, k = 2)
        .select(col("vec_id"), col("cid"), col("keep"))
    val incoming = Seq(
      (100L, Array.fill(4)(1.0f)),               // on the +1 corner -> keep
      (101L, Array(1.2f, 1.0f, 1.0f, 1.0f)),     // perturbed -> cut
      (102L, Array.fill(4)(-1.0f)))              // on the -1 corner -> keep
    val stream = MemoryStream[(Long, Array[Float])]
    val sq = gate(stream.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("outlier_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("outlier_gate").collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(streamed == Set((100L, 1), (101L, 0), (102L, 1)), s"gate wrong: $streamed")
    val batch = gate(incoming.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("heartbeat injection closes windows for a stream that has gone idle (W4 idleness mitigation)") {
    import spark.implicits._
    import graft.streaming.Heartbeat
    // error-heavy burst, then total silence: without new rows the watermark
    // freezes and the spike windows never flush in append mode
    val burst = (0 until 30).map(i => rawLog(T0 + i % 20, "auth-service", if (i % 2 == 0) "ERROR" else "INFO", 100))
    val logsStream = MemoryStream[RawLog]
    val hbStream = MemoryStream[RawLog]
    val input = Heartbeat.inject(
      ErrorRateDetector.withEventTime(logsStream.toDF()),
      ErrorRateDetector.withEventTime(hbStream.toDF()))
    val sq = Heartbeat.strip(ErrorRateDetector.detect(input, minVolume = 10))
      .writeStream.format("memory").queryName("hb_alerts").outputMode("append").start()
    try {
      logsStream.addData(burst)
      sq.processAllAvailable()
      // sliding windows: the burst itself closes the early windows, but the
      // trailing ones (ending past max_event_time - 5s) stay open while the
      // real stream is silent
      val flushedEarly = spark.table("hb_alerts").count()
      // the real stream stays idle; only the synthetic heartbeat ticks
      // (two ticks: the first advances the watermark at its batch end, the
      // second's batch emits the newly-closed windows — in production the
      // rate source ticks continuously so this is the steady state)
      hbStream.addData(rawLog(T0 + 120, Heartbeat.Service, "INFO", 0))
      sq.processAllAvailable()
      hbStream.addData(rawLog(T0 + 180, Heartbeat.Service, "INFO", 0))
      sq.processAllAvailable()
      assert(spark.table("hb_alerts").count() > flushedEarly,
        "idle stream's trailing windows never closed despite heartbeat")
    } finally sq.stop()
    val alerts = spark.table("hb_alerts").select("service").as[String].collect()
    assert(alerts.toSet == Set("auth-service"), s"heartbeat rows leaked into output: ${alerts.toSet}")
  }

  test("heartbeat rate-source stream matches the raw-log event-time schema") {
    import spark.implicits._
    // compare (name, type); lit()-built heartbeat columns are non-nullable,
    // which unionByName reconciles
    val expected = ErrorRateDetector.withEventTime(Seq.empty[RawLog].toDF()).schema
      .map(f => (f.name, f.dataType))
    assert(graft.streaming.Heartbeat.stream(spark).schema.map(f => (f.name, f.dataType)) == expected)
  }

  test("two-stage SLO: streaming p95 windows feed the breach detector through a file boundary == batch monitor") {
    import spark.implicits._
    // the reference chains window->p95 into a second keyed stage via a Kafka
    // topic (latency_slo_monitor.py:139-146); here the topic boundary is a
    // parquet directory: stage A appends watermark-closed p95 windows to it,
    // stage B tails it as a file-source stream into the stateful detector
    val logs = LogGenerator.logs(spark, T0, 600).as[RawLog].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft_slo2").toString

    // stage A: raw logs -> 1-min exact-p95 windows, append mode
    val rawStream = MemoryStream[RawLog]
    val qa = LatencySloMonitor.p95Windows(ErrorRateDetector.withEventTime(rawStream.toDF()))
      .writeStream.format("parquet")
      .option("path", s"$tmp/p95").option("checkpointLocation", s"$tmp/cpA")
      .outputMode("append").start()
    try {
      logs.grouped(500).foreach { chunk => rawStream.addData(chunk.toSeq); qa.processAllAvailable() }
      // heartbeat advances the (global) watermark past every real window end
      rawStream.addData(rawLog(T0 + 600 + 120, "auth-service", "INFO", 10))
      qa.processAllAvailable()
    } finally qa.stop()

    // stage B: tail the boundary directory, run the consecutive-breach
    // state machine as a second streaming query
    val p95Schema = org.apache.spark.sql.Encoders.product[P95Window].schema
    val qb = BreachDetector.detect(
        spark.readStream.schema(p95Schema).parquet(s"$tmp/p95").as[P95Window])
      .writeStream.format("memory").queryName("slo2_breaches")
      .option("checkpointLocation", s"$tmp/cpB").outputMode("update").start()
    try qb.processAllAvailable() finally qb.stop()

    val streamed = spark.table("slo2_breaches")
      .select("service", "window_start", "window_end", "p95_latency", "severity")
      .collect().toSet
    // batch composition over the same logs (without the heartbeat, whose
    // window never closes in streaming and so never crosses the boundary)
    val batch = LatencySloMonitor.monitor(ErrorRateDetector.withEventTime(logs.toSeq.toDF()))
      .select("service", "window_start", "window_end", "p95_latency", "severity")
      .collect().toSet
    assert(streamed.nonEmpty, "no breach alerts crossed the two-query boundary")
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("session windows stream in append mode: sessions close when the watermark passes end+gap") {
    import spark.implicits._
    val stream = MemoryStream[RawLog]
    val sessions = stream.toDF()
      .withColumn("event_time", to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withWatermark("event_time", "5 seconds")
      .groupBy(col("service"), session_window(col("event_time"), "30 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("service"), unix_timestamp(col("sw.start")).as("s"),
        unix_timestamp(col("sw.end")).as("e"), col("n_events"))
    val sq = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // burst 1: 3 events 10 s apart; burst 2 after a 60 s silence
      stream.addData(rawLog(T0, "auth-service", "INFO", 10),
        rawLog(T0 + 10, "auth-service", "INFO", 10),
        rawLog(T0 + 20, "auth-service", "INFO", 10))
      sq.processAllAvailable()
      stream.addData(rawLog(T0 + 110, "auth-service", "INFO", 10))
      sq.processAllAvailable()
      // close the second session too
      stream.addData(rawLog(T0 + 300, "auth-service", "INFO", 10))
      sq.processAllAvailable()
    } finally sq.stop()
    val rows = spark.table("sess_stream").as[(String, Long, Long, Long)].collect().toSet
    // burst 1 merged into one session [T0, T0+50), burst 2 a separate one
    assert(rows.contains(("auth-service", T0, T0 + 50, 3L)), s"got $rows")
    assert(rows.contains(("auth-service", T0 + 110, T0 + 140, 1L)), s"got $rows")
  }

  test("breach detector: emits on 3rd consecutive breach, resets on healthy window, state spans batches") {
    import spark.implicits._
    val w = (i: Int, p95: Double) => P95Window("auth-service", T0 + i * 60L, T0 + (i + 1) * 60L, p95)
    val stream = MemoryStream[P95Window]
    val sq = BreachDetector.detect(stream.toDS())
      .writeStream.format("memory").queryName("breaches_stream").outputMode("update").start()
    try {
      stream.addData(w(0, 150), w(1, 160))          // 2 consecutive breaches
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 0, "premature emission")
      stream.addData(w(2, 170))                     // 3rd — emit + clear
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 1)
      stream.addData(w(3, 180), w(4, 190))          // only 2 since clear
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 1)
      stream.addData(w(5, 50), w(6, 150), w(7, 150)) // healthy resets; 2 breaches
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 1)
      stream.addData(w(8, 150))                     // 3rd again
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 2)
      stream.addData(w(2, 500))                     // regression guard: stale window replay
      sq.processAllAvailable()
      assert(spark.table("breaches_stream").count() == 2)
    } finally sq.stop()
    val a = spark.table("breaches_stream").as[IncidentAlert].collect().head
    assert(a.`type` == "LATENCY_SLO_BREACH" && a.severity == "CRITICAL" && a.breach_count.contains(3))
  }

  test("breach detector: in-batch delivery order does not matter (sorted by window_start)") {
    import spark.implicits._
    val w = (i: Int, p95: Double) => P95Window("s", T0 + i * 60L, T0 + (i + 1) * 60L, p95)
    val shuffled = Seq(w(2, 150), w(0, 150), w(1, 150), w(4, 50), w(3, 150))
    val alerts = BreachDetector.detect(shuffled.toDS()).collect()
    assert(alerts.length == 1 && alerts.head.window_start == T0 + 120)
  }

  test("escalator: every 3rd alert per service tagged, all forwarded, counter spans batches") {
    import spark.implicits._
    val mk = (s: String, i: Int) => IncidentAlert(s"inc-$s-$i", s, "ERROR_RATE_SPIKE", "HIGH",
      None, None, T0 + i * 10L, T0 + i * 10L + 20, Some(0.05), Some(200L))
    val stream = MemoryStream[IncidentAlert]
    // ttlMs = None: a processing-time timeout keeps the micro-batch engine
    // scheduling timeout-check batches forever under processAllAvailable
    val sq = Escalator.escalate(stream.toDS(), ttlMs = None)
      .writeStream.format("memory").queryName("esc_stream").outputMode("update").start()
    try {
      stream.addData(mk("a", 0), mk("a", 1), mk("b", 0))
      sq.processAllAvailable()
      stream.addData(mk("a", 2), mk("b", 1), mk("b", 2)) // a:3rd, b:3rd
      sq.processAllAvailable()
      stream.addData(mk("a", 3))
      sq.processAllAvailable()
    } finally sq.stop()
    import org.apache.spark.sql.functions.col
    val out = spark.table("esc_stream")
    assert(out.count() == 7, "passthrough: every alert forwarded")
    val esc = out.filter(col("severity") === "ESCALATED")
    assert(esc.count() == 2)
    assert(esc.filter(col("escalation_reason") =!= "MULTIPLE_INCIDENTS").count() == 0)
    // the 3rd alert per service in order: a's i=2, b's i=2
    assert(esc.select("incident_id").as[String].collect().toSet == Set("inc-a-2", "inc-b-2"))
  }

  test("escalator TTL: a counter idle past the TTL restarts at 0") {
    import spark.implicits._
    val mk = (i: Int) => IncidentAlert(s"inc-t-$i", "ttl-svc", "ERROR_RATE_SPIKE", "HIGH",
      None, None, T0 + i * 10L, T0 + i * 10L + 20, Some(0.05), Some(200L))
    val stream = MemoryStream[IncidentAlert]
    val sq = Escalator.escalate(stream.toDS(), ttlMs = Some(2000L))
      .writeStream.format("memory").queryName("esc_ttl").outputMode("update").start()
    // a processing-time timeout keeps scheduling batches, so
    // processAllAvailable never settles — poll the sink instead
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("esc_ttl").count() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(spark.table("esc_ttl").count() >= n, s"esc_ttl did not reach $n rows")
    }
    try {
      stream.addData(mk(0), mk(1)) // count -> 2
      awaitRows(2)
      Thread.sleep(3500)           // exceed the 2 s TTL: state must expire
      stream.addData(mk(2), mk(3), mk(4)) // fresh counter: tag fires on the 3rd of THESE
      awaitRows(5)
    } finally sq.stop()
    val esc = spark.table("esc_ttl").filter(col("severity") === "ESCALATED")
      .select("incident_id").as[String].collect().toSeq
    // without expiry the 3rd overall (inc-t-2) would be tagged; with
    // expiry the counter restarted, so the tag lands on inc-t-4
    assert(esc == Seq("inc-t-4"), s"got $esc")
  }

  test("escalator batch replay == streaming final tags (no TTL gap in data)") {
    import spark.implicits._
    val mk = (s: String, i: Int) => IncidentAlert(s"inc-$s-$i", s, "ERROR_RATE_SPIKE", "HIGH",
      None, None, T0 + i * 10L, T0 + i * 10L + 20, Some(0.05), Some(200L))
    val alerts = (0 until 7).map(i => mk("a", i)) ++ (0 until 5).map(i => mk("b", i))
    val tagged = Escalator.escalate(alerts.toDS()).collect()
    assert(tagged.length == 12)
    val escalated = tagged.filter(_.severity == "ESCALATED").map(_.incident_id).toSet
    assert(escalated == Set("inc-a-2", "inc-a-5", "inc-b-2"))
  }

  test("slo monitor end-to-end in batch: generator -> p95 windows -> breaches") {
    val base = T0 + 40 // minute-aligned (T0 is only 20s-aligned)
    val logs = ErrorRateDetector.withEventTime(LogGenerator.logs(spark, base, 300, seed = 7))
    val p95s = LatencySloMonitor.p95Windows(logs)
    assert(p95s.count() == 5 * 4, "4 services x 5 one-minute windows")
    // payment-service base latency 300 > 100 threshold => breaches every 3rd window
    val alerts = LatencySloMonitor.monitor(logs).collect()
    assert(alerts.nonEmpty)
    assert(alerts.forall(_.`type` == "LATENCY_SLO_BREACH"))
    val payment = alerts.filter(_.service == "payment-service")
    assert(payment.length == 1, s"5 windows all breaching -> emit at window 3 only, got ${payment.length}")
  }

  test("metrics job: streaming update mode over alert stream matches batch") {
    import spark.implicits._
    val alerts = Seq(
      IncidentAlert("i1", "a", "ERROR_RATE_SPIKE", "HIGH", None, None, T0, T0 + 20, Some(0.05), Some(200L)),
      IncidentAlert("i2", "a", "LATENCY_SLO_BREACH", "CRITICAL", Some(150), Some(3), T0, T0 + 60, None, None),
      IncidentAlert("i3", "b", "LATENCY_SLO_BREACH", "CRITICAL", Some(220), Some(3), T0 + 60, T0 + 120, None, None))
    val stream = MemoryStream[IncidentAlert]
    val sq = MetricsJob.metrics(stream.toDF())
      .writeStream.format("memory").queryName("metrics_stream").outputMode("update").start()
    try {
      stream.addData(alerts: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("metrics_stream")
      .select("service", "window_start", "total_alerts", "latency_breaches", "error_spikes",
        "avg_p95_latency", "max_breach_count", "critical_ratio").collect().toSet
    val batch = MetricsJob.metrics(alerts.toDF())
      .select("service", "window_start", "total_alerts", "latency_breaches", "error_spikes",
        "avg_p95_latency", "max_breach_count", "critical_ratio").collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("codec: alert JSON round-trip preserves values; stringified numerics null out (negative case)") {
    import spark.implicits._
    val a = IncidentAlert("inc-1", "auth-service", "ERROR_RATE_SPIKE", "HIGH",
      None, None, 1767680000L, 1767680020L, Some(0.0412), Some(212L))
    val encoded = Codec.encode(Seq(a).toDS().toDF())
    assert(encoded.columns.toSeq == Seq("key", "value"))
    val back = Codec.decodeAlerts(encoded).as[IncidentAlert].collect().head
    assert(back == a)
    // the reference's literal spike encoding (error_rate_detector.py:99-102):
    // quoted numerics -> NULL under the Long/Double schema, row survives
    val legacy = Seq("""{"incident_id":"inc-2","service":"auth-service","type":"ERROR_RATE_SPIKE",
      "severity":"HIGH","window_start":"1767680000","window_end":"1767680020",
      "error_rate":"0.0412","total_logs":"212"}""".replaceAll("\n\\s*", "")).toDF("value")
    val parsed = Codec.decodeAlerts(legacy).collect().head
    assert(parsed.getAs[String]("incident_id") == "inc-2")
    assert(parsed.isNullAt(parsed.fieldIndex("window_start")), "quoted long must not coerce")
    assert(parsed.isNullAt(parsed.fieldIndex("error_rate")))
  }

  test("bloom gate on a stream: static bitmap probes map-side, no false negatives") {
    import graft.ext.CurationOps
    import spark.implicits._
    // static corpus -> packed bitmap; a stream of incoming docs is gated by
    // a stream-static broadcast probe (the standard skip-already-ingested
    // pre-filter on an ingestion stream)
    val corpusDocs = Seq((10L, "alpha beta gamma delta"), (11L, "one two three four"))
      .toDF("doc_id", "text")
    val m = 4096
    val bitmap = CurationOps.bloomBitmap(CurationOps.prefixKeyed(corpusDocs), m)
    val stream = MemoryStream[(Long, String)]
    val gated = CurationOps.bloomProbe(
      CurationOps.prefixKeyed(stream.toDF().toDF("doc_id", "text")), bitmap, m)
    val sq = gated.writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (20L, "alpha beta gamma NEW TAIL"),   // same 3-word prefix as doc 10 -> must hit
        (21L, "totally fresh words here"),
        (22L, "one two three something")))    // same prefix as doc 11 -> must hit
      sq.processAllAvailable()
    } finally sq.stop()
    val out = spark.table("bloom_gate")
      .select(col("doc_id"), col("bloom_hit")).as[(Long, Boolean)].collect().toMap
    assert(out(20L) && out(22L), s"known-prefix docs must bloom-hit: $out")
    assert(out.contains(21L), "fresh doc must flow through the gate")
  }

  test("delta-dedup gate on a stream: exact and band keys probe map-side; guaranteed_new has no false negatives") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog and naps in warm golden sun"
    val textB = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val staticCorpus = Seq((0L, textA), (2L, textB)).toDF("doc_id", "text")
    def gate(docs: org.apache.spark.sql.DataFrame) =
      graft.ext.DeltaDedup.deltaGateStreamStatic(docs, staticCorpus)
    val incoming = Seq(
      (1L, textA),                       // exact replay -> exact + near hit
      (3L, textB.replace("xi", "pi")),   // near-dup -> band hit, no exact
      (5L, "entirely novel sentence with words shared by no settled document anywhere today"),
      (7L, "too short"))                 // below shingle length, unseen hash -> new
    val stream = MemoryStream[(Long, String)]
    val sq = gate(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("delta_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("delta_gate").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(streamed(1L) == ((true, true, false)), s"exact replay must hit both: ${streamed(1L)}")
    assert(streamed(3L) == ((false, true, false)), s"near-dup must band-hit only: ${streamed(3L)}")
    assert(streamed(5L) == ((false, false, true)), s"fresh doc must be guaranteed_new: ${streamed(5L)}")
    assert(streamed(7L) == ((false, false, true)), s"short unseen doc must be guaranteed_new: ${streamed(7L)}")
    val batch = gate(incoming.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("streaming curation chain: bloom gate -> PII scrub -> quality gate == batch composition") {
    import graft.ext.{CurationOps, ScrubOps, TextOps}
    import spark.implicits._
    // already-ingested corpus -> static packed bitmap; incoming docs run
    // gate (drop already-seen prefixes) -> redact -> score -> floor as ONE
    // continuous query (every stage map-side / stream-static broadcast, so
    // append mode needs no aggregation state). The same function over the
    // same rows as a batch frame must produce the identical end state.
    val corpusDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val m = 4096
    val bitmap = CurationOps.bloomBitmap(CurationOps.prefixKeyed(corpusDocs), m)
    def chain(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val gated = CurationOps.bloomProbe(CurationOps.prefixKeyed(docs), bitmap, m)
        .filter(!col("bloom_hit"))
      val scrubbed = gated.select(col("doc_id"),
        ScrubOps.piiCountCol(col("text")).as("n_pii"),
        ScrubOps.piiCleanCol(col("text")).as("text"))
      TextOps.scoredDocs(scrubbed)
        .filter(col("quality_score") >= 0.3)
        .select(col("doc_id"), col("n_pii"), col("n_words"),
          col("quality_score"), md5(col("text")).as("clean_hash"))
    }
    val incoming = Seq(
      (10L, "alpha beta gamma NEW CONTENT"),  // corpus prefix -> gated out
      (11L, "crisp fresh words mail me at bob@example.com please"),
      (12L, "the the the the the the the the"), // degenerate ttr -> floored
      (13L, "server logs from 10.1.2.3 show a clean run of results today"))
    val stream = MemoryStream[(Long, String)]
    val sq = chain(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curation_chain")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("curation_chain").collect().map(_.toSeq).toSet
    val batch = chain(incoming.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    val byId = spark.table("curation_chain").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet == Set(11L, 13L), s"gates wrong: $byId") // 10 gated, 12 floored
    assert(byId(11L) == 1L && byId(13L) == 1L, s"PII not counted: $byId")
  }

  test("streaming chunk fan-out: scrub -> window explode runs in-flight == batch (stateless, append mode)") {
    import graft.ext.{Chunker, ScrubOps}
    import spark.implicits._
    // chunking is a pure map-side generate (PlanSpec pins zero exchanges),
    // so it composes into the ingestion chain with no aggregation state:
    // each arriving doc fans out into its training windows in the same
    // micro-batch. Same function, same rows as batch == same chunks.
    def chain(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      Chunker.chunkOf(
        docs.select(col("doc_id"), ScrubOps.piiCleanCol(col("text")).as("text")),
        chunkWords = 4, strideWords = 3)
    val incoming = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "short doc only"),
      (3L, "mail bob@example.com about w1 w2 w3 w4 w5 w6"))
    val stream = MemoryStream[(Long, String)]
    val sq = chain(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("chunk_stream").collect().map(_.toSeq).toSet
    val batch = chain(incoming.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty, s"stream $streamed != batch $batch")
    // 10 words at chunk 4 / stride 3: starts 0,3,6,9 -> 4 windows
    assert(spark.table("chunk_stream").filter(col("doc_id") === 1L).count() == 4)
    // the scrub ran before windowing: no chunk of doc 3 carries the address
    assert(spark.table("chunk_stream").filter(col("chunk_text").contains("@")).count() == 0)
  }

  test("stream-static decontamination gate: in-flight flags match the batch q39 verdicts") {
    import graft.ext.CurationOps
    import spark.implicits._
    // eval doc 7's text is the static vocabulary; incoming: a verbatim
    // copy (contaminated), a half-copy straddling the share boundary, a
    // fresh doc, and a too-short doc (must pass — q39 never emits those)
    val eval7 = (1 to 12).map(i => s"bench$i").mkString(" ")
    val bench = Seq((7L, eval7)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, eval7),                                               // ratio 1.0
      (11L, (1 to 6).map(i => s"bench$i").mkString(" ") + " " +
            (1 to 6).map(i => s"own$i").mkString(" ")),           // partial
      (12L, "completely fresh material with no bench trigrams inside"),
      (13L, "two words"))
    val stream = MemoryStream[(Long, String)]
    val sq = CurationOps.decontaminationGateStreamStatic(
        stream.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("decontam_gate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(streamed.length == 4, "the gate flags, it does not drop")
    val byId = streamed.map(t => t._1 -> t).toMap
    assert(byId(10L)._4 && !byId(12L)._4 && !byId(13L)._4, s"verdicts wrong: $byId")
    assert(byId(13L)._2 == 0L, "short doc has no shingles")
    // batch equivalence: the gate's flagged set == q39's emitted set, and
    // the overlap numbers agree row-for-row on the flagged docs
    val batchGate = CurationOps.decontaminationGateStreamStatic(
      incoming.toDF("doc_id", "text"), bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(streamed.toSet == batchGate.toSet, "stream != batch gate")
    val q39rows = CurationOps.decontaminationAgainst(
      incoming.toDF("doc_id", "text"), bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.filter(_._4).map(t => (t._1, t._2, t._3)).toSet == q39rows,
      s"gate flags diverge from batch q39: $q39rows vs ${streamed.toSeq}")
  }

  test("stream-static kmeans assignment: streaming points labeled against the static fixed point == batch") {
    import spark.implicits._
    // ingestion-time clustering: the model is fit ONCE on the already-
    // ingested corpus (eager, k-row checkpoint); arriving vectors are
    // labeled map-side against the broadcast centroids and gated per cell
    // in the SAME continuous query — no streaming aggregation state, so
    // append mode composes with the curation chain stages above.
    val staticCorpus = ((0L +: (2L to 5L)).map(i => (i, Array.fill(4)(1.0f))) ++
      (Seq(1L, 6L, 7L).map(i => (i, Array.fill(4)(-1.0f))))).toDF("vec_id", "embedding")
    def chain(pts: org.apache.spark.sql.DataFrame) =
      graft.ext.KMeans.assignmentsStreamStatic(pts, staticCorpus, k = 2)
        .select(col("vec_id"), col("cid"), col("dist"))
    val incoming = Seq(
      (100L, Array.fill(4)(1.0f)),            // plus-cluster -> seed 0
      (101L, Array.fill(4)(-1.0f)),           // minus-cluster -> seed 1
      (102L, Array(1.0f, 1.0f, -1.0f, -1.0f))) // equidistant tie -> lowest cid
    val stream = MemoryStream[(Long, Array[Float])]
    val sq = chain(stream.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("assign_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("assign_gate").collect().map(_.toSeq).toSet
    val batch = chain(incoming.toDF("vec_id", "embedding")).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    val cids = spark.table("assign_gate").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cids == Map(100L -> 0, 101L -> 1, 102L -> 0), s"labels wrong: $cids")
  }

  test("stream-static bm25 gate: arriving docs scored against frozen corpus stats == batch, agrees with q74 scores") {
    import graft.ext.Bm25
    import spark.implicits._
    // static corpus: rare term 'needle' in one doc, common filler in all
    val corpus = Seq(
      (1L, "filler words all over needle here"),
      (2L, "filler words all over again twice filler"),
      (3L, "filler and more filler padding out this one"),
      (4L, "words words words filler")).toDF("doc_id", "text")
    val queries = Seq((1L, "needle filler"), (2L, "absent"))
    def gate(docs: DataFrame) = Bm25.bm25GateStreamStatic(docs, corpus, queries)
    val incoming = Seq(
      (10L, "needle needle filler"),     // hits both terms of query 1
      (11L, "filler only material"),     // common term only
      (12L, "nothing relevant at all"))  // no overlap -> no rows
    val stream = MemoryStream[(Long, String)]
    val sq = gate(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bm25_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("bm25_gate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = gate(incoming.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty, s"stream $streamed != batch $batch")
    assert(streamed.map(_._1) == Set(10L, 11L), "doc 12 has no positive score")
    assert(streamed.forall(_._2 == 1L), "query 'absent' (df=0, tf=0) scores nothing")
    // cross-check the gate's arithmetic against the batch ranking operator:
    // score the SAME docs the stats were fit on — the gate must reproduce
    // q74's (query, doc) scores exactly (k large enough to keep all)
    val ranked = Bm25.bm25TopKOf(corpus, queries, k = 10).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getDouble(3))).toSet
    val gateOnCorpus = gate(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gateOnCorpus == ranked, s"gate scores diverge: $gateOnCorpus vs $ranked")
  }

  test("stream-static calibration gate: arrivals ranked against the frozen ECDF == batch, reproduces q77 on the fitting corpus") {
    import graft.ext.Calibrate
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    // reference corpus: two sources with different score distributions
    val corpus = Seq(
      (1L, mk(4), "srcA"), (2L, mk(8), "srcA"), (3L, mk(16), "srcA"),
      (10L, mk(6), "srcB"), (11L, mk(24), "srcB")).toDF("doc_id", "text", "source")
    def gate(docs: org.apache.spark.sql.DataFrame) =
      Calibrate.calibrateGateStreamStatic(docs, corpus)
    val incoming = Seq(
      (20L, mk(8), "srcA"),   // exact cell hit: ranks like doc 2
      (21L, mk(12), "srcA"),  // between cells: ECDF at the largest cell <= its score
      (22L, mk(2), "srcA"),   // below every reference cell -> cum 0
      (23L, mk(6), "srcX"))   // unknown source -> cold-start flag
    val stream = MemoryStream[(Long, String, String)]
    val sq = gate(stream.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("calib_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("calib_gate").collect().map(_.toSeq).toSet
    val batch = gate(incoming.toDF("doc_id", "text", "source")).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty, s"stream $streamed != batch $batch")
    val byId = spark.table("calib_gate").collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(20L).getBoolean(3) && byId(20L).getLong(5) == 2, s"exact-cell rank: ${byId(20L)}")
    assert(byId(21L).getLong(5) == 2, s"between-cells rank floors to the cell below: ${byId(21L)}")
    assert(byId(22L).getLong(5) == 0, s"below-all rank 0: ${byId(22L)}")
    assert(!byId(23L).getBoolean(3) && byId(23L).isNullAt(6), s"unknown source flagged: ${byId(23L)}")
    // self-consistency: the gate run over the fitting corpus reproduces
    // the batch calibrator exactly
    val viaGate = gate(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(5), r.getDouble(6))).toSet
    val viaBatch = Calibrate.calibrateBySource(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSet
    assert(viaGate == viaBatch, s"gate diverges from q77: $viaGate vs $viaBatch")
  }

  test("stream-static ann gate: arrivals matched against in-cell corpus only == batch, threshold respected") {
    import graft.ext.Similarity
    import spark.implicits._
    // static corpus: cluster 0 near (+1,+1,..), cluster 1 near (-1,-1,..)
    val corpus = (
      (1L to 3L).map(i => (i, Array.fill(8)(1.0f), 0)) ++
      (4L to 6L).map(i => (i, Array.fill(8)(-1.0f), 1))).toDF("vec_id", "embedding", "label")
    def gate(df: org.apache.spark.sql.DataFrame) =
      Similarity.annGateStreamStatic(df, corpus, minSim = 0.9)
    val incoming = Seq(
      (100L, Array.fill(8)(0.99f)),                     // near-dup of cluster 0 -> 3 alerts
      (101L, Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)) // orthogonal -> assigned a cell, sim ~0, no alert
    )
    val stream = MemoryStream[(Long, Array[Float])]
    val sq = gate(stream.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("ann_gate")
      .outputMode("append").start()
    try {
      stream.addData(incoming)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.table("ann_gate").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = gate(incoming.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed.map(_._1) == Set(100L), s"only the near-dup alerts: $streamed")
    assert(streamed.size == 3 && streamed.forall(t => t._2 == 0 && t._4 >= 0.9),
      s"all three cluster-0 neighbors, in-cell only: $streamed")
  }

  test("ST1 at scale: 100k-window shuffled multi-batch replay == one-shot batch (emissions identical)") {
    // The §5.3 batch-replay property, hardened: 50 services × 2 000
    // windows arriving over 10 micro-batches. Batches partition the
    // timeline in order (per-key cross-batch monotonicity is the
    // operator's contract — the lastWindowStart guard DROPS out-of-order
    // replays by design), but arrival WITHIN each batch is fully shuffled
    // across services and windows, so every micro-batch exercises the
    // in-batch sort + state handoff across a 10 000-row slice. A sort or
    // state regression that only shows under real interleaving volume
    // fails here, not in the 9-row unit tests above.
    import spark.implicits._
    val services = (0 until 50).map(i => f"svc-$i%02d")
    val nWin = 2000
    val batches = 10
    val rnd = new scala.util.Random(4242)
    // ~55% breach rate: runs of 3+ are frequent, healthy resets interleave
    val p95 = Array.tabulate(services.size, nWin)((_, _) =>
      if (rnd.nextDouble() < 0.55) 150.0 else 50.0)
    def win(s: Int, i: Int) =
      P95Window(services(s), T0 + i * 60L, T0 + (i + 1) * 60L, p95(s)(i))
    val stream = MemoryStream[P95Window]
    val sq = BreachDetector.detect(stream.toDS())
      .writeStream.format("memory").queryName("replay_st1").outputMode("update").start()
    try {
      val perBatch = nWin / batches
      for (b <- 0 until batches) {
        val slice = for (s <- services.indices; i <- b * perBatch until (b + 1) * perBatch)
          yield win(s, i)
        stream.addData(rnd.shuffle(slice))
        sq.processAllAvailable() // one micro-batch per timeline slice
      }
    } finally sq.stop()
    val streamed = spark.table("replay_st1").as[IncidentAlert].collect()
    val all = for (s <- services.indices; i <- 0 until nWin) yield win(s, i)
    val oneShot = BreachDetector.detect(rnd.shuffle(all).toDS()).collect()
    assert(streamed.length == oneShot.length && streamed.toSet == oneShot.toSet,
      s"streaming ${streamed.length} alerts != batch ${oneShot.length}")
    // sanity: the volume actually produced emissions (not a vacuous pass)
    assert(streamed.length > 1000, s"expected a dense alert stream, got ${streamed.length}")
  }

  test("ST2 at scale: 100k-alert shuffled multi-batch replay == one-shot batch (same alerts tagged)") {
    // ST2's face of the same property: counters span 10 micro-batches of
    // 10 000 shuffled alerts; the deterministic (window_start, incident_id)
    // in-batch sort must tag EXACTLY the one-shot batch's every-3rd alerts.
    import spark.implicits._
    val services = (0 until 50).map(i => f"svc-$i%02d")
    val nAlerts = 2000
    val batches = 10
    val rnd = new scala.util.Random(2424)
    def mk(s: String, i: Int) = IncidentAlert(f"inc-$s-$i%04d", s, "ERROR_RATE_SPIKE",
      "HIGH", None, None, T0 + i * 10L, T0 + i * 10L + 20, Some(0.05), Some(200L))
    val stream = MemoryStream[IncidentAlert]
    val sq = Escalator.escalate(stream.toDS(), ttlMs = None)
      .writeStream.format("memory").queryName("replay_st2").outputMode("update").start()
    try {
      val perBatch = nAlerts / batches
      for (b <- 0 until batches) {
        val slice = for (s <- services; i <- b * perBatch until (b + 1) * perBatch)
          yield mk(s, i)
        stream.addData(rnd.shuffle(slice))
        sq.processAllAvailable()
      }
    } finally sq.stop()
    val streamed = spark.table("replay_st2").as[EscalationEvent].collect()
    val all = for (s <- services; i <- 0 until nAlerts) yield mk(s, i)
    val oneShot = Escalator.escalate(rnd.shuffle(all).toDS(), ttlMs = None).collect()
    assert(streamed.length == services.size * nAlerts, "passthrough: every alert forwarded")
    assert(streamed.toSet == oneShot.toSet, "streaming tags != batch tags")
    val escalated = streamed.filter(_.severity == "ESCALATED")
    // every 3rd alert per service, by construction of the counter
    assert(escalated.length == services.size * (nAlerts / 3),
      s"expected ${services.size * (nAlerts / 3)} escalations, got ${escalated.length}")
    assert(escalated.forall(_.escalation_reason.contains("MULTIPLE_INCIDENTS")))
  }

  test("generator: deterministic for a seed, spike seconds carry elevated error rate") {
    val a = LogGenerator.logs(spark, T0, 120, seed = 1).collect()
    val b = LogGenerator.logs(spark, T0, 120, seed = 1).collect()
    assert(a.toSeq == b.toSeq)
    val df = LogGenerator.logs(spark, T0, 120, seed = 1)
      .withColumn("sec", unix_timestamp(to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss")))
      .withColumn("spike", pmod(col("sec"), lit(60)) < 5)
      .filter(col("service") === "auth-service")
      .groupBy("spike")
      .agg(avg((col("level") === "ERROR").cast("int")).as("er"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(df(true) > 0.9, s"spike error rate ${df(true)} (x10 of 0.30, capped)")
    assert(df(false) > 0.2 && df(false) < 0.4)
  }
}
