package graft

import scala.collection.mutable

import graft.agg.PercentileDisc
import graft.model.RawLog
import graft.pipeline.{ErrorRateDetector, LatencySloMonitor}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.TimeWindow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Pure-Scala reference of the streaming window stages: Spark's window
  * assignment plus [[graft.pipeline.ServiceWindows]]' close and late rule.
  * Bounds and event times are µs. */
object WindowModel {

  final case class Ev(service: String, sec: Long, level: String, latency: Int)

  /** An interval string in µs, by the parser Spark's `window()` uses. */
  def micros(interval: String): Long = TimeWindow.getIntervalInMicroSeconds(interval)

  /** The windows `window(ts, size, slide)` puts `ts` in: starts on the slide
    * grid from the epoch, every window with start ≤ ts < end. */
  def windows(ts: Long, size: Long, slide: Long): Seq[(Long, Long)] = {
    val last = ts - Math.floorMod(ts, slide)
    Iterator.iterate(last)(_ - slide).takeWhile(_ + size > ts).map(s => (s, s + size)).toSeq
  }

  /** Every window that closes over `batches` (arrival order, one micro-batch
    * each), with the values folded into it:
    *  - the query watermark starts at 0 and, for each batch, is max(itself,
    *    max event time of the batches before − delay);
    *  - a row joins each of its windows that ends after both its service's
    *    closed bound and the watermark, else that pair is dropped;
    *  - after its rows, a service's closed bound becomes max(that, its max
    *    event time − delay); a window closes once its end is ≤ max(its
    *    service's bound, the watermark);
    *  - with `noDataBatches`, Spark runs a batch without data whenever the
    *    watermark has advanced, which closes windows the new watermark
    *    passed; without, they close in the next data batch. */
  def emitted(batches: Seq[Seq[Ev]], size: Long, slide: Long, delay: Long, noDataBatches: Boolean,
              value: Ev => Double): Seq[((String, Long, Long), Seq[Double])] = {
    var watermark = 0L
    var maxAll = Long.MinValue
    val closed = mutable.Map[String, Long]().withDefaultValue(Long.MinValue)
    val maxOf = mutable.Map[String, Long]().withDefaultValue(Long.MinValue)
    val open = mutable.Map[(String, Long, Long), Vector[Double]]()
    val out = mutable.ArrayBuffer[((String, Long, Long), Seq[Double])]()
    def emit(): Unit = open.keys.toList
      .filter { case (s, _, end) => end <= math.max(closed(s), watermark) }
      .foreach(k => out += k -> open.remove(k).get)
    batches.foreach { batch =>
      watermark = math.max(watermark, if (maxAll == Long.MinValue) 0L else maxAll - delay)
      batch.groupBy(_.service).foreach { case (s, rows) =>
        val after = math.max(closed(s), watermark)
        rows.foreach { e =>
          val ts = e.sec * 1000000L
          maxOf(s) = math.max(maxOf(s), ts)
          windows(ts, size, slide).filter(_._2 > after).foreach { case (start, end) =>
            open((s, start, end)) = open.getOrElse((s, start, end), Vector.empty) :+ value(e)
          }
        }
        closed(s) = math.max(after, maxOf(s) - delay)
      }
      emit()
      maxAll = math.max(maxAll, batch.map(_.sec * 1000000L).max)
      if (noDataBatches) {
        watermark = math.max(watermark, maxAll - delay)
        emit()
      }
    }
    out.toSeq
  }
}

/** The streaming window stages against [[WindowModel]], against the batch
  * branch, and the micro-batch a window comes out in. */
class ServiceWindowsSpec extends SparkSpec {
  import WindowModel._

  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val T0 = 1767680000L
  private val Services = Seq("auth-service", "payment-service", "search-service")

  private def iso(sec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(sec))

  private def raw(e: Ev, i: Int): RawLog =
    RawLog(iso(e.sec), e.service, "node-1", e.level, s"req-$i", "m", e.latency)

  private def errorRows(df: DataFrame): Seq[(String, Long, Long, Long, Double)] =
    df.select("service", "window_start", "window_end", "total_logs", "error_rate").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).sorted

  private def p95Rows(ds: Dataset[_]): Seq[(String, Long, Long, Double)] =
    ds.toDF().select("service", "window_start", "window_end", "p95").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted

  private def errorModel(batches: Seq[Seq[Ev]], noData: Boolean): Seq[(String, Long, Long, Long, Double)] =
    emitted(batches, micros(ErrorRateDetector.WindowSize), micros(ErrorRateDetector.Slide),
        micros(ErrorRateDetector.Watermark), noData, e => if (e.level == "ERROR") 1.0 else 0.0).map {
      case ((s, start, end), vs) =>
        val rate = BigDecimal(vs.sum / vs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (s, start / 1000000L, end / 1000000L, vs.size.toLong, rate)
    }.sorted

  private def p95Model(batches: Seq[Seq[Ev]], noData: Boolean): Seq[(String, Long, Long, Double)] =
    emitted(batches, micros(LatencySloMonitor.Window), micros(LatencySloMonitor.Window),
        micros(LatencySloMonitor.Watermark), noData, _.latency.toDouble).map {
      case ((s, start, end), vs) => (s, start / 1000000L, end / 1000000L, PercentileDisc.of(0.95, vs))
    }.sorted

  /** Streams `batches` through both stages, one micro-batch each (and the
    * batches without data Spark adds when `noData`), and returns every row
    * the two queries emitted. */
  private def streamBoth(batches: Seq[Seq[Ev]], noData: Boolean, tag: String)
      : (Seq[(String, Long, Long, Long, Double)], Seq[(String, Long, Long, Double)]) = {
    import spark.implicits._
    val errIn = MemoryStream[RawLog]
    val p95In = MemoryStream[RawLog]
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, noData.toString)
    val (errQ, p95Q) = try (
      ErrorRateDetector.detect(ErrorRateDetector.withEventTime(errIn.toDF()), minVolume = 1, threshold = 0.0)
        .writeStream.format("memory").queryName(s"sw_err_$tag").outputMode("append").start(),
      LatencySloMonitor.p95Windows(ErrorRateDetector.withEventTime(p95In.toDF()))
        .writeStream.format("memory").queryName(s"sw_p95_$tag").outputMode("append").start())
    finally spark.conf.unset(key)
    try {
      var i = 0
      batches.foreach { b =>
        val rows = b.map { e => i += 1; raw(e, i) }
        errIn.addData(rows); p95In.addData(rows)
        errQ.processAllAvailable(); p95Q.processAllAvailable()
      }
    } finally { errQ.stop(); p95Q.stop() }
    (errorRows(spark.table(s"sw_err_$tag")), p95Rows(spark.table(s"sw_p95_$tag")))
  }

  /** A random input of one of four shapes, in arrival order. */
  private def scenario(kind: Int, rnd: scala.util.Random): Seq[Ev] = {
    def ev(s: String, sec: Long) =
      Ev(s, T0 + sec, if (rnd.nextDouble() < 0.3) "ERROR" else "INFO", 10 + rnd.nextInt(490))
    def spread(n: Int, s: String, from: Int, to: Int) = Seq.fill(n)(ev(s, from + rnd.nextInt(to - from)))
    val base = Services.flatMap(s => spread(40 + rnd.nextInt(40), s, 0, 150))
    def arriving(es: Seq[Ev], delay: Ev => Long) = es.map(e => (e, e.sec + delay(e))).sortBy(_._2).map(_._1)
    kind match {
      case 0 => arriving(base, _ => 0)                                   // in order
      case 1 => arriving(base, _ => rnd.nextInt(6).toLong)               // shuffled within 5 s
      case 2 => arriving(base, _ => if (rnd.nextDouble() < 0.15) 6L + rnd.nextInt(35) else 0L) // late by > 5 s
      case 3 =>                                     // one service idle while the others advance
        val idle = base.filter(_.service != Services(1)) ++ spread(30, Services(1), 0, 30)
        val resumed = if (rnd.nextBoolean()) spread(8, Services(1), 25, 45) else Nil
        arriving(idle ++ resumed, e => if (resumed.contains(e)) 110L else 0L)
    }
  }

  /** Cuts `events` into micro-batches of 1–80 rows. */
  private def microBatches(events: Seq[Ev], rnd: scala.util.Random): Seq[Seq[Ev]] =
    Iterator.unfold(events)(rest => if (rest.isEmpty) None else Some(rest.splitAt(1 + rnd.nextInt(80))))
      .toSeq

  /** No row arrives more than the watermark delay behind the newest event
    * before it. */
  private def noneLate(events: Seq[Ev]): Boolean =
    events.scanLeft((events.head.sec, true)) { case ((mx, ok), e) =>
      (math.max(mx, e.sec), ok && e.sec >= mx - 5)
    }.forall(_._2)

  test("window assignment: the model's windows == Spark's window() (unaligned, pre-1970, on boundaries)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val stages = Seq((ErrorRateDetector.WindowSize, ErrorRateDetector.Slide),
      (LatencySloMonitor.Window, LatencySloMonitor.Window))
    stages.foreach { case (size, slide) =>
      val (sizeUs, slideUs) = (micros(size), micros(slide))
      val unaligned = Seq.fill(200)(rnd.nextLong() % 10000000000000000L)   // ±317 years around 1970
      val boundaries = Seq.fill(50)((rnd.nextLong() % 100000000L) * slideUs).flatMap(b => Seq(b - 1, b, b + 1))
      val ts = (unaligned ++ boundaries ++ Seq(0L, -1L, 1L, -slideUs, -sizeUs - 1)).distinct
      val got = ts.toDF("us")
        .select(col("us"), window(timestamp_micros(col("us")), size, slide).as("w"))
        .select(col("us"), unix_micros(col("w.start")), unix_micros(col("w.end")))
        .as[(Long, Long, Long)].collect().groupBy(_._1).map { case (k, rows) => k -> rows.map(r => (r._2, r._3)).sorted.toSeq }
      ts.foreach { t =>
        assert(got.getOrElse(t, Nil) == windows(t, sizeUs, slideUs).sorted, s"$size/$slide at $t µs")
      }
    }
  }

  test("late data: streamed windows == the model on random micro-batches; == batch when no row is late") {
    import spark.implicits._
    (0 until 8).foreach { c =>
      val rnd = new scala.util.Random(100 + c)
      val (kind, noData) = (c % 4, c < 4)
      val events = scenario(kind, rnd)
      // two far-future rows: the first moves the watermark past every real
      // window, the second is a data batch that runs on that watermark
      val last = events.map(_.sec).max
      val batches = microBatches(events, rnd) ++
        Seq(Seq(Ev(Services.head, last + 3600, "INFO", 10)), Seq(Ev(Services.head, last + 3601, "INFO", 10)))
      val (errs, p95s) = streamBoth(batches, noData, s"late_$c")
      val what = s"case $c (kind $kind, no-data batches $noData)"
      assert(errs.nonEmpty && p95s.nonEmpty, s"$what produced nothing")
      assert(errs == errorModel(batches, noData), s"$what: error-rate stream != model")
      assert(p95s == p95Model(batches, noData), s"$what: p95 stream != model")
      if (noneLate(events)) {
        val logs = ErrorRateDetector.withEventTime(events.zipWithIndex.map { case (e, i) => raw(e, i) }.toDF())
        assert(errs == errorRows(ErrorRateDetector.detect(logs, minVolume = 1, threshold = 0.0)),
          s"$what: error-rate stream != batch")
        assert(p95s == p95Rows(LatencySloMonitor.p95Windows(logs)), s"$what: p95 stream != batch")
      } else assert(kind >= 2, s"$what: an in-order or 5 s-shuffled input has a late row")
    }
  }

  /** Runs `detect` with a `foreachBatch` sink; returns (batchId, service,
    * window_start) per emitted row and the query. */
  private def recorded(): (MemoryStream[RawLog], mutable.ArrayBuffer[(Long, String, Long)], StreamingQuery) = {
    import spark.implicits._
    val stream = MemoryStream[RawLog]
    val seen = mutable.ArrayBuffer[(Long, String, Long)]()
    val q = ErrorRateDetector.detect(ErrorRateDetector.withEventTime(stream.toDF()), minVolume = 1, threshold = 0.0)
      .writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val rows = b.select("service", "window_start").collect()
        seen.synchronized(rows.foreach(r => seen += ((id, r.getString(0), r.getLong(1)))))
      }.start()
    (stream, seen, q)
  }

  private def dataBatches(q: StreamingQuery): Seq[Long] =
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq

  test("latency: a window comes out in the micro-batch that carries its service's closing event") {
    val (stream, seen, q) = recorded()
    try {
      stream.addData((0 until 20).map(i => raw(Ev(Services.head, T0 + i, "ERROR", 10), i)))
      q.processAllAvailable()
      assert(!seen.exists(_._3 == T0), "window [T0, T0+20) closed before its closing event")
      // T0 + 25 ≥ end + 5 s: this event closes [T0, T0 + 20)
      stream.addData(raw(Ev(Services.head, T0 + 25, "INFO", 10), 99))
      q.processAllAvailable()
      val closing = dataBatches(q).last
      val emitted = seen.synchronized(seen.filter(r => r._2 == Services.head && r._3 == T0).map(_._1).toSeq)
      assert(emitted == Seq(closing), s"window emitted by batches $emitted, closing event in batch $closing")
    } finally q.stop()
  }

  test("latency: an idle service's window comes out once another service moves the query watermark past it") {
    val (stream, seen, q) = recorded()
    val Seq(busy, idle) = Services.take(2)
    try {
      stream.addData((0 until 20).flatMap(i => Seq(
        raw(Ev(busy, T0 + i, "INFO", 10), 2 * i), raw(Ev(idle, T0 + i, "ERROR", 10), 2 * i + 1))))
      q.processAllAvailable()
      stream.addData(raw(Ev(busy, T0 + 40, "INFO", 10), 99))
      q.processAllAvailable()
      val end = java.time.Instant.ofEpochSecond(T0 + 20)
      val passed = q.recentProgress.filter(p => Option(p.eventTime.get("watermark"))
        .exists(w => !java.time.Instant.parse(w).isBefore(end))).map(_.batchId)
      assert(passed.nonEmpty, "the watermark never passed the idle window's end")
      val emitted = seen.synchronized(seen.filter(r => r._2 == idle && r._3 == T0).map(_._1).toSeq)
      assert(emitted == Seq(passed.min), s"idle window emitted by batches $emitted, watermark passed it in ${passed.min}")
      val busyAt = seen.synchronized(seen.filter(r => r._2 == busy && r._3 == T0).map(_._1).toSeq)
      assert(busyAt == Seq(dataBatches(q).last), s"busy window emitted by batches $busyAt")
    } finally q.stop()
  }
}
