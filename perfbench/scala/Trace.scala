package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the same time
  * base as Spark's listener events (`System.currentTimeMillis`). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's span store. A span is (id, parent, name, layer, start,
  * end, attrs); the benchmark opens spans around its own calls into each
  * layer, and the two listeners below record the micro-batches, jobs and
  * stages that become the spans beneath them. Everything stays in memory
  * until the run's record is written. With `enabled = false` every call is
  * a no-op and no listener is registered. */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val open = new ConcurrentHashMap[Long, mutable.Map[String, Any]]()
  private val closed = new java.util.concurrent.ConcurrentLinkedQueue[collection.Map[String, Any]]()

  /** Opens a span and returns its id (0 when tracing is off). */
  def start(name: String, layer: String, parent: Long, attrs: Map[String, Any] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      open.put(id, mutable.Map[String, Any]("id" -> id, "parent" -> parent, "name" -> name,
        "layer" -> layer, "start_ms" -> Clock.ms) ++= attrs)
      id
    }

  def end(id: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) {
      val s = open.remove(id)
      if (s != null) { s("end_ms") = Clock.ms; s ++= attrs; closed.add(s) }
    }

  def spans: Seq[collection.Map[String, Any]] = closed.asScala.toSeq

  val jobs = new JobListener
  val progress = new ProgressListener

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    jobs.quiesce()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(progress)
  }
}

/** Records every Spark job, stage and task of the traced run. Jobs carry
  * their start/end time, stage ids and the streaming query/batch they ran
  * for (local properties); stages carry task aggregates and the per-task
  * run times needed for the skew figure. Jobs of batch queries are
  * attributed to queries afterwards by time interval, because
  * `BroadcastExchangeExec` overwrites the job group. */
final class JobListener extends SparkListener {
  private val events = new AtomicInteger(0)
  val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.Map[String, Any]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[collection.Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs.put(e.jobId, mutable.Map[String, Any](
      "job" -> e.jobId, "start_ms" -> e.time.toDouble,
      "stages" -> e.stageIds.toList,
      "description" -> prop("spark.job.description"),
      "query_id" -> prop("sql.streaming.queryId"),
      "batch_id" -> prop("streaming.sql.batchId")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val j = jobs.get(e.jobId)
    if (j != null) j.synchronized {
      j("end_ms") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  private def agg(stage: Int, attempt: Int): mutable.Map[String, Any] =
    stageTasks.computeIfAbsent((stage, attempt), _ => mutable.Map[String, Any](
      "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "shuffle_read_bytes" -> 0L, "shuffle_write_bytes" -> 0L, "spill_bytes" -> 0L,
      "task_ms" -> mutable.ArrayBuffer[Long]()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val a = agg(e.stageId, e.stageAttemptId)
    a.synchronized {
      def inc(k: String, v: Long): Unit = a(k) = a(k).asInstanceOf[Long] + v
      inc("tasks", 1)
      a("task_ms").asInstanceOf[mutable.ArrayBuffer[Long]] += e.taskInfo.duration
      if (m != null) {
        inc("run_ms", m.executorRunTime)
        inc("cpu_ns", m.executorCpuTime)
        inc("gc_ms", m.jvmGCTime)
        inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        inc("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val i = e.stageInfo
    val a = agg(i.stageId, i.attemptNumber())
    a.synchronized {
      stages.add(Map[String, Any]("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "name" -> i.name, "num_tasks" -> i.numTasks,
        "start_ms" -> i.submissionTime.map(_.toDouble), "end_ms" -> i.completionTime.map(_.toDouble),
        "failed" -> i.failureReason.isDefined) ++ a.toMap)
    }
  }

  /** Waits until the asynchronous listener bus has delivered every event of
    * the work done so far: all started jobs have ended and no event has
    * arrived for 300 ms (bounded at 15 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    var last = -1
    while (System.nanoTime() < deadline &&
      (last != events.get() || jobs.values().asScala.exists(j => !j.contains("end_ms")))) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  def jobList: Seq[collection.Map[String, Any]] =
    jobs.values().asScala.toSeq.map(j => j.synchronized(j.toMap))
}

/** Collects every `StreamingQueryProgress` of the traced run as a flat
  * record: the durationMs split, input rows, and the state operators'
  * rows, memory, commit time and watermark drops. */
final class ProgressListener extends StreamingQueryListener {
  val records = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    records.add(ProgressListener.record(e.progress))
}

object ProgressListener {
  def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = Map(
    "name" -> p.name, "query_id" -> p.id.toString, "batch_id" -> p.batchId,
    "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "input_rows" -> p.numInputRows,
    "state" -> p.stateOperators.toSeq.map(s => Map(
      "rows" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
      "commit_ms" -> s.commitTimeMs, "dropped_by_watermark" -> s.numRowsDroppedByWatermark)))
}
