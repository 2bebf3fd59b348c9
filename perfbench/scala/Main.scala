package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (see perfbench/README.md). Runs one workload
  * in one process and writes its raw samples to `<out>/raw.json`; the
  * Python side (run.py) turns them into metrics and checks the batch
  * outputs.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <dir> --sf <dir> --cores <n> --rate <events/s>
  *
  * A traced run measures the workload twice, untraced and then with the
  * listeners attached, so the tracing overhead is a measured difference. */
object Main {

  /** Untimed set-ups first (JIT and the first Spark jobs), then the timed
    * ones; `setup_s` is the median of their Java-thread CPU times. */
  val PrimeSetups = 4
  val SetupReps = 5

  /** The settings `graft.Bench` builds its session with, and nothing else
    * that changes the engine. The two directory settings keep every file
    * Spark writes inside the benchmark's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "2m"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The keys `graft.Bench` sets, read back from the live session. */
  val BenchKeys = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled", "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.ui.enabled")

  def effectiveConf(spark: SparkSession): Map[String, String] =
    BenchKeys.map(k => k -> spark.conf.getOption(k).getOrElse("<unset>")).toMap

  def timed[T](body: => T): (T, Double) = {
    val t0 = Clock.ms
    val r = body
    (r, (Clock.ms - t0) / 1000.0)
  }

  private val threadBean =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU ns of every live Java thread: the driver, stream execution and
    * task threads. The JIT compiler and GC threads are not Java threads, so
    * their CPU time, most of the process's in a cold query and the noisiest
    * part of it, is not in it; nor is time the hypervisor steals. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Java-thread CPU ms since the snapshot `from`; a thread started since
    * counts from 0, a thread ended since is not counted. */
  def threadCpuMsSince(from: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e6

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toInt
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")
    val sf = opts("sf")
    val cores = opts("cores").toInt
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))

    val (spark, sessionS) = timed(session(cores, work))
    val conf = effectiveConf(spark)
    val result: Map[String, Any] =
      try {
        val w: Workload = workload match {
          case "alerts_stream" => new AlertsStream(opts("rate").toDouble, sf)
          case "scan_batch" => new ScanBatch(sf, out)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
        def phase[T](name: String)(body: => T): T = { val (r, s) = timed(body); phases(name) = s; r }
        phase("prime")((1 to PrimeSetups).foreach(_ => w.setup(spark, seed, seconds)))
        val setups = phase("setup")((1 to SetupReps).map { _ =>
          val c0 = threadCpu()
          val (st, wallS) = timed(w.setup(spark, seed, seconds))
          (st, wallS, threadCpuMsSince(c0) / 1000.0)
        })
        val staged = setups.last._1
        phase("warm")(w.warm(spark, staged, work))
        val untraced = phase("measure")(w.measure(spark, staged, seconds, new Recorder(false), work))
        val traced =
          if (!trace) None
          else phase("traced") {
            val rec = new Recorder(true)
            rec.attach(spark)
            val m = w.measure(spark, staged, seconds, rec, work)
            rec.detach(spark)
            Some(m ++ Map(
              "spans" -> rec.spans,
              "jobs" -> rec.jobs.jobList,
              "stages" -> rec.jobs.stages.toArray.toSeq,
              "progress" -> rec.progress.records.toArray.toSeq))
          }
        val extra = if (trace) phase("extra")(w.tracedExtra(spark, staged, work)) else Map.empty[String, Any]
        Map("setup_wall_s" -> setups.map(_._2), "setup_cpu_s" -> setups.map(_._3),
          "setup_info" -> w.setupInfo(staged),
          "untraced" -> untraced, "traced" -> traced, "extra" -> extra, "phases_s" -> phases)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          Map("error" -> s"${t.getClass.getName}: ${t.getMessage}")
      }
    val record = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "session_s" -> sessionS, "conf" -> conf,
      "rss_peak_kb" -> vmHwmKb()) ++ result
    Files.writeString(Paths.get(s"$out/raw.json"), Json.render(record))
    SparkSession.active.stop()
  }
}

/** One benchmark workload. [[setup]] makes the inputs from the seed (timed,
  * counts in `setup_s`); [[warm]] is untimed; [[measure]] runs the timed
  * interval for `seconds` and then checks its outputs outside that
  * interval, returning raw samples plus `attempted`/`failed`. */
trait Workload {
  type Staged
  def setup(spark: SparkSession, seed: Int, seconds: Double): Staged
  def setupInfo(s: Staged): Map[String, Any] = Map.empty
  def warm(spark: SparkSession, s: Staged, work: String): Unit
  def measure(spark: SparkSession, s: Staged, seconds: Double, rec: Recorder, work: String): Map[String, Any]
  def tracedExtra(spark: SparkSession, s: Staged, work: String): Map[String, Any] = Map.empty
}
