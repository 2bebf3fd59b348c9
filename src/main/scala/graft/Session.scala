package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every `main` in the engine
  * gets its session here, so a tool cannot profile a different engine
  * from the one `graft.Bench` times. There are two confs:
  *
  *  - [[engineConf]]: what `Bench`, `Verify`, the streaming demo and the
  *    probes run on — `local[cores]` with the r16 AQE settings below.
  *  - [[pinnedConf]]: `local[4]`, 4 shuffle partitions, Spark's AQE
  *    defaults — the conf the plan pins (PLAN_MANIFEST.txt, PLANS.md) are
  *    generated under and the test suite's shared session uses.
  *
  * `cores` comes from SPARK_GRAFT_CPUS (default 32). */
object Session {

  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def engineConf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // r16 optimization (guide §2.2/§6): let AQE re-derive CACHED plan
    // output partitioning from measured bytes. Off (the default) every
    // swapPersist'd census frame materializes with the raw
    // spark.sql.shuffle.partitions layout, so each of its readers pays
    // a fixed-partition-count map stage regardless of size (measured
    // q156 at sf0.1: 1850 tasks/run vs 82 with the conf on); on, the
    // cache's partitioning tracks data volume at ANY scale — the
    // scale-adaptive posture the optimization brief asks for.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // r16 optimization (guide §2.2): AQE coalesce target, parameterised
    // (scale-dependent — the brief's rule). Local default 2m: at bench
    // scale the corpus-sized cached frames (a few MB) keep real
    // parallelism for their compute-dense window/JSON passes (with the
    // 64m default the cache-final stage coalesces them to ONE task —
    // measured 2.2 s serial on q166's item-event frame) while census-
    // grain frames still collapse to single-task stages. At production
    // scale set SPARK_GRAFT_ADVISORY_PARTITION_BYTES to 64m–256m so
    // shuffle blocks stay large (guide §2.2's block-count argument).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "2m"),
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  val pinnedConf: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def engine(): SparkSession = build(engineConf(cores))

  def pinned(): SparkSession = build(pinnedConf)

  /** Public for callers that add a static conf to one of the two above
    * before the context exists (the test suite's private warehouse dir). */
  def build(conf: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
