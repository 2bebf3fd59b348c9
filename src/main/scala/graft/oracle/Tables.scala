package graft.oracle

import graft.functions.JsonRecord
import graft.io.IO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, GenerateExec,
  InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md) plus the
  * canonical events→raw-log mapping used by every batch formulation of the
  * reference's streaming operators (SURVEY §5.3).
  *
  * `events.parquet`'s `ts` encoding has CHANGED across fixture
  * regenerations (TIMESTAMP(NANOS) → read as bigint nanos under
  * `spark.sql.legacy.parquet.nanosAsLong=true`; currently
  * TIMESTAMP_MICROS isAdjustedToUTC=0 → read as TIMESTAMP_NTZ), so
  * [[logs]] derives epoch seconds schema-adaptively instead of assuming
  * either encoding. The DuckDB oracle sees the same instants via
  * `epoch_ns(ts)` (valid for DuckDB TIMESTAMP of any unit) — both sides
  * floor-divide to epoch seconds, so the window math is bit-identical.
  * Sessions run with `spark.sql.session.timeZone=UTC`, which makes the
  * NTZ→epoch interpretation match DuckDB's naive-as-UTC reading.
  */
object Tables {

  /** When non-null, every [[table]] call records its table name — the
    * ScaleProbe detection hook. Recording at the single fixture entry
    * point is immune to the cache-substitution blind spot that broke
    * `df.inputFiles`-based detection: once a subtree is persisted, the
    * OPTIMIZED plan replaces its file relations with InMemoryRelation and
    * the file lineage vanishes from plan-level APIs. */
  @volatile private[graft] var readLog: java.util.Set[String] = null

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val log = readLog
    if (log != null) log.add(name)
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    IO.parquet(spark, s"$sfDir/$name.parquet")
  }

  /** Fan a small scan out to the session's parallelism before
    * expression-heavy map work. Parquet read parallelism is bounded by row
    * groups and the fixtures are single-row-group files, so without this
    * every pre-shuffle map phase runs on ONE core (verified: the q14
    * shingling stage showed wall≈cpu≈4.2 s on local[32]). Gated on the
    * actual split count, so against real multi-split inputs (the 100 TB
    * case) it is a no-op and costs no exchange. Apply AFTER pushdown-
    * relevant filters/projections — the exchange pins the scan below it. */
  def fanned(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // `df.rdd` plans and generates code for a second query just to count
    val partitions = scanSplits(df).getOrElse(df.rdd.getNumPartitions)
    if (partitions < target) df.repartition(target) else df
  }

  /** The split count of the one file scan under `df`'s executed plan, read
    * off the plan `df` itself runs, when that plan is a chain of narrow
    * row-wise nodes over the scan. None for any other shape (an exchange,
    * AQE, a union, a coalesce, a cached relation). */
  private[graft] def scanSplits(df: DataFrame): Option[Int] = {
    def over(p: SparkPlan): Option[Int] = p match {
      case scan: FileSourceScanExec => Some(scan.inputRDD.getNumPartitions)
      case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec | _: ProjectExec |
           _: FilterExec | _: GenerateExec => over(p.children.head)
      case _ => None
    }
    over(df.queryExecution.executedPlan)
  }

  /** Keyed persist with an explicit lifecycle — the write-once
    * materialization pattern for operators that read an intermediate
    * several times within ONE query (q12's signature table, q52's cleaned
    * corpus, k-means' quantized points). A plain `.persist()` inside a
    * query builder leaks an InMemoryRelation per invocation for the
    * session's lifetime (CacheManager holds it strongly) and re-invocation
    * logs "already cached" warnings; here each key holds exactly ONE
    * persisted frame — the next invocation under the same key unpersists
    * the previous one first, and long-lived sessions can drop everything
    * via [[releasePersisted]]. Storage level MEMORY_AND_DISK: at corpus
    * scale the hot columns spill rather than evict-and-recompute. */
  private val persisted = scala.collection.mutable.Map[String, DataFrame]()

  def swapPersist(key: String, df: DataFrame): DataFrame = synchronized {
    persisted.remove(key).foreach(_.unpersist(blocking = false))
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted(key) = p
    p
  }

  /** Register an ALREADY-persisted frame under a key with the same swap
    * lifecycle as [[swapPersist]] — for operators that materialize a frame
    * themselves (e.g. the CC loop's last cached round) and need the next
    * invocation, not the session's end, to release it.
    *
    * Unlike swapPersist (which unpersists the old entry BEFORE caching
    * the new one), the new frame here is already cached — and
    * `unpersist` removes CacheManager entries by `sameResult` plan
    * match, so when a re-invocation produces the same plan (the common
    * case: the bench times every query twice) unpersisting the old
    * handle would silently evict the entry the NEW frame just reused,
    * and its consumer would recompute from lineage. Same-result swaps
    * therefore keep the shared entry and just hand ownership to the new
    * frame. */
  def adoptPersisted(key: String, df: DataFrame): Unit = synchronized {
    persisted.remove(key).foreach { old =>
      if (!old.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
        old.unpersist(blocking = false)
    }
    persisted(key) = df
  }

  /** Test-only view of a registered persisted frame — PlanSpec pins how
    * many parquet scans a composed DAG's shared cached base contains
    * (q166: the item-event frame scans the corpus ONCE; every other
    * persisted frame in the DAG must read zero). */
  private[graft] def persistedFrame(key: String): Option[DataFrame] =
    synchronized { persisted.get(key) }

  /** Unpersist every frame held by [[swapPersist]]/[[adoptPersisted]]
    * (session teardown / between pipeline stages in a long-lived
    * session). */
  def releasePersisted(): Unit = synchronized {
    persisted.values.foreach(_.unpersist(blocking = false))
    persisted.clear()
  }

  private val propsSchema = new StructType().add("k", IntegerType)

  /** `events` mapped onto the reference's raw-log stream (FIXTURES.md §B):
    * service := event_type, event time := ts (→ epoch seconds), latency :=
    * value, level := ERROR iff props.k < 10 (~10% — mirrors the producer's
    * error-rate mix, kafka/log_producer.py:18-23,59). The JSON parse of
    * `props` plays the role of P1 (`from_json`) on the hot path: it runs
    * through [[graft.functions.JsonRecord]] (`from_json`'s result, without
    * a reader per record) into the one field read, `k`.
    *
    * `ts_s` is derived from whatever the current fixture encodes:
    *  - bigint nanos (legacy NANOS files under `nanosAsLong`):
    *    `ts div 1000000000` — integer division, because epoch-nanos
    *    (~1.7e18) exceeds a double's 2^53 exact range;
    *  - TIMESTAMP / TIMESTAMP_NTZ (current micros files):
    *    `unix_seconds(ts)` — NTZ is first cast to TIMESTAMP under the
    *    session's UTC zone, matching DuckDB's naive-as-UTC `epoch_ns`.
    */
  def logs(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
    val tsS = events.schema("ts").dataType match {
      case LongType => expr("ts div 1000000000")
      case TimestampType => unix_seconds(col("ts"))
      case TimestampNTZType => unix_seconds(col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — adapt Tables.logs/LOGS_CTE")
    }
    events
      .select(
        col("event_id"),
        tsS.as("ts_s"),
        col("event_type").as("service"),
        col("value").as("latency_ms"),
        JsonRecord(col("props"), propsSchema).getField("k").as("k"))
      .withColumn("level", when(col("k") < 10, "ERROR").otherwise("INFO"))
  }

  /** Epoch-microseconds Column for an `events` frame's `ts`, adaptive to
    * the same encodings as [[logs]] (bigint nanos / TIMESTAMP /
    * TIMESTAMP_NTZ). Micros is the cross-engine comparison grain: DuckDB's
    * `epoch_us(ts)` yields the identical integer for every encoding the
    * fixture has shipped. Integer division for the nanos case (epoch-nanos
    * exceed a double's 2^53 exact range). */
  def tsMicros(events: DataFrame): Column = events.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case TimestampType => unix_micros(col("ts"))
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case other =>
      throw new IllegalStateException(
        s"events.ts has unsupported type $other — adapt Tables.tsMicros")
  }

  /** Pushdown-friendly `ts >= cutUs` (epoch micros) predicate on the RAW
    * `ts` column — `tsMicros(ev) >= cutUs` compares a derived expression,
    * which never reaches the parquet scan as a pushed filter, so a
    * delta-shard read would still touch every settled row group. For the
    * bigint-nanos encoding `ts div 1000 >= c ⇔ ts >= c·1000` exactly
    * (floor division, nonnegative epochs; c·1000 < 2⁶³ for any real
    * timestamp), and the timestamp encodings compare literals of the
    * column's own type — all three land in `PushedFilters`. */
  def tsAtLeast(events: DataFrame, cutUs: Long): Column =
    events.schema("ts").dataType match {
      case LongType => col("ts") >= lit(cutUs * 1000L)
      case TimestampType => col("ts") >= lit(java.time.Instant.ofEpochSecond(
        cutUs / 1000000L, (cutUs % 1000000L) * 1000L))
      case TimestampNTZType => col("ts") >= lit(java.time.LocalDateTime.ofEpochSecond(
        cutUs / 1000000L, ((cutUs % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — adapt Tables.tsAtLeast")
    }

  /** Matching DuckDB CTE — keep in lockstep with [[logs]]. */
  val LOGS_CTE: String =
    """logs AS (
      |  SELECT event_id,
      |         epoch_ns(ts) // 1000000000 AS ts_s,
      |         event_type AS service,
      |         value AS latency_ms,
      |         json_extract(props, '$.k')::INT AS k,
      |         CASE WHEN json_extract(props, '$.k')::INT < 10
      |              THEN 'ERROR' ELSE 'INFO' END AS level
      |  FROM events)""".stripMargin
}
