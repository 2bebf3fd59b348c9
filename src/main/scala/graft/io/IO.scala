package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try
import scala.util.control.NonFatal

/** Source/sink builders (S2-S5). The Kafka builders mirror the reference's
  * topology (topics app_logs_raw / incident_alerts / incident_escalations)
  * and need `spark-sql-kafka-0-10` on the classpath at runtime — not present
  * in this environment, where tests drive the same pipelines through
  * MemoryStream/file sources instead (same DataFrame programs either way;
  * only the boundary format changes). */
object Topics {
  val rawLogs = "app_logs_raw"
  val alerts = "incident_alerts"
  val escalations = "incident_escalations"
}

object Sources {
  /** Exact option set handed to the kafka source — split out so the
    * connector-independent part of the contract (option names/values the
    * reference consumer uses, error_rate_detector.py:121-129) is testable
    * in an environment without `spark-sql-kafka-0-10` on the classpath. */
  def kafkaSourceOptions(brokers: String, topic: String,
                         startingOffsets: String = "latest"): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets)

  /** Kafka value-only stream (S3) — reference consumer shape
    * (error_rate_detector.py:121-129). */
  def kafka(spark: SparkSession, brokers: String, topic: String,
            startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(brokers, topic, startingOffsets))
      .load()

  /** File-based JSON stream with an explicit schema (no inference — SURVEY
    * §1.3: explicit schemas everywhere). */
  def jsonDir(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** Batch file readers (S6), schema always explicit: at 100 TB schema
    * inference is a full extra pass over the data AND a correctness hazard
    * (a column that happens to look numeric in the sampled files flips type
    * between runs). PERMISSIVE mode keeps malformed rows as nulls — same
    * drop-don't-sentinel decision as the stream codec (SURVEY §1.5). */
  def json(spark: SparkSession, path: String,
           schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** ORC — the other columnar format warehouses hand over; schema explicit
    * for the same reasons as [[json]] (ORC files carry one, but pinning it
    * rejects drifted files instead of silently widening the plan). */
  def orc(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}

/** The batch parquet reader every table and artifact read goes through.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark job
  * that reads one footer (`ParquetUtils.inferSchema`). [[parquet]] reads
  * the same footer on the driver and hands Spark the schema, so the read
  * runs no job. It picks the file Spark's
  * inference would: the path itself, or in a flat directory
  * `_common_metadata`, then `_metadata`, then the first data file by
  * path. It converts the footer with Spark's own `readSchemaFromFooter`
  * and a converter set from the session's conf, as the inference job
  * does, so the Spark row-metadata key, `nanosAsLong`, INT96 and
  * binary-as-string follow Spark's rules.
  *
  * Wherever Spark's answer is not certain it is Spark that answers: with
  * `spark.sql.parquet.mergeSchema` on, a glob, a directory with
  * subdirectories (partition discovery), no data file, or a footer that
  * fails to read, the plain `spark.read.parquet(path)` runs and raises
  * its own error (e.g. `UNABLE_TO_INFER_SCHEMA` on an empty directory).
  *
  * A read that took the footer path leaves its analyzed relation behind,
  * keyed by the session, the qualified path and the conf values the
  * resolution reads: the five the footer converter takes and case
  * sensitivity (Spark's duplicate-column check). Every call lists the path;
  * when each listed file's name, length and modification time match the
  * entry's, the read is a frame over that relation with fresh output
  * attributes: no footer read and no data-source resolution (file index
  * listing, schema checks), which is most of a read's driver time. Any
  * other listing resolves the path again and replaces the entry, so a
  * table rewritten in place is read as written, with no REFRESH. */
object IO {

  def parquet(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(l) =>
        val key = Key(spark, l.root, resolutionConfs(spark.sessionState.conf))
        Option(resolved.get(key)).filter(_.stamps == l.stamps)
          .flatMap(r => Try(SqlAccess.frameOver(spark, r.relation)).toOption)
          .getOrElse(footerSchema(spark, l) match {
            case Some(schema) =>
              val df = spark.read.schema(schema).parquet(path)
              df.queryExecution.analyzed match {
                case r: LogicalRelation => remember(key, Resolved(l.stamps, r))
                case _ =>
              }
              df
            case None => spark.read.parquet(path)
          })
    }

  private val Summaries = Seq("_common_metadata", "_metadata")

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * hidden `_`/`.` names and in-flight `._COPYING_` files are skipped,
    * the summary files and `_k=v` partition names are not. */
  private def listed(name: String): Boolean =
    Summaries.exists(name.startsWith) ||
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))

  /** A path Spark's inference would answer from one footer: its qualified
    * root, the (path, length, modification time) of each listed file in
    * path order, which a resolved relation is checked against, and the
    * file whose footer is read. */
  private final case class Listing(root: String, stamps: Seq[(String, Long, Long)], footer: FileStatus,
                                   hadoopConf: Configuration)

  /** The listing of `path`, or None where the plain read must decide (see
    * the object doc). */
  private def listing(spark: SparkSession, path: String): Option[Listing] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(root)
      val files = (if (status.isDirectory) fs.listStatus(root) else Array(status))
        .filter(f => listed(f.getPath.getName)).sortBy(_.getPath.toString).toSeq
      val pick =
        if (files.exists(_.isDirectory)) None
        else Summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !Summaries.contains(f.getPath.getName)))
      pick.map(Listing(fs.makeQualified(root).toString,
        files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)), _, hadoopConf))
    } catch { case NonFatal(_) => None }

  /** The schema Spark would infer for `path`, or None where the plain read
    * must decide (see the object doc). */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    listing(spark, path).flatMap(footerSchema(spark, _))

  private def footerSchema(spark: SparkSession, l: Listing): Option[StructType] = {
    val conf = spark.sessionState.conf
    try {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(l.footer, l.hadoopConf), SKIP_ROW_GROUPS)
      // the converter ParquetFileFormat.mergeSchemasInParallel builds
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(l.footer.getPath, footer), converter))
    } catch { case NonFatal(_) => None }
  }

  /** The session conf values a footer-path read's relation depends on:
    * the footer converter's five, then case sensitivity. */
  private def resolutionConfs(conf: SQLConf): Seq[Boolean] =
    Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation, conf.caseSensitiveAnalysis)

  private final case class Key(session: SparkSession, root: String, confs: Seq[Boolean])
  private final case class Resolved(stamps: Seq[(String, Long, Long)], relation: LogicalRelation)

  /** Resolved relations. A relation holds its session, so a stopped
    * session's entries are dropped on the next store, and the map is
    * emptied when it reaches [[MaxResolved]] entries. */
  private val resolved = new ConcurrentHashMap[Key, Resolved]()
  private val MaxResolved = 1000

  private def remember(key: Key, r: Resolved): Unit = {
    resolved.keySet.removeIf(_.session.sparkContext.isStopped)
    if (resolved.size >= MaxResolved) resolved.clear()
    resolved.put(key, r)
  }
}

object Sinks {
  /** Sink-side option set, connector-independent (see
    * [[Sources.kafkaSourceOptions]]). */
  def kafkaSinkOptions(brokers: String, topic: String,
                       checkpoint: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "topic" -> topic,
      "checkpointLocation" -> checkpoint)

  /** Kafka JSON sink (S2/S4): expects `key`/`value` columns (use
    * [[Codec.encode]]); acks=all is the Kafka default for the Spark sink. */
  def kafka(df: DataFrame, brokers: String, topic: String,
            checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .options(kafkaSinkOptions(brokers, topic, checkpoint))

  def parquet(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** S5 parity: per-batch console dump when non-empty
    * (spark_incident_alerts_metrics.ipynb:149-159). */
  def console(df: DataFrame, trigger: Trigger = Trigger.ProcessingTime("2 minutes")): DataStreamWriter[Row] =
    df.writeStream.outputMode("update").trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.show(truncate = false)
      }
}
