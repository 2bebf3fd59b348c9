package graft.io

import graft.functions.JsonRecord
import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON value codec for the three stream shapes (P1/P2 — the Kafka value
  * contract). Alert payloads are emitted with proper JSON numeric types
  * end-to-end per the SURVEY §1.5 decision; the reference's stringified
  * spike-alert numerics (error_rate_detector.py:99-102) are covered as a
  * negative parse case in CodecSpec. */
object Codec {

  /** `value` (string JSON) → typed columns, parsed by
    * [[graft.functions.JsonRecord]]: `from_json`'s result without a reader
    * per record. PERMISSIVE mode: malformed fields null out individually,
    * the row survives (verified Spark 4.1.2 behavior, SURVEY §1.5). */
  def decode(raw: DataFrame, schema: StructType, valueCol: String = "value"): DataFrame =
    raw.select(JsonRecord(col(valueCol).cast("string"), schema).as("data")).select("data.*")

  /** typed columns → single JSON string column named `value`, plus `key` =
    * service (the reference's Kafka message key, log_producer.py:88). */
  def encode(df: DataFrame): DataFrame =
    df.select(
      col("service").as("key"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))

  def decodeRawLogs(raw: DataFrame): DataFrame = decode(raw, Schemas.rawLog)
  def decodeAlerts(raw: DataFrame): DataFrame = decode(raw, Schemas.incidentAlert)
  def decodeEscalations(raw: DataFrame): DataFrame = decode(raw, Schemas.escalation)

  /** Deterministic incident id — sha2 of the alert's identity; replaces the
    * reference's uuid4 (error_rate_detector.py:95) so replays/retries emit
    * identical ids (exactly-once-friendly at scale, golden-testable). */
  def incidentId(parts: Column*): Column =
    concat(lit("inc-"), substring(sha2(concat_ws("|", parts: _*), 256), 1, 8))
}
