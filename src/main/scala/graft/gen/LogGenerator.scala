package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, seeded re-expression of the reference's synthetic log
  * producer (kafka/log_producer.py:49-93): 4 services × 5-20 events/s, and a
  * 5 s spike at the top of every minute (error rate ×10, latency ×3 —
  * log_producer.py:52-62). All randomness is hash-derived from
  * (seed, second, service, index), so the same args always produce the same
  * rows — the property the reference lacks and SURVEY §5.2 requires for
  * golden tests.
  *
  * Scale posture: built from `spark.range(seconds)` + column expressions —
  * fully distributed, no driver-side loops; generating a year of logs for a
  * load test is `seconds = 31536000` with the same code.
  */
object LogGenerator {

  /** (service, base latency ms, base error rate) — log_producer.py:18-23. */
  val services: Seq[(String, Int, Double)] = Seq(
    ("auth-service", 120, 0.30),
    ("payment-service", 300, 0.02),
    ("order-service", 180, 0.015),
    ("notification-service", 80, 0.005))

  private val errorMessages = Seq("Database timeout", "Connection refused",
    "Upstream 502", "Deadline exceeded", "Circuit breaker open")
  private val infoMessages = Seq("Request completed", "Cache hit",
    "Session refreshed", "Healthcheck ok", "Payload accepted")

  /** Uniform [0,1) from a 32-bit hash of the given columns. */
  private def unit(cols: org.apache.spark.sql.Column*) =
    pmod(hash(cols: _*), lit(1000000)) / 1000000.0

  /** Batch generation of `seconds` seconds of logs starting at `baseEpoch`.
    * Rates and spike behavior follow the reference; a fixed `seed` varies
    * the stream. One generator per level: the seconds × the service
    * literal, then each service-second's events, then one projection. */
  def logs(spark: SparkSession, baseEpoch: Long, seconds: Int, seed: Int = 42): DataFrame = {
    val (sec, service, i) = (col("sec"), col("service"), col("i"))
    def u(salt: String) = unit(lit(seed), sec, service, i, lit(salt))
    val tsS = lit(baseEpoch) + sec
    // spike: 5 s at the top of each wall-clock minute (log_producer.py:52-55)
    val spike = pmod(tsS, lit(60)) < 5
    val errRate = when(spike, least(col("base_err") * 10, lit(1.0))).otherwise(col("base_err"))
    val level = when(u("lvl") < errRate, "ERROR").otherwise("INFO")
    // latency: gauss(base·{1|3}, σ=30) clamped ≥10 (log_producer.py:62-64);
    // Irwin-Hall(4) approximates the gaussian deterministically
    val g = (u("l1") + u("l2") + u("l3") + u("l4") - 2.0) * math.sqrt(3.0)
    val msgIdx = pmod(hash(lit(seed), sec, service, i, lit("m")), lit(5)) + 1
    spark.range(0, seconds.toLong)
      .select(col("id").as("sec"), inline(typedLit(services)).as(Seq("service", "base_latency", "base_err")))
      // events per service-second: 5..20 (log_producer.py:81)
      .select(col("*"), explode(sequence(lit(0),
        (lit(5) + pmod(hash(lit(seed), sec, service), lit(16))).cast("int") - 1)).as("i"))
      .select(
        date_format(timestamp_seconds(tsS), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"),
        service,
        concat(lit("node-"), pmod(hash(lit(seed), sec, service, i, lit("h")), lit(3)) + 1).as("host"),
        level.as("level"),
        concat(lit("req-"), substring(md5(concat_ws("|", lit(seed), sec, service, i)), 1, 8))
          .as("request_id"),
        when(level === "ERROR", element_at(array(errorMessages.map(lit): _*), msgIdx))
          .otherwise(element_at(array(infoMessages.map(lit): _*), msgIdx)).as("message"),
        greatest(lit(10), (col("base_latency") * when(spike, 3).otherwise(1) + g * 30).cast("int"))
          .as("latency_ms"))
  }
}
