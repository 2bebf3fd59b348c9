package graft.ops

import graft.functions.JsonRecord
import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Semi-structured payload profile (q110) — per-(event_type, json key)
  * census of the `props` JSON blob: how often each key is present, how
  * often its value parses as numeric, and the numeric range. The
  * schema-drift detector for the dynamic tail every event pipeline
  * carries (the reference's own events are schemaless dicts whose
  * declared PyFlink types are wrong, SURVEY §1.3/§8.5 — this table is
  * how you notice a producer silently renaming a field or switching a
  * number to a string before downstream casts start returning NULLs,
  * the exact failure mode SURVEY §1.5 verified).
  *
  * Semantics, documented: keys come from parsing `props` as
  * `map<string,string>` — any key shape works on the Spark side; the
  * DuckDB mirror addresses values by `'$.' || key`, so keys containing
  * path metacharacters would diverge (fixture keys are plain
  * identifiers; a production deployment keeps the map form).
  * "Numeric" is LEXICAL — a JSON string "42" counts numeric, matching
  * `try_cast` in both engines (JSON type info does not survive either
  * engine's string extraction; same trade both sides, so the oracle is
  * exact). Malformed JSON parses to NULL on the Spark side and drops out
  * of the key census (it still counts in the presence denominator); the
  * mirror gets the same semantics by filtering `json_valid(props)`
  * before `json_keys` — unguarded, DuckDB's `json_keys` ERRORS on
  * invalid JSON and would fail the whole query instead of dropping the
  * row.
  *
  * Scale shape: ONE corpus pass explodes props into the (type, key)
  * grain — bounded by feeds × live keys, not rows — with map-side
  * partials; the per-feed row census (|types| rows) broadcasts back for
  * the presence ratio. No windows, no sorts.
  */
object PropsProfile {

  /** (event_type, key, n_present, present_bp, n_numeric, min_num,
    * max_num) over any frame with (event_type, props-JSON) columns. */
  def propsProfileOf(events: DataFrame): DataFrame = {
    // persisted: the row census and the key explode both read the parsed
    // rows — without it the JSON parse (the expensive part) runs twice
    val ev = Tables.swapPersist("q110_parsed",
      events.select(col("event_type"),
        JsonRecord(col("props"), MapType(StringType, StringType)).as("m")))
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_rows"))
    ev.select(col("event_type"), explode(col("m")).as(Seq("key", "v")))
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n_present"),
        count(expr("try_cast(v AS DOUBLE)")).as("n_numeric"),
        min(expr("try_cast(v AS DOUBLE)")).as("min_num"),
        max(expr("try_cast(v AS DOUBLE)")).as("max_num"))
      .join(broadcast(tot), "event_type")
      .select(col("event_type"), col("key"), col("n_present"),
        expr("n_present * 10000 div n_rows").as("present_bp"),
        col("n_numeric"), col("min_num"), col("max_num"))
  }

  // ---------------------------------------------------------------- q110
  def q110(spark: SparkSession, sfDir: String): DataFrame =
    propsProfileOf(Tables.table(spark, sfDir, "events"))

  private val q110Sql =
    """WITH tot AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY 1),
      |kv AS (SELECT event_type, unnest(json_keys(props)) AS key, props
      |       FROM events WHERE json_valid(props)),
      |x AS (SELECT event_type, key,
      |             json_extract_string(props, '$.' || key) AS v
      |      FROM kv),
      |k AS (SELECT event_type, key, count(*) AS n_present,
      |             count(try_cast(v AS DOUBLE)) AS n_numeric,
      |             min(try_cast(v AS DOUBLE)) AS min_num,
      |             max(try_cast(v AS DOUBLE)) AS max_num
      |      FROM x GROUP BY 1, 2)
      |SELECT k.event_type, k.key, k.n_present,
      |       CAST(k.n_present * 10000 // t.n_rows AS BIGINT) AS present_bp,
      |       k.n_numeric, k.min_num, k.max_num
      |FROM k JOIN tot t USING (event_type)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q110_props_profile", q110, Some(q110Sql))
  )
}
