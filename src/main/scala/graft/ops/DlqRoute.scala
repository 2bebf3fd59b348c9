package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q172/q173 — the DLQ (dead-letter queue) route: the batch mirror of the
  * streaming late-event side-channel that CLOSES the late-data loop the
  * r13 verdict flagged as split ("W7 drops late events precisely so a
  * batch repair can own them" — but nothing routed the dropped events to
  * the repair). The streaming half is [[graft.streaming.LateDlq]]: a
  * two-lane stateful gate whose per-user frontier (the same
  * transformWithState state as the transition gate) classifies each
  * arriving event — at-or-after the frontier → emit its transition and
  * advance; BEFORE the frontier → route to the DLQ lane untouched, the
  * frontier unmoved. The accumulated DLQ lane IS [[LateRepair]]'s late
  * shard, and gate census + [[LateRepair.correctionOf]](kept, dlq) ==
  * the monolithic census — the loop-closing identity LateDlqSpec pins on
  * the real corpus, restart included.
  *
  * This file is the ORACLE-EXPRESSIBLE batch mirror of that gate, under a
  * deterministic arrival model both engines can compute:
  *
  *   - events arrive in shards of [[Bucket]] consecutive event_ids
  *     (arrival order = id order — the fixture's ids are t-sorted per
  *     user, so an undisturbed stream has no late events at all);
  *   - the late cohort (event_id % [[LateRepair.LateMod]] == 0, q171's
  *     model) is DELAYED by [[DelayBuckets]] shards — it arrives after
  *     its user's later events have already advanced the frontier.
  *
  * Lateness is then non-recursive: an event is late iff the max event
  * time among its user's STRICTLY-EARLIER-shard arrivals exceeds its own
  * t (late events never hold that max — they were below the frontier at
  * arrival — so "max over all earlier arrivals" equals "max over kept",
  * and one window computes it). Tie contract: equal t never decides
  * lateness (the fixture has no per-user duplicate t at any SF; the
  * streaming gate breaks hypothetical ties by event_id — strictly-late
  * only).
  *
  * Because every kept event is at-or-after the frontier when processed,
  * the kept lane concatenated in (shard, t, event_id) order is GLOBALLY
  * (t, event_id)-sorted — so the gate's emitted transition fold equals
  * the plain lag census over kept events, which is what makes q173's
  * oracle a monolithic two-census join.
  *
  * Scale shape: one corpus pass persisted for its two window readers
  * (the lateness running-max over arrival shards + the census lag);
  * everything downstream of the route is census-grain or |late|-bounded
  * (the q171 repair shapes). The route itself is one user-partitioned
  * window — no joins, no driver collects. */
object DlqRoute {

  /** Arrival shard width (event_ids per micro-batch). */
  val Bucket = 1000L

  /** The late cohort arrives this many shards after its natural slot. */
  val DelayBuckets = 5L

  /** The prepped item-event frame + (ab, late): arrival bucket and the
    * watermark-model late flag. */
  def routedOf(events: DataFrame, tUs: Column,
               bucket: Long = Bucket, delay: Long = DelayBuckets,
               lateMod: Long = LateRepair.LateMod): DataFrame =
    CensusDelta.prep(events, tUs)
      .withColumn("ab", expr(s"event_id div $bucket") +
        when(col("event_id") % lateMod === 0, delay).otherwise(0L))
      .withColumn("late", coalesce(
        max(col("t")).over(Window.partitionBy(col("user_id")).orderBy(col("ab"))
          .rangeBetween(Window.unboundedPreceding, -1)) > col("t"),
        lit(false)))

  /** q172 — the route census: per user, how many events each lane got
    * and where the frontier ended (the last KEPT item by (t, event_id)).
    * The user-grain audit a production DLQ dashboard watches. */
  def dlqRouteOf(events: DataFrame, tUs: Column): DataFrame = {
    val r = Tables.swapPersist("q172_r", routedOf(events, tUs))
    val lanes = r.groupBy(col("user_id"))
      .agg(count(when(!col("late"), 1)).as("n_kept"),
        count(when(col("late"), 1)).as("n_late"))
    val frontier = r.filter(!col("late"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("t").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("item").as("last_kept_item"))
    lanes.join(frontier, Seq("user_id"), "left")
  }

  /** q173 — the loop closed in batch: kept-lane census + the signed
    * correction computed from the DLQ lane ([[LateRepair.correctionOf]])
    * = the monolithic census. Output (src, dst, w, dw) — w is the
    * repaired (= full) weight, dw the correction the DLQ shard carried. */
  def dlqRepairOf(events: DataFrame, tUs: Column): DataFrame = {
    val r = Tables.swapPersist("q173_r", routedOf(events, tUs))
    val kept = r.filter(!col("late")).select(col("user_id"), col("event_id"),
      col("item"), col("t"))
    val late = r.filter(col("late")).select(col("user_id"), col("event_id"),
      col("item"), col("t"))
    val ck = PageRankDelta.directedCensusOf(kept)
    LateRepair.applyTo(ck, LateRepair.correctionOf(kept, late))
  }

  /** q175 — the drain LEDGER: sequential DLQ drains compose. A
    * production repair doesn't drain the DLQ once — it drains nightly,
    * and each drain's corrections must land against the census AS
    * ALREADY REPAIRED by earlier drains, never against the original
    * kept-only census (that would re-subtract transitions the first
    * drain already split — the double-correction bug exactly-once
    * semantics exist to prevent). The identity that makes the ledger
    * sound is per-user additivity applied TWICE: drain 2's settled side
    * is kept ∪ drain 1, so census(kept) + corr(kept, d1) +
    * corr(kept ∪ d1, d2) == the monolithic census, with the two
    * corrections attributable per drain (the ledger columns dw1/dw2).
    *
    * Drain split: the late cohort by `(event_id div lateMod) % 2` —
    * deterministic and non-empty on both sides at every SF (the late
    * set's ab is constant at sf0.001, so an arrival-time split would be
    * vacuous there).
    *
    * Output: (src, dst, w, dw1, dw2) — w the fully-repaired weight, dwk
    * drain k's signed contribution. The oracle computes all three
    * censuses monolithically and diffs; the hash match IS the
    * sequential-composition identity. Scale shape inherits q173's:
    * one persisted route pass, |late|-bounded drains, affected-user
    * selective fetches, census-grain joins. */
  def drainLedgerOf(events: DataFrame, tUs: Column,
                    lateMod: Long = LateRepair.LateMod): DataFrame = {
    val r = Tables.swapPersist("q175_r", routedOf(events, tUs))
    def ev(df: DataFrame): DataFrame =
      df.select(col("user_id"), col("event_id"), col("item"), col("t"))
    val kept = ev(r.filter(!col("late")))
    val d1 = ev(r.filter(col("late") &&
      expr(s"(event_id div $lateMod) % 2") === 0))
    val d2 = ev(r.filter(col("late") &&
      expr(s"(event_id div $lateMod) % 2") === 1))
    val c0 = PageRankDelta.directedCensusOf(kept)
    val corr1 = LateRepair.correctionOf(kept, d1)
    // drain 2 lands on the ALREADY-REPAIRED corpus: kept ∪ drain 1. NOT
    // persisted — it has ONE reader (correctionOf's affected-user join,
    // which persists the |au|-bounded fetch itself), and both legs ride
    // the q175_r cache; materializing a second corpus copy here would be
    // exactly the scale smell the drain ledger exists to avoid.
    val corr2 = LateRepair.correctionOf(kept.unionByName(d1), d2)
    c0.join(corr1.withColumnRenamed("dw", "dw1"), Seq("src", "dst"), "full_outer")
      .join(corr2.withColumnRenamed("dw", "dw2"), Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("w"), lit(0L)) + coalesce(col("dw1"), lit(0L)) +
          coalesce(col("dw2"), lit(0L))).as("w"),
        coalesce(col("dw1"), lit(0L)).as("dw1"),
        coalesce(col("dw2"), lit(0L)).as("dw2"))
  }

  // ------------------------------------------------------ q172/q173/q175
  def q172(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    dlqRouteOf(ev, Tables.tsMicros(ev))
  }

  def q173(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    dlqRepairOf(ev, Tables.tsMicros(ev))
  }

  def q175(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    drainLedgerOf(ev, Tables.tsMicros(ev))
  }

  private def routedCte(bucket: Long = Bucket, delay: Long = DelayBuckets,
                        lateMod: Long = LateRepair.LateMod): String =
    s"""e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |r AS (
       |  SELECT *, COALESCE(
       |           max(t) OVER (PARTITION BY user_id ORDER BY ab
       |             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > t,
       |           FALSE) AS late
       |  FROM (SELECT *, event_id // $bucket +
       |               CASE WHEN event_id % $lateMod = 0 THEN $delay ELSE 0 END AS ab
       |        FROM e))""".stripMargin

  private def q172Sql: String =
    s"""WITH ${routedCte()},
       |lanes AS (
       |  SELECT user_id,
       |         CAST(count(CASE WHEN NOT late THEN 1 END) AS BIGINT) AS n_kept,
       |         CAST(count(CASE WHEN late THEN 1 END) AS BIGINT) AS n_late
       |  FROM r GROUP BY 1),
       |fr AS (
       |  SELECT user_id, item AS last_kept_item
       |  FROM (SELECT user_id, item, row_number() OVER (PARTITION BY user_id
       |               ORDER BY t DESC, event_id DESC) AS rn
       |        FROM r WHERE NOT late)
       |  WHERE rn = 1)
       |SELECT lanes.user_id, n_kept, n_late, last_kept_item
       |FROM lanes LEFT JOIN fr USING (user_id)""".stripMargin

  /** Monolithic oracle: full census ⟗ kept census (the q171 shape under
    * the watermark-arrival late model) — matching it hash-exactly IS the
    * closed-loop repair identity. */
  private def q173Sql: String =
    s"""WITH ${routedCte()},
       |cf AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM r)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       |ck AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM r WHERE NOT late)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2)
       |SELECT coalesce(cf.src, ck.src) AS src,
       |       coalesce(cf.dst, ck.dst) AS dst,
       |       coalesce(cf.w, 0) AS w,
       |       coalesce(cf.w, 0) - coalesce(ck.w, 0) AS dw
       |FROM cf FULL JOIN ck ON cf.src = ck.src AND cf.dst = ck.dst""".stripMargin

  /** Three monolithic censuses (all / kept / kept ∪ drain 1) full-joined
    * and diffed — the sequential-composition identity as a hash match. */
  private def q175Sql(lateMod: Long = LateRepair.LateMod): String = {
    def census(where: String): String =
      s"""SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM (SELECT item AS dst,
         |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
         |        FROM r $where)
         |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2""".stripMargin
    s"""WITH ${routedCte()},
       |cf AS (${census("")}),
       |ck AS (${census("WHERE NOT late")}),
       |k1 AS (${census(s"WHERE NOT late OR (event_id // $lateMod) % 2 = 0")})
       |SELECT src, dst,
       |       coalesce(cf.w, 0) AS w,
       |       coalesce(k1.w, 0) - coalesce(ck.w, 0) AS dw1,
       |       coalesce(cf.w, 0) - coalesce(k1.w, 0) AS dw2
       |FROM cf FULL JOIN ck USING (src, dst) FULL JOIN k1 USING (src, dst)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q172_dlq_route", q172, Some(q172Sql)),
    QueryDef("q173_dlq_repair", q173, Some(q173Sql)),
    QueryDef("q175_drain_ledger", q175, Some(q175Sql())))
}
