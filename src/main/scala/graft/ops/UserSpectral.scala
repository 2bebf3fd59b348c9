package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.oracle.{QueryDef, Tables}

/** q161 — user spectral-profile grid: propagate the item embedding back
  * onto the CORPUS. Each user gets the integer mean of the (v1, v2)
  * spectral coordinates of the backbone items they touched; users fold
  * into a 0.1-wide grid census over the embedding plane. This is the
  * user-segmentation view a recommender or cohort builder reads off
  * q159 without training anything: which spectral regions users live
  * in, and how much of the population each cell carries.
  *
  * Semantics (both engines, bit-identical): per user, n = |coord-item
  * events| (events on items outside the PPMI vocabulary drop via the
  * inner join — a user appears iff they touched a backbone item),
  * mean = sum div n and bucket = mean div [[BucketFp]], both
  * truncate-toward-zero on both engines (the q151 contract; bucket 0 is
  * therefore double-width, spanning (−10⁵, 10⁵) — the standard
  * truncation-bucket caveat, identical on both engines). share_bp folds
  * over the ≤ 21×21 grid census itself (the q145 posture).
  *
  * Scale shape: THE one corpus-scale join in the embedding family, and
  * it is the broadcast-able one — coords is vocab-grain (≤ 24 B/node:
  * ~24 MB at a 10⁶-item catalog, a plain broadcast). The broadcast is a
  * SIZE-GATED hint, not an unconditional one (an unconditional
  * `broadcast()` hint ignores autoBroadcastJoinThreshold entirely):
  * coords is vocab-grain and checkpointed by the caller, so
  * [[ScaleGuard.gatedBroadcast]] measures its stored blocks without a
  * job, and past the `spark.graft.broadcast.maxBytes` cap the hint is
  * omitted and the plan degrades to a shuffled equi-join — never a BNLJ
  * (PlanSpec pins both shapes; the degraded path's growth is probed on
  * the items axis, BASELINE.md round 12). One map-side-combining user
  * rollup, then census-grain folds. Int64: per-user sums are
  * DECIMAL(38,0)/HUGEINT (|v| ≤ 10⁶ × event count). */
object UserSpectral {

  /** Grid pitch: 0.1 in the 10⁶ fixed-point scale. */
  val BucketFp = 100000L

  /** (b1, b2, users, share_bp) over item coords (node, v1fp, v2fp) and
    * item events (user_id, item). */
  def gridOf(coords: DataFrame, itemEvents: DataFrame): DataFrame = {
    val c = coords.select(col("node"), col("v1fp"), col("v2fp"))
    itemEvents.join(ScaleGuard.gatedBroadcast(c), itemEvents("item") === c("node"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("v1fp").cast(DecimalType(38, 0))).as("s1"),
        sum(col("v2fp").cast(DecimalType(38, 0))).as("s2"))
      .select(expr(s"(s1 div n) div $BucketFp").as("b1"),
        expr(s"(s2 div n) div $BucketFp").as("b2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("users"))
      .withColumn("tot", sum(col("users")).over(Window.partitionBy()))
      .select(col("b1"), col("b2"), col("users"),
        expr("users * 10000 div tot").as("share_bp"))
  }

  // ---------------------------------------------------------------- q161
  def q161(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    // checkpointed: truncates the spectral stack's lineage (its 1-row
    // census broadcasts) out of the corpus join's plan
    val coords = SpectralEmbed.spectralPairOf(
      WalkPmi.pmiOf(
        WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
      .localCheckpoint()
    val items = ev
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
    gridOf(coords, items)
  }

  /** Mirror over [[SpectralEmbed.spectralPairCtes]] — the walk stack's
    * own `e` CTE is the item-event table. */
  private def q161Sql: String =
    s"""${SpectralEmbed.spectralPairCtes},
       |coords AS MATERIALIZED (
       |  SELECT v1n.node, v1n.v AS v1, u${SpectralEmbed.Rounds}.u AS v2
       |  FROM v1n JOIN u${SpectralEmbed.Rounds}
       |    ON v1n.node = u${SpectralEmbed.Rounds}.node),
       |up AS (SELECT e.user_id, CAST(count(*) AS BIGINT) AS n,
       |              sum(CAST(c.v1 AS HUGEINT)) AS s1,
       |              sum(CAST(c.v2 AS HUGEINT)) AS s2
       |       FROM e JOIN coords c ON e.item = c.node
       |       GROUP BY e.user_id),
       |g AS (SELECT CAST((s1 // n) // $BucketFp AS BIGINT) AS b1,
       |             CAST((s2 // n) // $BucketFp AS BIGINT) AS b2
       |      FROM up),
       |h AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS users
       |      FROM g GROUP BY 1, 2)
       |SELECT b1, b2, users,
       |       CAST(users * 10000 // (sum(users) OVER ()) AS BIGINT) AS share_bp
       |FROM h""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q161_user_spectral_grid", q161, Some(q161Sql)))
}
