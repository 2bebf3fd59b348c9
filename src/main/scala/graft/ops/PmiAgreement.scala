package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q158 — first-order vs second-order structure agreement: for each
  * node, how many of its q157 top-K distributional neighbors are DIRECT
  * positive-PMI partners, folded into a (n_topk, n_direct) histogram
  * census. This is the audit a curator reads before spending anything
  * on q157's output: n_direct ≈ n_topk everywhere means second-order
  * similarity merely re-ranks the co-occurrence edges q155 already
  * materializes (skip the similarity layer); a fat non-direct tail
  * means it surfaces NOVEL item relations — exactly the pairs a
  * link-prediction consumer (q147's family) wants, discovered through
  * shared company rather than shared wedges.
  *
  * Semantics (both engines, bit-identical): the top-K list is q157's
  * (same constants, same capped geometry); "direct" is judged against
  * the UNCAPPED positive matrix ppm (the capping is a similarity
  * approximation — whether a pair co-occurs is a fact about the matrix,
  * not about the capped view; a top-K pair mediated by capped-out hubs
  * still counts as direct if its own edge exists). Per node:
  * n_topk = |top-K rows| ≤ K, n_direct = |top-K ∩ ppm edges| ≤ n_topk;
  * output = histogram over (n_topk, n_direct) with share_bp =
  * nodes·10⁴ div total (empty-window fold over the ≤K² histogram — the
  * q145 posture).
  *
  * Scale shape: q157's machinery end to end (persisted/checkpointed),
  * plus ONE node-keyed left equi-join of the ≤K·|nodes| top-K census
  * against the walk-census-bounded ppm edge list and two census-grain
  * rollups. The histogram is ≤ K² rows — the empty-window share fold
  * never sees more. */
object PmiAgreement {

  /** (n_topk, n_direct, nodes, share_bp) over a `pmi(a, b, …, pmi)`
    * census, using q157's top-K constants. */
  def agreementOf(pmi: DataFrame): DataFrame = {
    // pmi feeds the similarity stack AND the direct-edge arm (doubled-pass
    // rule) — localCheckpointed so the final plan truncates here rather
    // than replicating the census stack's displayed lineage through both
    // consumers (the q147/q148 manifest artifact)
    val p = pmi.localCheckpoint()
    val nn = PmiNeighbors.neighborsOf(p)
    val pos = p.filter(col("pmi") > 0)
      .select(col("a"), col("b"),
        round(col("pmi") * lit(1000.0), 0).cast("long").as("w"))
      .filter(col("w") > 0)
    val direct = pos.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(pos.select(col("b").as("node"), col("a").as("nbr")))
      .withColumn("hit", lit(1L))
    val perNode = nn.join(direct, Seq("node", "nbr"), "left")
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_topk"),
        coalesce(sum(col("hit")), lit(0L)).as("n_direct"))
    perNode.groupBy(col("n_topk"), col("n_direct"))
      .agg(count(lit(1)).as("nodes"))
      .withColumn("tot", sum(col("nodes")).over(Window.partitionBy()))
      .select(col("n_topk"), col("n_direct"), col("nodes"),
        expr("nodes * 10000 div tot").as("share_bp"))
  }

  // ---------------------------------------------------------------- q158
  def q158(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    agreementOf(WalkPmi.pmiOf(
      WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
  }

  private def q158Sql: String =
    s"""${PmiNeighbors.neighborCtes},
       |direct AS (SELECT a AS node, b AS nbr FROM ppm
       |           UNION ALL SELECT b, a FROM ppm),
       |pern AS (SELECT nn.node,
       |                CAST(count(*) AS BIGINT) AS n_topk,
       |                CAST(sum(CASE WHEN d.nbr IS NOT NULL THEN 1 ELSE 0 END)
       |                     AS BIGINT) AS n_direct
       |         FROM nn LEFT JOIN direct d
       |           ON nn.node = d.node AND nn.nbr = d.nbr
       |         GROUP BY nn.node),
       |hist AS (SELECT n_topk, n_direct, CAST(count(*) AS BIGINT) AS nodes
       |         FROM pern GROUP BY 1, 2)
       |SELECT n_topk, n_direct, nodes,
       |       CAST(nodes * 10000 // (sum(nodes) OVER ()) AS BIGINT) AS share_bp
       |FROM hist""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q158_pmi_agreement", q158, Some(q158Sql)))
}
