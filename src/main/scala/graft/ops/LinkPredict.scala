package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction over the support backbone (q147) —
  * the batch census behind [[Triangles.triadGateStreamStatic]]'s
  * point-wise score: every item pair that is NOT a backbone edge but
  * shares ≥ `minClosures` backbone neighbors, scored by how much of the
  * smaller endpoint's neighborhood the overlap covers
  * (score_bp = closures·10⁴ div min(deg) — overlap coefficient in basis
  * points, the hub-correcting normalization of the raw count; exact
  * because closures ≤ min(deg) by construction). These are the classic
  * triadic-closure candidates: transitions the graph structurally
  * predicts but the support filter hasn't admitted — a recommender
  * candidate source and, run against the FULL graph's weak edges, a
  * validation that the backbone's discards are the structurally
  * predicted ones.
  *
  * Exact semantics: candidates = [[Triangles.wedgeIndexOf]] (the
  * bidirectional Σ deg² two-hop census) minus the edge list (left-anti),
  * thresholded, then degree-annotated. Reconciliation contract (spec-
  * pinned): the wedge index restricted to EDGES is q145's per-edge
  * embeddedness, so the index splits exactly into {q145 rows} ∪ {q147
  * candidates (pre-threshold)} — two independent triadic computations
  * covering the whole two-hop census.
  *
  * Scale shape: the backbone persists once and feeds the wedge self-join
  * (Σ deg² with census-bounded degrees), the anti-join and the degree
  * table; output is distance-2-pair-grain, vocab²-bounded. Nothing
  * corpus-sized moves after the persisted weighted census upstream. */
object LinkPredict {

  val DefaultMinClosures = 2L

  /** (item_a, item_b, closures, deg_a, deg_b, score_bp) for every
    * non-edge pair with ≥ `minClosures` common neighbors. */
  def linkPredictionOf(strong0: DataFrame, minClosures: Long = DefaultMinClosures): DataFrame = {
    // read by the wedge self-join (twice via the bidirectional union),
    // the anti-join and the degree census — persist once
    // r16: checkpoints, not keyed persists — lineage truncation (ppmiMatOf)
    val strong = strong0.select(col("a"), col("b")).localCheckpoint()
    val deg =
      strong.select(col("a").as("v")).unionAll(strong.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d")).localCheckpoint()
    Triangles.wedgeIndexOf(strong)
      .join(strong, Seq("a", "b"), "left_anti")
      .filter(col("closures") >= minClosures)
      .join(deg.select(col("v").as("a"), col("d").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("deg_b")), Seq("b"))
      .select(col("a").as("item_a"), col("b").as("item_b"), col("closures"),
        col("deg_a"), col("deg_b"),
        expr("closures * 10000 div least(deg_a, deg_b)").as("score_bp"))
  }

  // ---------------------------------------------------------------- q147
  def q147(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    linkPredictionOf(Backbone.backboneOf(pw))
  }

  /** Mirror of [[linkPredictionOf]] over [[Backbone.backboneCtes]]. */
  private def q147Sql(minClosures: Long = DefaultMinClosures): String =
    s"""${Backbone.backboneCtes()},
       |bdeg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
       |         FROM (SELECT a AS v FROM strong UNION ALL SELECT b FROM strong) u
       |         GROUP BY v),
       |adj AS (SELECT a AS c, b AS n FROM strong
       |        UNION ALL SELECT b, a FROM strong),
       |wx AS (SELECT w1.n AS a, w2.n AS b, CAST(count(*) AS BIGINT) AS closures
       |       FROM adj w1 JOIN adj w2 ON w1.c = w2.c AND w1.n < w2.n
       |       GROUP BY 1, 2),
       |op AS (SELECT wx.a, wx.b, wx.closures FROM wx
       |       WHERE wx.closures >= $minClosures
       |         AND NOT EXISTS (SELECT 1 FROM strong s
       |                         WHERE s.a = wx.a AND s.b = wx.b))
       |SELECT op.a AS item_a, op.b AS item_b, op.closures,
       |       da.d AS deg_a, db.d AS deg_b,
       |       CAST(op.closures * 10000 // least(da.d, db.d) AS BIGINT) AS score_bp
       |FROM op JOIN bdeg da ON da.v = op.a JOIN bdeg db ON db.v = op.b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q147_link_prediction", q147, Some(q147Sql())))
}
