package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-hop harmonic centrality over the support backbone (q148) —
  * for every item, how much of the graph sits CLOSE to it:
  * h = Σ_{u≠v, d(u,v)≤3} 1/d(u,v), reported ×6 so all three reciprocals
  * are exact integers (6·n1 + 3·n2 + 2·n3). The hop bound is the
  * standard scale move: full harmonic/closeness centrality needs
  * all-pairs shortest paths (quadratic state, unbounded rounds), while
  * a 3-hop ball already separates "deep in the dense nucleus" from
  * "peripheral chain" — and on a small-world co-occurrence backbone a
  * 3-ball reaches most of the reachable graph. Complements the family:
  * q139 ranks by flow mass, q144 by local cliquiness, q146 by peel
  * survival; this ranks by REACH.
  *
  * Exact semantics (both engines): n1 = neighbors; n2 = distinct nodes
  * reachable in 2 steps, minus self and n1; n3 = distinct nodes
  * reachable by extending a distance-2 node one step, minus self, n1
  * and n2 — the frontier construction, so each node counts at its true
  * shortest distance exactly once.
  *
  * Scale shape: the classic distributed BFS frontier — each hop is the
  * persisted bidirectional adjacency joined onto the previous DISTINCT
  * frontier (Σ deg·|frontier| expansion, deduped per hop before the
  * next), with frontiers bounded by vocab² pairs; anti-joins against
  * the closer hops keep distances exact. All census-grain; the
  * corpus-sized work ran once upstream of the persisted weighted
  * census. Int64: counts < |vocab|, harmonic_x6 < 6·|vocab|. */
object Harmonic {

  /** (item, n1, n2, n3, harmonic_x6) per backbone node. */
  def harmonicOf(strong0: DataFrame): DataFrame = {
    // r16: checkpoints, not keyed persists — lineage truncation (ppmiMatOf)
    val strong = strong0.select(col("a"), col("b")).localCheckpoint()
    // read by hop-2 (both sides), hop-3 and the n1 census — once
    val adj =
      strong.select(col("a").as("c"), col("b").as("n"))
        .unionAll(strong.select(col("b").as("c"), col("a").as("n")))
        .localCheckpoint()
    val d1 = adj.select(col("c").as("v"), col("n").as("u"))
    val d2 =
      adj.as("x").join(adj.as("y"), col("x.n") === col("y.c"))
        .select(col("x.c").as("v"), col("y.n").as("u"))
        .filter(col("v") =!= col("u"))
        .distinct()
        .join(d1, Seq("v", "u"), "left_anti")
        .localCheckpoint()
    // d2 derives from adj — alias both sides or Spark flags the self-join
    val d3 = d2.as("p2").join(adj.as("az"), col("p2.u") === col("az.c"))
      .select(col("p2.v").as("v"), col("az.n").as("u"))
      .filter(col("v") =!= col("u"))
      .distinct()
      .join(d1, Seq("v", "u"), "left_anti")
      .join(d2, Seq("v", "u"), "left_anti")
    val c1 = d1.groupBy(col("v")).agg(count(lit(1)).as("n1"))
    val c2 = d2.groupBy(col("v")).agg(count(lit(1)).as("n2"))
    val c3 = d3.groupBy(col("v")).agg(count(lit(1)).as("n3"))
    c1.join(c2, Seq("v"), "left").join(c3, Seq("v"), "left")
      .select(col("v").as("item"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"),
        (lit(6L) * col("n1") + lit(3L) * coalesce(col("n2"), lit(0L)) +
          lit(2L) * coalesce(col("n3"), lit(0L))).as("harmonic_x6"))
  }

  // ---------------------------------------------------------------- q148
  def q148(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    harmonicOf(Backbone.backboneOf(pw))
  }

  /** Mirror of [[harmonicOf]] over [[Backbone.backboneCtes]]. */
  private def q148Sql: String =
    s"""${Backbone.backboneCtes()},
       |adj AS (SELECT a AS c, b AS n FROM strong
       |        UNION ALL SELECT b, a FROM strong),
       |d1 AS (SELECT c AS v, n AS u FROM adj),
       |d2 AS (SELECT DISTINCT x.c AS v, y.n AS u
       |       FROM adj x JOIN adj y ON x.n = y.c
       |       WHERE x.c <> y.n
       |         AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.v = x.c AND d1.u = y.n)),
       |d3 AS (SELECT DISTINCT d2.v, adj.n AS u
       |       FROM d2 JOIN adj ON d2.u = adj.c
       |       WHERE d2.v <> adj.n
       |         AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.v = d2.v AND d1.u = adj.n)
       |         AND NOT EXISTS (SELECT 1 FROM d2 i WHERE i.v = d2.v AND i.u = adj.n)),
       |c1 AS (SELECT v, CAST(count(*) AS BIGINT) AS n1 FROM d1 GROUP BY v),
       |c2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n2 FROM d2 GROUP BY v),
       |c3 AS (SELECT v, CAST(count(*) AS BIGINT) AS n3 FROM d3 GROUP BY v)
       |SELECT c1.v AS item, c1.n1 AS n1,
       |       CAST(COALESCE(c2.n2, 0) AS BIGINT) AS n2,
       |       CAST(COALESCE(c3.n3, 0) AS BIGINT) AS n3,
       |       CAST(6 * c1.n1 + 3 * COALESCE(c2.n2, 0) + 2 * COALESCE(c3.n3, 0) AS BIGINT)
       |         AS harmonic_x6
       |FROM c1 LEFT JOIN c2 ON c1.v = c2.v LEFT JOIN c3 ON c1.v = c3.v""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q148_harmonic_centrality", q148, Some(q148Sql)))
}
