package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Item-graph PageRank (q139) — power-iteration centrality over the
  * item-transition graph that q92 builds for event TYPES, here built for
  * the item catalog (`props.k`): per user, consecutive events define a
  * directed item→item edge; PageRank over that graph ranks items by
  * where browsing mass accumulates, the classic "importance" signal for
  * recommendation candidate pools and crawl-frontier ordering in a data
  * pipeline.
  *
  * Exact semantics (both engines, bit-identical):
  *  - edges: per-user (t, event_id)-ordered consecutive item pairs,
  *    self-loops dropped, weighted by pair count;
  *  - rank in integer MICRO-units, r0 = 1_000_000 per node;
  *  - per iteration: contrib(v) = Σ_{u→v} (rank(u)·w) div out_w(u)
  *    (per-edge integer division, then sum), then
  *    rank'(v) = (10000−dampBp)·100 + (contrib(v)·dampBp) div 10000.
  *    Dangling mass (nodes with no out-edges) is dropped, not
  *    redistributed — the documented simplification vs the full Google
  *    matrix; with damping the total-mass drift is bounded and the
  *    ORDERING (what the operator is for) is unaffected at these
  *    iteration counts.
  *
  * Int64 bounds (q106/q120 discipline): rank ≤ total mass ≈ n_nodes·1e6,
  * so rank·w needs n_nodes·w_max ≤ 9.2e12 — item vocabularies are
  * bounded censuses (here 100; realistically ≤1e7) and w_max ≤ |events|,
  * so the product is safe far past the 100 TB grain; past that, stage as
  * (rank div out_w)·w at the cost of per-edge truncation order.
  *
  * Scale shape: the edge list (vocab²-bounded census, NOT corpus-sized)
  * and node list persist once and feed all `iters` rounds; each round is
  * one hash join rank⋈edges on the source key plus one aggregation on
  * the destination key — the standard distributed PageRank round. The
  * corpus-sized work (ordered per-user lag) happens exactly once,
  * upstream of the persist. Each round's rank has one reader (the next
  * round's contrib join), so lineage is truncated every 4 rounds
  * (localCheckpoint) — a rule [[PageRankDelta.RankGraph]] derives from
  * the missing teleport, not an option — and the planner never sees an
  * unbounded join chain (the fitSub lesson from ext/KMeans.scala).
  */
object PageRank {

  /** (item, rank_micro) after `iters` damped power-iteration rounds over
    * the consecutive-event item graph — [[PageRankDelta.RankGraph]]'s
    * round without teleport. */
  def pageRankOf(events: DataFrame, tUs: Column, iters: Int = 3,
                 dampBp: Long = 8500L): DataFrame = {
    val g = new PageRankDelta.RankGraph(
      PageRankDelta.directedCensusOf(CensusDelta.prep(events, tUs)),
      teleport = false, iters, dampBp)
    g.iterate(g.uniform("rank_micro"), Seq("rank_micro"), 1 to iters)
  }

  /** Full-Google-matrix PageRank (q142): [[pageRankOf]] plus dangling-mass
    * redistribution — the one documented simplification in q139 closed.
    * A DANGLING node (appears as a dst but never as a src; its rank has
    * nowhere to flow) leaks its mass in q139; here each round teleports it
    * uniformly: with D = Σ rank(dangling) and n = |nodes|,
    *
    *   rank'(v) = (10000−dampBp)·100 + (contrib(v)·dampBp) div 10000
    *                                 + ((D div n)·dampBp) div 10000
    *
    * (integer division order declared: per-node share D div n FIRST, then
    * damping — both engines verbatim). On a graph with no dangling nodes
    * D = 0 and q142 degenerates to q139 exactly — PageRankSpec pins both
    * that degeneracy and a hand-computed dangling graph where the two
    * diverge.
    *
    * Scale shape: q139's rounds plus, per round, ONE 1-row dangling-mass
    * census (rank ⋈ the persisted dangling-node list, vocab-bounded, then
    * a global sum) broadcast back over the node table — the same 1-row
    * census crossJoin posture as ops/Components. n comes from a second
    * 1-row census. Int64: D ≤ total mass ≈ n·1e6 — the q139 bound;
    * (D div n) ≤ ~1e6·(1+ε), so the damped product is safe. Each round's
    * rank feeds two readers here, so it checkpoints every round
    * ([[PageRankDelta.RankGraph]] derives the cadence). This IS
    * [[PageRankDelta.rankOf]] over the corpus's directed census. */
  def pageRankFullOf(events: DataFrame, tUs: Column, iters: Int = 3,
                     dampBp: Long = 8500L): DataFrame =
    PageRankDelta.rankOf(PageRankDelta.directedCensusOf(CensusDelta.prep(events, tUs)),
      iters, dampBp)

  // ---------------------------------------------------------------- q139
  def q139(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    pageRankOf(ev, Tables.tsMicros(ev))
  }

  // ---------------------------------------------------------------- q142
  def q142(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    pageRankFullOf(ev, Tables.tsMicros(ev))
  }

  /** Mirror of [[pageRankOf]] with the 3 rounds unrolled as CTEs. */
  private def q139Sql(iters: Int = 3, dampBp: Long = 8500L): String = {
    val base = (10000L - dampBp) * 100L
    val head =
      s"""WITH e0 AS (
         |  SELECT user_id, event_id,
         |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
         |         epoch_us(ts) AS t
         |  FROM events),
         |e AS (SELECT * FROM e0 WHERE item IS NOT NULL),
         |l AS (
         |  SELECT item AS dst_i,
         |         lag(item, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src_i
         |  FROM e),
         |ed AS (
         |  SELECT src_i AS src, dst_i AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM l WHERE src_i IS NOT NULL AND src_i != dst_i GROUP BY 1, 2),
         |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM ed GROUP BY 1),
         |ew AS (SELECT ed.src, ed.dst, ed.w, ow.out_w FROM ed JOIN ow USING (src)),
         |nodes AS (SELECT src AS item FROM ed UNION SELECT dst FROM ed),
         |r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT dst, CAST(SUM((rank_micro * w) // out_w) AS BIGINT) AS contrib
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.item GROUP BY 1),
         |r$i AS (
         |  SELECT n.item,
         |         CAST($base + (COALESCE(c$i.contrib, 0) * $dampBp) // 10000 AS BIGINT)
         |           AS rank_micro
         |  FROM nodes n LEFT JOIN c$i ON n.item = c$i.dst)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT item, rank_micro FROM r$iters"
  }

  /** Mirror of [[pageRankFullOf]]: q139's CTE chain plus the dangling-node
    * set, the node count, and a per-round 1-row dangling-mass CTE. */
  private def q142Sql(iters: Int = 3, dampBp: Long = 8500L): String = {
    val base = (10000L - dampBp) * 100L
    val head =
      s"""WITH e0 AS (
         |  SELECT user_id, event_id,
         |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
         |         epoch_us(ts) AS t
         |  FROM events),
         |e AS (SELECT * FROM e0 WHERE item IS NOT NULL),
         |l AS (
         |  SELECT item AS dst_i,
         |         lag(item, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src_i
         |  FROM e),
         |ed AS (
         |  SELECT src_i AS src, dst_i AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM l WHERE src_i IS NOT NULL AND src_i != dst_i GROUP BY 1, 2),
         |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM ed GROUP BY 1),
         |ew AS (SELECT ed.src, ed.dst, ed.w, ow.out_w FROM ed JOIN ow USING (src)),
         |nodes AS (SELECT src AS item FROM ed UNION SELECT dst FROM ed),
         |dang AS (SELECT item FROM nodes WHERE item NOT IN (SELECT src FROM ed)),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
         |r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT dst, CAST(SUM((rank_micro * w) // out_w) AS BIGINT) AS contrib
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.item GROUP BY 1),
         |dm$i AS (
         |  SELECT CAST(COALESCE(SUM(r.rank_micro), 0) AS BIGINT) AS d_mass
         |  FROM r${i - 1} r JOIN dang USING (item)),
         |r$i AS (
         |  SELECT n.item,
         |         CAST($base + (COALESCE(c$i.contrib, 0) * $dampBp) // 10000
         |                    + ((dm$i.d_mass // nc.n_nodes) * $dampBp) // 10000 AS BIGINT)
         |           AS rank_micro
         |  FROM nodes n LEFT JOIN c$i ON n.item = c$i.dst, dm$i, nc)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT item, rank_micro FROM r$iters"
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q139_pagerank", q139, Some(q139Sql())),
    QueryDef("q142_pagerank_full", q142, Some(q142Sql())))
}
