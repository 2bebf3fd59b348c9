package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q153 — deterministic random-walk pair corpus over the support
  * backbone: the skip-gram positive-pair census a graph-embedding
  * trainer (DeepWalk / node2vec with p = q = 1) consumes.
  *
  * One walk starts at every backbone node and takes [[Steps]] steps; at
  * each step the walker at node u moves to the neighbor whose per-node
  * rank equals H mod deg(u), where H is the first-8-hex integer of
  * md5("walk|" ++ walk_id ++ "|" ++ step) — the q54/q55/q83 md5 idiom,
  * so the "random" choice is a pure function of (walk, step) that both
  * engines compute byte-identically: no RNG, retry-stable, and the
  * oracle replays the exact same trajectories. The output is the
  * within-walk co-visit census (a, b, cnt) over distinct-node pairs
  * (a < b; a walk that bounces A→B→A contributes no (A,A)) — exactly
  * the (center, context) pair multiset of a full-window skip-gram over
  * each trajectory.
  *
  * Scale shape: walks live on the vocab²-bounded backbone, never the
  * corpus — the corpus-sized lag/pool pass runs ONCE inside the
  * persisted weighted census upstream. The ranked adjacency (rn, deg
  * from two windows PARTITIONED by node — no global sort) persists for
  * the [[Steps]] step joins; each step is ONE equi-join of the
  * |nodes|-row frontier against the adjacency, localCheckpointed every
  * round (the q142 doubled-pass rule: each frontier feeds the next step
  * AND the trajectory union). Trajectories are (Steps+1)·|nodes| rows;
  * the pair join is walk-keyed with a ≤(Steps+1)² in-walk fan-out.
  * Walk count scales with the node census — on a 10⁷-item catalog this
  * is 10⁷ walks of depth 4, embarrassingly parallel, the standard
  * distributed DeepWalk round.
  *
  * Int64 bounds: H < 2³², degrees < |vocab|, counts census-sized. */
object WalkPairs {

  /** Walk depth — (Steps+1)-node trajectories. Fixed and shared
    * verbatim by the Spark loop and the oracle's unrolled CTEs. */
  val Steps = 4

  /** Engine-specific "next-neighbor rank" expression: H(walk, step) mod
    * deg, H = first-8-hex of md5("walk|<walk>|<step>"). `walkExpr` must
    * already be a string-typed SQL expression on both engines. */
  private def nextRank(walkExpr: String, step: Int, duck: Boolean): String = {
    val m =
      if (duck) s"md5('walk|' || $walkExpr || '|' || '$step')"
      else s"md5(concat('walk|', $walkExpr, '|', '$step'))"
    s"(${graft.ext.TextOps.hexVal(m, 1, duck)} % deg)"
  }

  /** Within-walk co-visit pair census (a, b, cnt) of [[Steps]]-step
    * deterministic walks, one per node of the canonical (a < b) edge
    * list `strong`. */
  def walkPairsOf(strong: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("u"))
    val adj = strong.select(col("a").as("u"), col("b").as("v"))
      .unionAll(strong.select(col("b").as("u"), col("a").as("v")))
      .select(col("u"), col("v"),
        (row_number().over(wU.orderBy(col("v"))) - 1).as("rn"),
        count(lit(1)).over(wU).as("deg"))
    // Steps + 1 readers: every step join re-reads the ranked adjacency.
    // r16: localCheckpoint, not keyed persist — truncates the
    // backbone/corpus lineage out of each step-join plan (the per-action
    // re-optimization cost; see SpectralEmbed.ppmiMatOf), and the
    // checkpointed RDD needs no cross-query eviction key.
    val adjP = adj.localCheckpoint()

    var frontier = adjP.select(col("u").as("walk")).distinct()
      .withColumn("cur", col("walk"))
      .localCheckpoint()
    val trajs = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("walk"), lit(0).as("step"), col("cur").as("node")))
    // r17: gate measured ONCE per walk (the adjacency is fixed across
    // steps; a per-step fits() call pays a storage-registry scan per
    // round for the same answer)
    val fits = ScaleGuard.fits(adjP)
    for (s <- 1 to Steps) {
      // each frontier has TWO consumers (next step + trajectory union) —
      // the doubled-pass rule: localCheckpoint EVERY round.
      // r16 optimization (guide §3.1): the frontier is node-bounded (one
      // walker per backbone node), i.e. always the broadcastable side —
      // but as a checkpointed LogicalRDD it carries no stats, so Spark
      // planned a two-sided shuffle of the ranked adjacency EVERY step.
      // Broadcast it explicitly: the adjacency never moves (the standard
      // BFS-frontier layout), each step is one stage.
      // r17: gated on the measured adjacency bytes (one walker per
      // backbone node → frontier ≤ adjacency rows) — verdict #2
      frontier = adjP.join(
          if (fits) broadcast(frontier) else frontier,
          col("cur") === col("u"))
        .filter(expr(s"rn = ${nextRank("CAST(walk AS STRING)", s, duck = false)}"))
        .select(col("walk"), col("v").as("cur"))
        .localCheckpoint()
      trajs += frontier.select(col("walk"), lit(s).as("step"), col("cur").as("node"))
    }
    val traj = trajs.reduce(_ unionAll _)

    val t1 = traj.select(col("walk"), col("step").as("s1"), col("node").as("n1"))
    val t2 = traj.select(col("walk"), col("step").as("s2"), col("node").as("n2"))
    t1.join(t2, Seq("walk"))
      .filter(col("s1") < col("s2") && col("n1") =!= col("n2"))
      .groupBy(least(col("n1"), col("n2")).as("a"),
        greatest(col("n1"), col("n2")).as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------------- q153
  def q153(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    walkPairsOf(Backbone.backboneOf(pw))
  }

  /** Mirror of [[walkPairsOf]] over [[Backbone.backboneCtes]]: the
    * [[Steps]] step CTEs unrolled, ending in `pairs(a, b, cnt)` —
    * shared by the q153 oracle and q155's PMI layer. MATERIALIZED is
    * load-bearing (the q146 lesson): each step is referenced by the
    * next step AND the trajectory union, so un-materialized inlining
    * doubles per step — and each reference re-expands the 8-term
    * hexVal polynomial. */
  private[ops] def walkPairCtes: String = {
    val steps = (1 to Steps).map { s =>
      s"""s$s AS MATERIALIZED (
         |  SELECT f.walk, a.v AS cur
         |  FROM s${s - 1} f JOIN adj a ON f.cur = a.u
         |  WHERE a.rn = ${nextRank("CAST(f.walk AS VARCHAR)", s, duck = true)})""".stripMargin
    }.mkString(",\n")
    val trajArms = (0 to Steps)
      .map(s => s"SELECT walk, $s AS step, cur AS node FROM s$s")
      .mkString(" UNION ALL ")
    s"""${Backbone.backboneCtes()},
       |adj AS MATERIALIZED (
       |  SELECT u, v,
       |         row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS rn,
       |         count(*) OVER (PARTITION BY u) AS deg
       |  FROM (SELECT a AS u, b AS v FROM strong
       |        UNION ALL SELECT b AS u, a AS v FROM strong)),
       |s0 AS MATERIALIZED (SELECT DISTINCT u AS walk, u AS cur FROM adj),
       |$steps,
       |traj AS MATERIALIZED ($trajArms),
       |pairs AS MATERIALIZED (
       |  SELECT least(t1.node, t2.node) AS a, greatest(t1.node, t2.node) AS b,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM traj t1
       |  JOIN traj t2 ON t1.walk = t2.walk AND t1.step < t2.step
       |              AND t1.node <> t2.node
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def q153Sql: String =
    s"""$walkPairCtes
       |SELECT a, b, cnt FROM pairs""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q153_walk_pairs", q153, Some(q153Sql)))
}
