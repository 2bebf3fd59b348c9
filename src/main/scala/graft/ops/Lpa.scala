package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label-propagation communities over the support backbone (q149) — the
  * near-linear community detector: every node starts as its own label;
  * each synchronous round it adopts the label most frequent among its
  * NEIGHBORS (tie → smallest label). After a fixed `rounds` sweeps the
  * surviving labels are the communities: dense browse neighborhoods in
  * the backbone, the candidate grouping a recommender or a curriculum
  * sharder wants where q38's connected components are too coarse (CC
  * merges anything touching; LPA splits a component along its sparse
  * cuts). Containment contract (spec-pinned): labels only ever travel
  * along edges, so every community sits INSIDE one connected component —
  * LPA refines CC, never crosses it.
  *
  * Fixed-round semantics, deliberately: synchronous LPA on bipartite-ish
  * structure can oscillate forever, so "run to convergence" is not
  * well-defined — the deterministic contract is EXACTLY `rounds`
  * synchronous sweeps with the (count DESC, label ASC) argmax, which
  * both engines compute bit-identically (the tie rule totally orders
  * candidates, so row_number = 1 is unambiguous). Four sweeps carry a
  * label about as far as the fixture backbones' diameters; it is a
  * parameter, not a convergence claim.
  *
  * Scale shape: each sweep is one adjacency⋈labels equi-join, one
  * (node, label) count, and one per-node top-1 window — all on the
  * vocab-bounded label table and the vocab²-bounded persisted adjacency;
  * the per-node window partitions by node (no global sort). The label
  * frame has ONE consumer per sweep (linear lineage — the q139 posture);
  * it localCheckpoints once after the loop because the final census
  * reads it twice (size + join — the q142 doubled-pass rule applied at
  * the last step only). */
object Lpa {

  val DefaultRounds = 4

  /** The bare sweep loop: final (v, lbl) after `rounds` synchronous
    * sweeps over a PERSISTED bidirectional adjacency (c, n). The caller
    * owns persisting `adj` (each sweep reads it once) and checkpointing
    * the result (every known consumer reads it more than once). Shared
    * by q149 and q151's Spark sides, exactly as [[lpaSweepCtes]] is
    * shared by their oracles. */
  private[ops] def sweep(adj: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var lbl = adj.select(col("c").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    val top1 = Window.partitionBy(col("v")).orderBy(col("cnt").desc, col("lbl"))
    for (_ <- 1 to rounds) {
      lbl = adj.join(lbl.select(col("v").as("n"), col("lbl")), Seq("n"))
        .groupBy(col("c").as("v"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(top1))
        .filter(col("rn") === 1)
        .select(col("v"), col("lbl"))
    }
    lbl
  }

  /** (item, community, community_size) after `rounds` synchronous LPA
    * sweeps over a canonical (a < b) edge list. */
  def lpaOf(strong0: DataFrame, rounds: Int = DefaultRounds): DataFrame = {
    // r16: checkpoints, not keyed persists — lineage truncation (ppmiMatOf)
    val strong = strong0.select(col("a"), col("b")).localCheckpoint()
    val adj =
      strong.select(col("a").as("c"), col("b").as("n"))
        .unionAll(strong.select(col("b").as("c"), col("a").as("n")))
        .localCheckpoint()
    val fin = sweep(adj, rounds).localCheckpoint() // two readers below
    fin.join(fin.groupBy(col("lbl")).agg(count(lit(1)).as("community_size")), Seq("lbl"))
      .select(col("v").as("item"), col("lbl").as("community"), col("community_size"))
  }

  // ---------------------------------------------------------------- q149
  def q149(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    lpaOf(Backbone.backboneOf(pw))
  }

  /** The adj + l0..l`rounds` sweep CTEs (appended after
    * [[Backbone.backboneCtes]]'s `strong`) — the final labels live in
    * `l$rounds(v, lbl)`. Shared by the q149 and q151 oracles so the two
    * engines' LPA texts cannot drift apart. */
  private[ops] def lpaSweepCtes(rounds: Int = DefaultRounds): String = {
    val head = s""",
                  |adj AS (SELECT a AS c, b AS n FROM strong
                  |        UNION ALL SELECT b, a FROM strong),
                  |l0 AS (SELECT DISTINCT c AS v, c AS lbl FROM adj)""".stripMargin
    val sweeps = (1 to rounds).map { r =>
      s""",
         |n$r AS (SELECT adj.c AS v, l.lbl, count(*) AS cnt
         |        FROM adj JOIN l${r - 1} l ON adj.n = l.v GROUP BY 1, 2),
         |l$r AS (SELECT v, lbl FROM (
         |          SELECT v, lbl,
         |                 row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
         |          FROM n$r) t
         |        WHERE rn = 1)""".stripMargin
    }.mkString
    head + sweeps
  }

  /** Mirror of [[lpaOf]] over [[Backbone.backboneCtes]], the `rounds`
    * sweeps unrolled. */
  private def q149Sql(rounds: Int = DefaultRounds): String =
    s"""${Backbone.backboneCtes()}${lpaSweepCtes(rounds)},
       |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |       FROM l$rounds GROUP BY lbl)
       |SELECT l$rounds.v AS item, l$rounds.lbl AS community, sz.community_size
       |FROM l$rounds JOIN sz ON l$rounds.lbl = sz.lbl""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q149_lpa_communities", q149, Some(q149Sql())))
}
