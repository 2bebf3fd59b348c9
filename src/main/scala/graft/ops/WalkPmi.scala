package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q155 — PMI-weighted walk-pair corpus: the shifted-PMI co-occurrence
  * matrix view of q153's walk corpus — exactly the input of SGNS-as-
  * implicit-matrix-factorization (Levy & Goldberg, NeurIPS 2014): a
  * skip-gram embedding trained on q153's pairs factorizes THIS matrix,
  * so materializing it is the census a curator reads (and a direct
  * matrix-factorization trainer consumes) before spending GPU time.
  *
  * Semantics (both engines, bit-identical): over the pair census
  * (a, b, cnt), node occurrence occ(x) = Σ cnt over pairs containing x,
  * total mass T = Σ cnt; pmi(a, b) = round(ln(cnt·T / (occ_a·occ_b)), 6)
  * — the double forms from IDENTICAL int64 operands on both engines and
  * rounds to 6 dp (the q29 TF-IDF ln discipline, which the verify canon
  * also rounds to). The integer inputs stay in the row (cnt, occ_a,
  * occ_b, t_mass), so any consumer can re-derive shifted PMI
  * (pmi − ln k) without touching doubles we didn't emit. Exactness
  * bound: both engines form the integer products BEFORE the double
  * cast, so the doubles are identical whenever cnt·T and occ_a·occ_b
  * stay under 2⁵³ — pair mass is (Steps+1)²-bounded per walk, so this
  * holds far past a 10⁶-node catalog.
  *
  * Scale shape: everything is census-grain — the pair census persists
  * once for its three readers (occupancy explode, T fold, final row);
  * occ is a node-grain rollup of the two-arm explode; T attaches via an
  * empty-window sum over the pair census ITSELF (the q145 posture — no
  * 1-row BNLJ anywhere, PlanSpec pins 0); the two occ attaches are
  * node-keyed equi-joins. The corpus-sized work lives upstream inside
  * q153's machinery (persisted weighted census, checkpointed walks). */
object WalkPmi {

  /** (a, b, cnt, occ_a, occ_b, t_mass, pmi) over a pair census. */
  def pmiOf(pairs: DataFrame): DataFrame = {
    // r16: localCheckpoint, not keyed persist — the pair census is
    // census-bounded and its three readers (occupancy explode, T fold,
    // final row) otherwise each re-plan the full upstream walk/backbone
    // lineage per action (see SpectralEmbed.ppmiMatOf).
    val p = pairs.localCheckpoint()
    val occ = p.select(col("a").as("x"), col("cnt"))
      .unionByName(p.select(col("b").as("x"), col("cnt")))
      .groupBy(col("x")).agg(sum(col("cnt")).as("occ"))
    // r16 optimization (guide §3.1): occ is node-grain (strictly smaller
    // than the pair census), so both occupancy attaches broadcast — the
    // census itself never re-shuffles for them (it is already a single
    // AQE-coalesced run out of the t_mass fold).
    p.withColumn("t_mass", sum(col("cnt")).over(Window.partitionBy()))
      .join(broadcast(occ.select(col("x").as("a"), col("occ").as("occ_a"))), Seq("a"))
      .join(broadcast(occ.select(col("x").as("b"), col("occ").as("occ_b"))), Seq("b"))
      .select(col("a"), col("b"), col("cnt"), col("occ_a"), col("occ_b"),
        col("t_mass"),
        round(log(col("cnt") * col("t_mass") / (col("occ_a") * col("occ_b"))), 6)
          .as("pmi"))
  }

  // ---------------------------------------------------------------- q155
  def q155(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    pmiOf(WalkPairs.walkPairsOf(Backbone.backboneOf(pw)))
  }

  /** Mirror of [[pmiOf]] over [[WalkPairs.walkPairCtes]]'s `pairs`: CTE
    * stack ending in `pmi(a, b, cnt, occ_a, occ_b, t_mass, pmi)` — shared
    * by the q155 oracle and the spectral/similarity consumers (q156+). */
  private[ops] def pmiCtes: String =
    s"""${WalkPairs.walkPairCtes},
       |occ AS (SELECT x, CAST(sum(cnt) AS BIGINT) AS occ FROM (
       |          SELECT a AS x, cnt FROM pairs
       |          UNION ALL SELECT b AS x, cnt FROM pairs)
       |        GROUP BY x),
       |pt AS (SELECT *, CAST(sum(cnt) OVER () AS BIGINT) AS t_mass FROM pairs),
       |pmi AS MATERIALIZED (
       |  SELECT pt.a, pt.b, pt.cnt, oa.occ AS occ_a, ob.occ AS occ_b, pt.t_mass,
       |         round(ln(CAST(pt.cnt * pt.t_mass AS DOUBLE)
       |                  / CAST(oa.occ * ob.occ AS DOUBLE)), 6) AS pmi
       |  FROM pt
       |  JOIN occ oa ON pt.a = oa.x
       |  JOIN occ ob ON pt.b = ob.x)""".stripMargin

  private def q155Sql: String =
    s"""$pmiCtes
       |SELECT a, b, cnt, occ_a, occ_b, t_mass, pmi FROM pmi""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q155_walk_pmi", q155, Some(q155Sql)))
}
