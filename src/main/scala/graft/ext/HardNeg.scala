package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hard-negative mining (q60) — for every anchor vector, the most
  * cosine-similar vector with a DIFFERENT label inside the anchor's
  * k-means cell: the candidate-generation stage of contrastive embedding
  * training (similar-but-wrong examples are the gradient-rich negatives;
  * random negatives are trivially separable). The cell bound is the same
  * trick SemDeDup (q53) uses for dups, pointed at negatives: a vector's
  * hardest negative is overwhelmingly a near neighbor, and near neighbors
  * co-cluster, so the quadratic search is per-cell, never global — misses
  * only negatives that straddle a cell boundary (the standard
  * ANN-candidate recall trade, q20's IVF argument).
  *
  * Determinism: identical int64 kernel to q53 (exact integer dots/norms
  * over the quantized fixed point, 6 dp floor-truncated similarity);
  * winner per anchor = max (sim, −neg_id) struct — highest similarity,
  * ties to the LOWEST negative id — matching the oracle's
  * `ORDER BY sim DESC, bid` rank exactly.
  *
  * Scale shape: assignment + labels materialized ONCE (keyed persist; the
  * census, both candidate sides and the final attach read the cache; the
  * label attach inside is a thin co-keyed self-join on vec_id). Candidate
  * pairing is an equi-join on cid; the per-anchor winner is a groupBy max
  * with map-side partials (no corpus-wide window); `maxCell` caps the
  * per-cell quadratic wholesale (the q53/q12 kill switch — anchors in
  * dropped cells surface with NULL negatives, distinguishable from
  * "cell has no other label"). k ≈ n/targetCell as with q53.
  */
object HardNeg {

  /** (vec_id, cid, label, neg_id, neg_sim) over any
    * (vec_id, embedding array<float>, label) frame: neg_id = the
    * highest-similarity different-label member of the anchor's cell
    * (NULL when the cell holds no other label or was dropped by the cap). */
  def hardNegativesOf(embeds: DataFrame, k: Int = 8, iters: Int = 2,
                      maxCell: Int = 4096): DataFrame = {
    graft.GraftExtensions.register(embeds.sparkSession)
    val base = Tables.swapPersist("hardneg_base",
      KMeans.assignments(embeds.select(col("vec_id"), col("embedding")), k, iters)
        .select(col("vec_id"), col("cid"), col("q"))
        .withColumn("nrm", expr(SemDeDup.intDot("q", "q")))
        .join(embeds.select(col("vec_id"), col("label")), "vec_id"))
    val oversized = base.groupBy(col("cid")).agg(count(lit(1)).as("m"))
      .filter(col("m") > maxCell).select(col("cid"))
      .collect().map(_.getInt(0)).toIndexedSeq
    val elig = if (oversized.isEmpty) base
               else base.filter(!col("cid").isin(oversized: _*))
    val a = elig.select(col("cid"), col("vec_id").as("aid"),
      col("q").as("qa"), col("nrm").as("na"), col("label").as("la"))
    val b = elig.select(col("cid"), col("vec_id").as("bid"),
      col("q").as("qb"), col("nrm").as("nb"), col("label").as("lb"))
    val top = a.join(b, "cid")
      .filter(col("aid") =!= col("bid") && col("la") =!= col("lb"))
      .withColumn("sim", floor(
        expr(SemDeDup.intDot("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))) * 1e6) / 1e6)
      .groupBy(col("aid").as("vec_id"))
      .agg(max(struct(col("sim").as("s"), (-col("bid")).as("nb"))).as("w"))
      .select(col("vec_id"), (-col("w.nb")).as("neg_id"), col("w.s").as("neg_sim"))
    base.select(col("vec_id"), col("cid"), col("label"))
      .join(top, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("label"),
        col("neg_id"), col("neg_sim"))
  }

  // ---------------------------------------------------------------- q60
  // maxCell bound at the q53 fixture value (500) so the capped formulation
  // is the oracle-exercised one; fixture cells sit well under it.
  def q60(spark: SparkSession, sfDir: String): DataFrame =
    hardNegativesOf(Tables.table(spark, sfDir, "embeddings"), maxCell = 500)

  private def q60Sql(k: Int = 8, iters: Int = 2, dim: Int = 64,
                     maxCell: Int = 500): String =
    s"""WITH ${KMeans.duckFitCtes(k, iters, dim)},
       |lab AS (
       |  SELECT f.vec_id, f.cid, f.q, e.label,
       |         CAST(list_sum(list_transform(range(1, ${dim + 1}), j -> f.q[j] * f.q[j])) AS BIGINT) AS nrm
       |  FROM fin f JOIN embeddings e USING (vec_id)),
       |okcells AS (SELECT cid FROM lab GROUP BY cid HAVING count(*) <= $maxCell),
       |elig AS (SELECT l.* FROM lab l JOIN okcells USING (cid)),
       |sims AS (
       |  SELECT a.vec_id AS aid, b.vec_id AS bid,
       |         floor(CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |                 j -> a.q[j] * b.q[j])) AS BIGINT)
       |               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000.0) / 1000000.0 AS sim
       |  FROM elig a JOIN elig b
       |    ON a.cid = b.cid AND a.vec_id != b.vec_id AND a.label != b.label),
       |top AS (
       |  SELECT aid AS vec_id, bid AS neg_id, sim AS neg_sim,
       |         row_number() OVER (PARTITION BY aid ORDER BY sim DESC, bid) AS rn
       |  FROM sims)
       |SELECT l.vec_id, CAST(l.cid AS BIGINT) AS cid, l.label,
       |       t.neg_id, t.neg_sim
       |FROM lab l LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (vec_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q60_hard_negatives", q60, Some(q60Sql()))
  )
}
