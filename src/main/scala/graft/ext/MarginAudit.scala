package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster assignment-margin audit (q109) — per-cell confidence census of
  * a k-means partitioning: for every vector, the ratio of its distance to
  * the NEAREST centroid over its distance to the SECOND-nearest
  * (margin_bp = d1·10⁴ div d2 ∈ [0, 10⁴]; 0 = dead-center, 10⁴ = sitting
  * on the boundary), rolled up per cell as mean margin and the share of
  * boundary vectors (margin ≥ 8000 bp). The IVF-quality diagnostic that
  * explains q73's recall numbers BEFORE running them: cells full of
  * boundary vectors are exactly where single-cell ANN probes lose
  * neighbors, and where SemDeDup/q53's cell-bounded pairing misses
  * cross-cell near-dups — this table says which cells need multi-probe
  * or a larger k, at census price.
  *
  * Exactness: distances are exact int64 sums over milli-quantized dims
  * (the [[KMeans]] integer discipline; d1·10⁴ is int64-safe for
  * |coord| ≤ ~10⁶ milli-units at 64 dims, documented), the ratio is
  * integer division, and tie-breaks (equal distances) resolve to the
  * lowest cid in both engines — hash-exact oracle including the full
  * Lloyd fixed point.
  *
  * Scale shape: quantized corpus persisted once; the fit is the
  * checkpointed k-row fixed point; the top-2 scan is ONE map-side pass
  * against the broadcast cid-sorted centroid row (the distance array is
  * already materialized in-row — second-best is `array_sort(darr)[1]`,
  * no second sweep); the rollup is a ≤ k-row aggregation. Nothing
  * collects beyond the k-row census, nothing pairs.
  */
object MarginAudit {

  /** (cell, n_vecs, mean_margin_bp, boundary_share_bp) over any
    * (vec_id, embedding) frame. */
  def marginAuditOf(embeds: DataFrame, k: Int = 8, iters: Int = 2,
                    boundaryBp: Int = 8000): DataFrame = {
    // a margin needs a second-nearest centroid: with k = 1 the Spark path
    // would emit all-NULL margins while the SQL mirror's rn=2 inner join
    // returns zero rows — fail fast instead of letting the engines diverge
    require(k >= 2, s"marginAuditOf needs k >= 2 centroids, got $k")
    val pts = Tables.swapPersist("q109_pts", KMeans.quantize(embeds))
    val cents = KMeans.fit(pts, k, iters)
    val centsRow = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
    graft.GraftExtensions.register(embeds.sparkSession) // native kernel (r17)
    pts.crossJoin(broadcast(centsRow))
      .withColumn("darr", expr("transform(cs, c -> int_l2(q, c.cvec))"))
      .withColumn("pi", (array_position(col("darr"), array_min(col("darr"))) - 1).cast("int"))
      .withColumn("cell", expr("cs[pi].cid"))
      .withColumn("sarr", expr("array_sort(darr)"))
      // d2 = 0 ⇒ two identical centroids own the point — margin undefined
      .withColumn("margin_bp", expr(
        "CASE WHEN sarr[1] = 0 THEN NULL ELSE sarr[0] * 10000 div sarr[1] END"))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("CASE WHEN count(margin_bp) = 0 THEN NULL " +
          "ELSE sum(margin_bp) div count(margin_bp) END").as("mean_margin_bp"),
        expr(s"count(CASE WHEN margin_bp >= $boundaryBp THEN 1 END) * 10000 div count(1)")
          .as("boundary_share_bp"))
  }

  // ---------------------------------------------------------------- q109
  def q109(spark: SparkSession, sfDir: String): DataFrame =
    marginAuditOf(Tables.table(spark, sfDir, "embeddings"))

  private def q109Sql(k: Int = 8, iters: Int = 2, dim: Int = 64,
                      boundaryBp: Int = 8000): String =
    s"""WITH ${KMeans.duckFitCtes(k, iters, dim)},
       |sc AS (
       |  SELECT p.vec_id, c.cid,
       |         CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |           j -> (p.q[j] - c.cvec[j]) * (p.q[j] - c.cvec[j]))) AS BIGINT) AS dist
       |  FROM pts p CROSS JOIN c$iters c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |      FROM sc),
       |m AS (SELECT a.vec_id, a.cid AS cell, a.dist AS d1, b.dist AS d2
       |      FROM (SELECT * FROM r WHERE rn = 1) a
       |      JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)),
       |g AS (SELECT cell,
       |             CASE WHEN d2 = 0 THEN NULL ELSE d1 * 10000 // d2 END AS margin
       |      FROM m)
       |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_vecs,
       |       CASE WHEN count(margin) = 0 THEN NULL
       |            ELSE CAST(sum(margin) // count(margin) AS BIGINT) END AS mean_margin_bp,
       |       CAST(count(CASE WHEN margin >= $boundaryBp THEN 1 END) * 10000 // count(*) AS BIGINT) AS boundary_share_bp
       |FROM g GROUP BY cell""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q109_margin_audit", q109, Some(q109Sql()))
  )
}
