package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IO
import graft.oracle.{QueryDef, Tables}

/** q170 — the centroid store: q165's warm Lloyd refresh run against
  * PERSISTED centroids, completing the artifact-read surface across all
  * five maintained operator classes (census+frontier+spectral+ranks
  * q167, dedup signatures q168, centroids here). A fit job writes
  * yesterday's settled fixed point (k rows of (cid, cvec)) to parquet;
  * the recurring job reads it back and runs [[KMeansDelta.WarmIters]]
  * Lloyd round(s) over the full corpus — assignment necessarily touches
  * every point (that IS the operator: each ingest re-clusters the whole
  * table), so unlike q167/q168 the saving is not a corpus scan but the
  * seed+cold-depth fit: [[KMeansDelta.WarmIters]]/([[KMeansDelta.Iters]]+1)
  * of the cold arm's passes, exactly q165's measured warm-start value.
  *
  * Output: one row per cluster — (cid, n_warm, inertia_warm,
  * cent_shift): the warm assignment census (spec-pinned EQUAL to q165's
  * n_warm/inertia_warm columns — the store round-trips losslessly) plus
  * the L1 distance each centroid moved from its stored position — the
  * drift a production deployment monitors to decide when the store
  * needs a full re-fit rather than another warm round.
  *
  * Staleness: [[graft.ops.ArtifactStore]]'s sentinel protocol over the
  * embeddings fixture listing. Settled slice = q165's append-only-id
  * cut (vec_id below [[KMeansDelta.SettledPct]]% of the corpus count),
  * so the two queries share one settled definition and the spec compare
  * is exact. */
object KMeansStore {

  val StoreVersion = 1

  private def storeTag: String =
    s"kmeans-p${KMeansDelta.SettledPct}-v$StoreVersion"

  /** Fingerprint extra: the dir tag PLUS the fit-time hyperparameters
    * (k, cold iters, dim) — changing KMeansDelta.K without a StoreVersion
    * bump must invalidate stored centroids, not silently reuse them. */
  private def storeExtra: String =
    s"$storeTag|k${KMeansDelta.K}|i${KMeansDelta.Iters}|d${KMeansDelta.Dim}"

  /** Yesterday's job: fit the settled slice, persist the k centroids
    * under the fingerprint-keyed [[graft.ops.ArtifactStore.versionDir]]. */
  def fitStore(spark: SparkSession, embeds: DataFrame, dir: String,
               fp: String, k: Int = KMeansDelta.K,
               iters: Int = KMeansDelta.Iters,
               settledPct: Long = KMeansDelta.SettledPct): String = synchronized {
    graft.ops.ArtifactStore.beginFit(dir)
    val vdir = graft.ops.ArtifactStore.versionDir(dir, fp)
    val pts = Tables.swapPersist("q170_fit_pts", KMeans.quantize(embeds))
    val nC = pts.agg(count(lit(1)).as("n"))
    val settled = pts.crossJoin(broadcast(nC))
      .filter(expr(s"vec_id < (n * $settledPct) div 100"))
      .select(col("vec_id"), col("q"))
    KMeans.fit(settled, k, iters).write.mode("overwrite")
      .parquet(s"$vdir/centroids")
    graft.ops.ArtifactStore.commitFit(dir, fp)
    vdir
  }

  /** The recurring job — see object doc. Check+fit share one lock so two
    * concurrent callers can't both observe stale and both refit. */
  def storeRefreshOf(spark: SparkSession, embeds: DataFrame, dir: String,
                     fp: String, warmIters: Int = KMeansDelta.WarmIters): DataFrame = {
    synchronized {
      if (!graft.ops.ArtifactStore.isFresh(dir, fp))
        fitStore(spark, embeds, dir, fp)
    }
    val cS = IO.parquet(spark,
      s"${graft.ops.ArtifactStore.versionDir(dir, fp)}/centroids")
    val pts = Tables.swapPersist("q170_pts", KMeans.quantize(embeds))
    val cW = KMeans.fitFrom(pts, cS, warmIters)
    val census = KMeans.assign(pts, cW)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_warm"), sum(col("dist")).as("inertia_warm"))
    cW.select(col("cid"), col("cvec").as("cw"))
      .join(cS.select(col("cid"), col("cvec").as("cs")), Seq("cid"))
      .select(col("cid"),
        expr("aggregate(zip_with(cw, cs, (a, b) -> abs(a - b)), 0L, (s, x) -> s + x)")
          .as("cent_shift"))
      .join(census, Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"),
        coalesce(col("n_warm"), lit(0L)).as("n_warm"),
        coalesce(col("inertia_warm"), lit(0L)).as("inertia_warm"),
        col("cent_shift"))
  }

  // ---------------------------------------------------------------- q170
  def q170(spark: SparkSession, sfDir: String): DataFrame =
    storeRefreshOf(spark, Tables.table(spark, sfDir, "embeddings"),
      graft.ops.ArtifactStore.root(sfDir, storeTag),
      graft.ops.ArtifactStore.fingerprint(spark, sfDir, "embeddings", storeExtra))

  private def q170Sql(k: Int = KMeansDelta.K, iters: Int = KMeansDelta.Iters,
                      warmIters: Int = KMeansDelta.WarmIters,
                      dim: Int = KMeansDelta.Dim,
                      settledPct: Long = KMeansDelta.SettledPct): String = {
    def rounds(p: String, ptsCte: String, c0: String, n: Int): String =
      (1 to n).map(i => KMeansDelta.roundP(p, i, ptsCte,
        if (i == 1) c0 else s"${p}c${i - 1}", dim)).mkString(",\n")
    s"""WITH pts AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |ncc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
       |spts AS (SELECT vec_id, q FROM pts, ncc WHERE vec_id < (n * $settledPct) // 100),
       |s_c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS cvec
       |         FROM spts ORDER BY vec_id LIMIT $k),
       |${rounds("s_", "spts", "s_c0", iters)},
       |w_c0 AS (SELECT cid, cvec FROM s_c$iters),
       |${rounds("w_", "pts", "w_c0", warmIters)},
       |${KMeansDelta.finP("w_", "pts", s"w_c$warmIters", dim)},
       |rw AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_warm,
       |              CAST(sum(dist) AS BIGINT) AS inertia_warm
       |       FROM w_fin GROUP BY cid),
       |cl AS (SELECT w.cid,
       |              CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |                j -> abs(w.cvec[j] - c.cvec[j]))) AS BIGINT) AS cent_shift
       |       FROM w_c$warmIters w JOIN s_c$iters c USING (cid))
       |SELECT CAST(cl.cid AS BIGINT) AS cid,
       |       COALESCE(rw.n_warm, 0) AS n_warm,
       |       COALESCE(rw.inertia_warm, 0) AS inertia_warm,
       |       cl.cent_shift
       |FROM cl LEFT JOIN rw USING (cid)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q170_centroid_store", q170, Some(q170Sql())))
}
