package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (q53): cluster the embedding
  * corpus with [[KMeans]], then WITHIN each cluster mark every vector that
  * has an earlier (lower-id) neighbor at cosine ≥ τ as a semantic
  * duplicate — keep = the cluster-local greedy-by-id representatives. This
  * is the consumer [[KMeans]] exists for (its scaladoc's "cluster, then
  * dedup WITHIN clusters"): the clustering bounds the pairwise comparison
  * to cells, so the corpus is shuffled ONCE by cluster id and the
  * quadratic term is per-cell, never global — the standard
  * billion-embedding semantic-dedup layout (k grows with n to hold cell
  * sizes constant).
  *
  * Determinism: similarity is computed over the SAME int64-quantized
  * vectors as the clustering — dot products and norms are exact integer
  * folds (≤ 2⁵³, so even a double-accumulating engine is exact), the final
  * quotient is one IEEE division + sqrt on identical inputs,
  * floor-truncated to 6 dp before the threshold (`floor(x·1e6)/1e6`, the
  * scoredDocs/surprisal idiom — `round()` half-handling differs between
  * Spark's BigDecimal HALF_UP and DuckDB's double rounding when the
  * quotient terminates exactly on a half-boundary) — so cluster
  * assignment AND the dup/keep decision are bit-identical across engines
  * and re-runs, which is what makes a hash-exact DuckDB oracle possible
  * (same contract as q51).
  *
  * Scale shape: assignment is map-side (broadcast centroid row over
  * [[KMeans.fit]]'s checkpointed k-row fixed point) and is materialized
  * ONCE via the keyed persist — the cell-size census, both pairing sides
  * and the final attach all read that single InMemoryRelation, so the
  * corpus is scanned once per call (PlanSpec-pinned, the q12/q52
  * assertion style). The within-cell pairing is an equi-join on cid; the
  * dup attach joins the (dup-only) aggregate back by vec_id. No
  * cartesian product anywhere.
  *
  * `maxCell` is the quadratic kill switch (the q12-`maxBucket`
  * precedent): a cell of m members emits m(m−1)/2 pair rows, and
  * SemDeDup's natural input — a mass-near-duplicate corpus — is exactly
  * the distribution that collapses one cell into millions of members
  * (with small k the cid key also bounds pairing parallelism at k, so an
  * over-full cell inherits the skew). Cells above the cap are excluded
  * from pairing WHOLESALE — their members come back is_dup = 0 — because
  * an over-full cell is one giant semantic cluster, a resolution failure
  * of the clustering, not a pairing problem: the remedy is more
  * centroids, not a bigger join. Size k ≈ n / targetCell so expected
  * cell size sits well under the cap.
  */
object SemDeDup {

  /** Exact integer dot product of two quantized vectors as a SQL string
    * (shared with [[HardNeg]] and [[graft.ops.VectorPipeline]] so the
    * similarity kernel cannot drift).
    *
    * r17: the native fused-loop expression (graft.functions.IntDot)
    * replaces the aggregate/zip_with HOF chain — evaluated per candidate
    * pair of the within-cell join (q53/q60/q61's dominant stage), the
    * interpreted three-pass fold and its zipped temp array were the hot
    * path. Bit-identical long arithmetic; callers register it via
    * [[graft.GraftExtensions.register]]. */
  private[graft] def intDot(a: String, b: String) = s"int_dot($a, $b)"

  /** General form over any (vec_id, embedding array<float>) frame.
    * Output: one row per vector — (vec_id, cid, is_dup, rep_of, max_sim)
    * where rep_of = the smallest earlier similar id in the cell (NULL for
    * representatives / singletons). */
  def semDedupOf(embeds: DataFrame, k: Int = 8, iters: Int = 2,
                 minSim: Double = 0.25, maxCell: Int = 4096): DataFrame = {
    graft.GraftExtensions.register(embeds.sparkSession)
    // Keyed persist, not bare references: the assignment is read four
    // times (the eager cell census, both pairing sides, the final
    // attach); unpersisted, each reference re-runs quantize+assign — one
    // corpus scan each (the round-5 verdict measured 24 scans in this
    // query's plan).
    val assigned = Tables.swapPersist("semdedup_assigned",
      KMeans.assignments(embeds, k, iters)
        .select(col("vec_id"), col("cid"), col("q"))
        .withColumn("nrm", expr(intDot("q", "q"))))
    // Census as ONE eager pass over the cache (the CC convergence-count
    // pattern; result ≤ k ids on the driver): over-cap cells become a
    // LITERAL not-in predicate, so the pairing sides prune map-side — an
    // eligibility JOIN would instead embed the census subtree in both
    // pair sides and re-aggregate the cache once per side.
    val oversized = assigned.groupBy(col("cid")).agg(count(lit(1)).as("m"))
      .filter(col("m") > maxCell).select(col("cid"))
      .collect().map(_.getInt(0)).toIndexedSeq
    val elig = if (oversized.isEmpty) assigned
               else assigned.filter(!col("cid").isin(oversized: _*))
    val a = elig.select(col("cid"), col("vec_id").as("aid"),
      col("q").as("qa"), col("nrm").as("na"))
    val b = elig.select(col("cid"), col("vec_id").as("bid"),
      col("q").as("qb"), col("nrm").as("nb"))
    val dups = a.join(b, "cid").filter(col("aid") < col("bid"))
      .withColumn("sim", floor(
        expr(intDot("qa", "qb")) / (sqrt(col("na")) * sqrt(col("nb"))) * 1e6) / 1e6)
      .filter(col("sim") >= minSim)
      .groupBy(col("bid").as("vec_id"))
      .agg(min(col("aid")).as("rep_of"), max(col("sim")).as("max_sim"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        col("rep_of").isNotNull.cast("int").as("is_dup"),
        col("rep_of"), col("max_sim"))
  }

  // ---------------------------------------------------------------- q53
  // maxCell bound at a NON-default 500 so the oracle exercises the capped
  // formulation (the q12 fixture-binding pattern); the fixture's balanced
  // cells (~62 members at sf0.01) all pass, so the cap is live but
  // non-mutating here — the hostile-cell spec covers the dropping path.
  def q53(spark: SparkSession, sfDir: String): DataFrame =
    semDedupOf(Tables.table(spark, sfDir, "embeddings"), maxCell = 500)

  private def q53Sql(k: Int = 8, iters: Int = 2, dim: Int = 64,
                     minSim: Double = 0.25, maxCell: Int = 500): String =
    s"""WITH ${KMeans.duckFitCtes(k, iters, dim)},
       |normed AS (
       |  SELECT vec_id, cid, q,
       |         CAST(list_sum(list_transform(range(1, ${dim + 1}), j -> q[j] * q[j])) AS BIGINT) AS nrm
       |  FROM fin),
       |okcells AS (SELECT cid FROM normed GROUP BY cid HAVING count(*) <= $maxCell),
       |elig AS (SELECT n.* FROM normed n JOIN okcells USING (cid)),
       |sims AS (
       |  SELECT a.vec_id AS aid, b.vec_id AS bid,
       |         floor(CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |                 j -> a.q[j] * b.q[j])) AS BIGINT)
       |               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000.0) / 1000000.0 AS sim
       |  FROM elig a JOIN elig b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dups AS (
       |  SELECT bid AS vec_id, min(aid) AS rep_of, max(sim) AS max_sim
       |  FROM sims WHERE sim >= $minSim GROUP BY bid)
       |SELECT n.vec_id, CAST(n.cid AS BIGINT) AS cid,
       |       CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
       |       d.rep_of, d.max_sim
       |FROM normed n LEFT JOIN dups d ON d.vec_id = n.vec_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q53_semdedup", q53, Some(q53Sql()))
  )
}
