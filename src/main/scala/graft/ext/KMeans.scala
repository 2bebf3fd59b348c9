package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over the embedding corpus — the clustering stage behind
  * SemDeDup-style semantic dedup and corpus partitioning (cluster, then
  * dedup/sample WITHIN clusters). Spark ships MLlib's KMeans, but its
  * float math is summation-order-dependent (non-reproducible run to run
  * at scale) and invisible to a cross-engine oracle; this implementation
  * runs ENTIRELY in int64:
  *
  *   - dims quantized to milli-units with `floor(x·1000 + 0.5)` (float→
  *     double widening is exact; both engines round identically — the q36
  *     trick, since `round()` half-handling differs cross-engine),
  *   - distances are integer squared-L2 (exact, order-free),
  *   - centroid means are exact floor division (`(s − pmod(s,n)) div n`),
  *   - argmin ties break to the LOWEST centroid id in both engines
  *     (first occurrence of the array minimum ≡ row_number by dist, cid).
  *
  * So the fixed-point is deterministic at ANY partitioning/parallelism —
  * re-runs and engines agree bit-for-bit, which is what makes an
  * hash-exact DuckDB oracle possible for an iterative ML kernel.
  *
  * Scale shape per iteration: the assignment is PURE map-side — all k
  * centroids travel as ONE broadcast row (array of quantized vectors,
  * ~k·dim·8 bytes) and the argmin is an in-row fold, so the corpus is
  * never shuffled or joined per point; the centroid update is a
  * posexplode → (cid, dim) hash aggregation whose map-side partials
  * reduce the shuffle to k·dim rows per partition.
  *
  * Scan accounting: [[fit]] runs the Lloyd loop EAGERLY and hands back
  * `localCheckpoint`ed centroids (k rows — a negligible job), so a
  * consumer that references the fixed point any number of times (q51
  * reads it twice, SemDeDup three times) re-reads k checkpointed rows,
  * never the Lloyd subtree. Total corpus scans for fit + one assignment
  * pass = iters + 1 (PlanSpec-pinned: the final q51 plan contains
  * exactly ONE parquet scan). Without the checkpoint each
  * reference re-embedded the whole loop — round 5 measured 15 scans in
  * q51's plan and 24+ in q53's. */
object KMeans {

  /** (vec_id, q) — embedding quantized to exact int64 milli-units. */
  def quantize(embeds: DataFrame): DataFrame =
    embeds.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT))").as("q"))

  /** Collapse (cid, cvec) rows into the single broadcast row used by the
    * map-side assignment: an array<struct<cid,cvec>> sorted by cid. The
    * cid travels WITH its vector so labels are the centroids' actual ids —
    * seed cids need not be contiguous 0..k-1 (sparse vec_id frames work). */
  private def centsRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cs"))

  /** Map-side assignment: per-point distance array over the broadcast
    * centroids, argmin = first occurrence of the minimum (lowest cid,
    * since `cs` is cid-sorted); the label is `cs[argmin].cid`.
    * `private[ext]` so [[OutlierPrune.outlierGateStreamStatic]] can label
    * a stream against the SAME fixed point its thresholds came from. */
  private[ext] def assign(pts: DataFrame, cents: DataFrame): DataFrame = {
    // r17: native fused int_l2 per centroid (the IntDot precedent) — the
    // HOF fold paid interpreted lambdas + a zipped temp array per point
    // per centroid; arithmetic bit-identical
    graft.GraftExtensions.register(pts.sparkSession)
    pts.crossJoin(broadcast(centsRow(cents)))
      .withColumn("darr", expr("transform(cs, c -> int_l2(q, c.cvec))"))
      .withColumn("pi", (array_position(col("darr"), array_min(col("darr"))) - 1).cast("int"))
      .withColumn("cid", expr("cs[pi].cid"))
      .withColumn("dist", expr("darr[pi]"))
      .select(col("vec_id"), col("q"), col("cid"), col("dist"))
  }

  /** Exact integer centroid update; clusters that lost every point keep
    * their previous centroid (both engines coalesce identically). */
  private def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
    val sums = assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv", expr("(s - pmod(s, n)) div n"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)").as("ncvec"))
    prev.join(sums.withColumnRenamed("cid", "ncid"),
        col("cid") === col("ncid"), "left")
      .select(col("cid"), coalesce(col("ncvec"), col("cvec")).as("cvec"))
  }

  /** The Lloyd loop over a pre-quantized (vec_id, q) frame → final
    * (cid, cvec) centroids, `localCheckpoint`ed: the returned frame is a
    * k-row leaf, so consumers can reference the fixed point freely
    * without re-embedding (and re-executing) the whole loop — the
    * checkpoint runs the loop exactly once, eagerly. Shared by q51's
    * stats rollup and q53's SemDeDup assignment so the fixed point
    * cannot drift between them.
    *
    * `checkpointEvery` truncates the centroid frame's lineage every N
    * rounds mid-loop. r17 (guide §1.2 "the distributed algorithm",
    * §7.3): the default is EVERY round, not every 5th — each round's
    * plan references the previous centroids TWICE (the broadcast
    * assignment row AND the empty-cluster coalesce's prev side), so an
    * un-checkpointed round's corpus-pass subtree executes twice in the
    * next round (and 2^r times r rounds later — the q142 doubling).
    * JobProfile measured fit(iters=2) at THREE corpus passes instead of
    * two before the change; the checkpoint itself is a k-row job. */
  private[graft] def fit(pts: DataFrame, k: Int, iters: Int,
                         checkpointEvery: Int = 1): DataFrame =
    // Seed by RANK, not by value: orderBy+limit takes the k smallest ids
    // whatever the id space looks like (sparse / offset frames included) —
    // a `vec_id < k` filter on a sparse frame yields fewer than k seeds.
    // TakeOrderedAndProject keeps this a k-row driver-side top-k, never a
    // full sort of the corpus. Checkpointed (k rows): round 1 references
    // the seed twice (broadcast row + prev side), and each reference is
    // otherwise a full per-partition top-k pass over `pts`.
    fitFrom(pts,
      pts.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").cast("int").as("cid"), col("q").as("cvec"))
        .localCheckpoint(),
      iters, checkpointEvery)

  /** The Lloyd loop from an EXPLICIT starting centroid frame — the
    * warm-start face (q165): yesterday's fixed point seeds today's
    * refresh, so `iters` can be a fraction of the cold depth. The loop
    * body is shared with [[fit]] (cold ≡ fitFrom(pts, rank-seed, iters)
    * by construction). */
  private[graft] def fitFrom(pts: DataFrame, start: DataFrame, iters: Int,
                             checkpointEvery: Int = 1): DataFrame = {
    var cents = start
    for (i <- 0 until iters) {
      cents = update(assign(pts, cents), cents)
      // every round by default — see [[fit]]'s doubling note
      if ((i + 1) % checkpointEvery == 0 && i + 1 < iters)
        cents = cents.localCheckpoint()
    }
    cents.localCheckpoint()
  }

  // ------------------------------------------------- fused subspace fits
  // PQ fits one independent k-means PER SUBSPACE. Run naively that is M
  // sequential Lloyd loops = M×(iters+1) corpus passes and M×iters update
  // exchanges. The fused kernel below runs ALL subspaces through ONE loop:
  // the corpus explodes once to the (vec_id, s, qs) grain (same total
  // bytes — M rows of dim/M each), every round does ONE assignment pass
  // (all M×k centroids ride one broadcast row; each point folds only over
  // its own subspace's structs) and ONE (s, cid, d) update exchange.
  // Arithmetic is IDENTICAL to per-subspace fits (same seeds — the k
  // smallest vec_ids, sliced; same floored means; same lowest-cid ties),
  // so the fixed points match bit-for-bit (KMeansSpec pins fused ==
  // sequential) and the q98/q99 oracles stay hash-exact.

  /** (vec_id, s, qs): the corpus exploded to subspace slices. */
  private[ext] def subExplode(pts: DataFrame, m: Int, subDim: Int): DataFrame =
    pts.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> slice(q, s * $subDim + 1, $subDim))"))
      .as(Seq("s", "qs")))

  /** One cid-and-s-sorted broadcast row of all m×k centroids. */
  private def subCentsRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("s"), col("cid"), col("cvec")))).as("cs"))

  /** Fused map-side assignment: each (vec_id, s, qs) row folds over ONLY
    * its subspace's structs (order inherited from the (s, cid)-sorted
    * row → first-min = lowest cid, the sequential tie rule). */
  private[ext] def assignSub(sub: DataFrame, cents: DataFrame): DataFrame = {
    graft.GraftExtensions.register(sub.sparkSession) // see [[assign]]
    sub.crossJoin(broadcast(subCentsRow(cents)))
      .withColumn("mine", expr("filter(cs, c -> c.s = s)"))
      .withColumn("darr", expr("transform(mine, c -> int_l2(qs, c.cvec))"))
      .withColumn("pi", (array_position(col("darr"), array_min(col("darr"))) - 1).cast("int"))
      .withColumn("cid", expr("mine[pi].cid"))
      .withColumn("dist", expr("darr[pi]"))
      .select(col("vec_id"), col("s"), col("qs"), col("cid"), col("dist"))
  }

  /** Fused Lloyd over all m subspaces at once → checkpointed
    * (s, cid, cvec) fixed point, bit-identical to m sequential
    * [[fit]]s over the slices. `sub` is [[subExplode]]'s frame (persist
    * it — every round reads it). */
  private[graft] def fitSub(pts: DataFrame, sub: DataFrame, m: Int,
                            subDim: Int, k: Int, iters: Int,
                            checkpointEvery: Int = 1): DataFrame = {
    val seeds = pts.orderBy(col("vec_id")).limit(k)
    var cents = subExplode(seeds, m, subDim)
      .select(col("s"), col("vec_id").cast("int").as("cid"), col("qs").as("cvec"))
      // m·k rows; round 1 otherwise re-runs the corpus top-k twice — see
      // [[fit]]'s doubling note
      .localCheckpoint()
    for (i <- 0 until iters) {
      val sums = assignSub(sub, cents)
        .select(col("s"), col("cid"), posexplode(col("qs")).as(Seq("d", "v")))
        .groupBy(col("s"), col("cid"), col("d"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", expr("(sv - pmod(sv, n)) div n"))
        .groupBy(col("s"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)").as("ncvec"))
      cents = cents.join(
          sums.withColumnRenamed("s", "ns").withColumnRenamed("cid", "ncid"),
          col("s") === col("ns") && col("cid") === col("ncid"), "left")
        .select(col("s"), col("cid"), coalesce(col("ncvec"), col("cvec")).as("cvec"))
      // every round by default — the previous centroids feed both the
      // broadcast assignment row and the coalesce's prev side, so an
      // un-checkpointed round's subspace-corpus pass would execute twice
      // in the next round (see [[fit]]'s doubling note)
      if ((i + 1) % checkpointEvery == 0 && i + 1 < iters)
        cents = cents.localCheckpoint()
    }
    cents.localCheckpoint()
  }

  /** Final-model per-vector assignment over any (vec_id, embedding) frame:
    * (vec_id, q, cid, dist) — the input to per-cluster operators
    * (SemDeDup's within-cell dedup, cluster-stratified sampling). */
  def assignments(embeds: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    assignmentsQuantized(quantize(embeds), k, iters)

  /** [[assignments]] over a pre-quantized (vec_id, q) frame (PQ's
    * per-subspace coder slices one shared quantized corpus). */
  def assignmentsQuantized(pts: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    assign(pts, fit(pts, k, iters))

  /** General form over any (vec_id, embedding array<float>) frame:
    * k-means with `iters` Lloyd rounds from the deterministic seed
    * (the k smallest vec_ids — contiguity NOT required; labels are the
    * seeds' actual vec_ids), reporting per-cluster size, exact integer
    * inertia under the final model, and a position-weighted centroid
    * checksum (a hashable witness of the centroid values themselves).
    * The centroids come back checkpointed from [[fit]], so the checksum
    * and assignment reads of the fixed point cost k rows each, not a loop
    * re-execution. */
  def kmeansOf(embeds: DataFrame, k: Int = 8, iters: Int = 2,
               checkpointEvery: Int = 5): DataFrame =
    kmeansOfQuantized(quantize(embeds), k, iters, checkpointEvery)

  /** [[kmeansOf]] over an already-quantized (vec_id, q) frame — the entry
    * point for callers that slice or cache the quantized corpus themselves
    * (PQ fits one model PER SUBSPACE off one shared quantized frame). */
  def kmeansOfQuantized(pts: DataFrame, k: Int = 8, iters: Int = 2,
                        checkpointEvery: Int = 5): DataFrame = {
    val cents = fit(pts, k, iters, checkpointEvery)
    val checksums = cents.select(col("cid").as("ccid"), expr(
      "aggregate(zip_with(cvec, sequence(1L, CAST(size(cvec) AS BIGINT)), (x, i) -> x * i), 0L, (s, x) -> s + x)")
      .as("centroid_checksum"))
    assign(pts, cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
      .join(broadcast(checksums), col("cid") === col("ccid"))
      .select(col("cid").cast("long").as("cid"), col("n_points"),
        col("inertia"), col("centroid_checksum"))
  }

  def kmeans(spark: SparkSession, sfDir: String): DataFrame =
    kmeansOf(Tables.table(spark, sfDir, "embeddings"))

  /** Stream-static assignment — the ingestion-time use of the model: fit
    * once on a STATIC corpus (eager, checkpointed k rows), then label a
    * STREAMING (vec_id, embedding) frame map-side against the broadcast
    * fixed point. Pure projection over a stream-static broadcast, so it
    * composes into append-mode curation chains with no streaming state —
    * each arriving vector is routed to its cluster before downstream
    * gates (per-cell sampling, SemDeDup-style cell caps). Works on a
    * batch frame too (the spec's stream==batch contract relies on it). */
  def assignmentsStreamStatic(streamEmbeds: DataFrame, staticEmbeds: DataFrame,
                              k: Int = 8, iters: Int = 2): DataFrame =
    assign(quantize(streamEmbeds), fit(quantize(staticEmbeds), k, iters))

  /** One Lloyd round in DuckDB: assignment (dist + argmin window) and the
    * exact-integer centroid update with empty-cluster coalesce. */
  private def duckRound(i: Int, prevC: String, dim: Int): String =
    s"""ad$i AS (
       |  SELECT vec_id, q, cid, dist FROM (
       |    SELECT p.vec_id, p.q, c.cid,
       |           CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |             j -> (p.q[j] - c.cvec[j]) * (p.q[j] - c.cvec[j]))) AS BIGINT) AS dist
       |    FROM pts p CROSS JOIN $prevC c) t
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
       |s$i AS (
       |  SELECT cid, d.d, CAST(sum(q[d.d]) AS BIGINT) AS s, count(*) AS n
       |  FROM ad$i CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS d) d
       |  GROUP BY cid, d.d),
       |u$i AS (
       |  SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY d) AS cvec
       |  FROM s$i GROUP BY cid),
       |c$i AS (
       |  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
       |  FROM $prevC p LEFT JOIN u$i u USING (cid))""".stripMargin

  /** Shared oracle CTE block: quantized points, rank seed (the fixture's
    * vec_ids are dense, so `vec_id < k` ≡ the k smallest), `iters` Lloyd
    * rounds, and the final assignment `fin` (carrying q for per-cluster
    * consumers like q53). Used by q51Sql and SemDeDup's oracle. */
  private[graft] def duckFitCtes(k: Int, iters: Int, dim: Int,
                                 srcExpr: String = "embedding"): String = {
    val rounds = (1 to iters).map(i => duckRound(i, if (i == 1) "c0" else s"c${i - 1}", dim))
    s"""pts AS (
       |  SELECT vec_id,
       |         list_transform($srcExpr, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS cvec FROM pts WHERE vec_id < $k),
       |${rounds.mkString(",\n")},
       |fin AS (
       |  SELECT vec_id, q, cid, dist FROM (
       |    SELECT p.vec_id, p.q, c.cid,
       |           CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |             j -> (p.q[j] - c.cvec[j]) * (p.q[j] - c.cvec[j]))) AS BIGINT) AS dist
       |    FROM pts p CROSS JOIN c$iters c) t
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""".stripMargin
  }

  private def q51Sql(k: Int = 8, iters: Int = 2, dim: Int = 64): String = {
    s"""WITH ${duckFitCtes(k, iters, dim)},
       |cs AS (
       |  SELECT cid, CAST(list_sum(list_transform(cvec, (x, i) -> x * i)) AS BIGINT)
       |           AS centroid_checksum
       |  FROM c$iters)
       |SELECT CAST(fin.cid AS BIGINT) AS cid, count(*) AS n_points,
       |       CAST(sum(dist) AS BIGINT) AS inertia, cs.centroid_checksum
       |FROM fin JOIN cs ON cs.cid = fin.cid
       |GROUP BY fin.cid, cs.centroid_checksum""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q51_kmeans_cluster", kmeans, Some(q51Sql()))
  )
}
