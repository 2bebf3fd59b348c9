package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IO
import graft.oracle.{QueryDef, Tables}

/** q167 — the daily refresh as production actually schedules it:
  * yesterday's derived state read from PARQUET ARTIFACTS, today's job
  * touching ONLY the delta shard of the corpus. q166 composed the
  * incremental-maintenance arc into one DAG but recomputed the settled
  * fixed points in-query so the query was self-contained; at 100 TB
  * nobody recomputes yesterday — a fit job wrote it down once and every
  * following day reads it back. This object is both halves:
  *
  *   [[fit]] (yesterday's job, runs once per settled corpus): ONE
  *   settled-corpus pass → four artifacts —
  *     census/   the settled DIRECTED transition census (src, dst, w)
  *     frontier/ the per-user last settled item (user_id, s_item) —
  *               exactly the state a streaming gate checkpoints
  *     spectral/ the settled spectral fixed point (node, vfp)
  *     ranks/    the settled PageRank vector (item, rank_micro)
  *
  *   [[refreshOf]] (today's job, the recurring path): reads the four
  *   artifacts + the DELTA SHARD ONLY — the `ts >= cut` predicate is a
  *   raw-column comparison ([[Tables.tsAtLeast]]) so it reaches the
  *   parquet scan as a pushed filter (at 100 TB the shard is a
  *   partition; settled row groups are never read) — then: delta census
  *   (lag within the shard) + straddle census (frontier artifact ⋈ the
  *   shard's first-item-per-user, [[Frontier.straddleFrom]]) + the
  *   census artifact, summed = the merged census (q154's identity);
  *   warm spectral ([[SpectralDelta.WarmRounds]] rounds from the
  *   spectral artifact) and warm PageRank ([[PageRankDelta.WarmIters]]
  *   from the ranks artifact) over it.
  *
  * Output: bit-identical to q166 — (item, rank_settled, rank_warm,
  * v_settled, v_warm), one row per merged directed-census node. Every
  * stage is integer/DECIMAL fixed-point and the artifacts round-trip
  * losslessly through parquet, so artifact-read ≡ in-query recompute
  * EXACTLY (RefreshArtifactsSpec collects both and compares row sets);
  * the oracle is q166's SQL verbatim.
  *
  * Staleness honesty (the Verify `_SF`-sentinel discipline applied to
  * artifacts): [[fit]] deletes the `_FIT_OK` sentinel FIRST, writes the
  * four artifacts, and stamps the sentinel LAST with a fingerprint of
  * (version, cut, sfDir, the events fixture's file listing
  * name:length:mtime). A crash mid-fit leaves no sentinel → the next
  * refresh refits; a regenerated fixture changes the listing → the
  * fingerprint mismatches → refit. Stale artifacts can never be joined
  * against a newer corpus silently.
  *
  * Scale shape: the recurring path's corpus cost is the DELTA SHARD
  * alone (one pushed-filter scan, persisted once for its two window
  * readers: the delta lag + the first-item frontier); the artifact
  * reads are census-/vocab-/user-grain. The measured value at sf0.1:
  * q166 (in-query settled arms) floors at 19.41 s; this path re-times
  * the same outputs without the settled pass or the cold-depth
  * iterations (floor recorded in BASELINE.md). In the bench, rep 1
  * pays the fit (artifacts absent), rep 2 is the recurring path — the
  * reported min IS the production number, which is the point. */
object RefreshArtifacts {

  /** Bumped whenever artifact layout/semantics change — part of the
    * fingerprint, so old artifacts self-invalidate. */
  val Version = 1

  /** Per-(sfDir, cut) artifact dir — [[ArtifactStore.root]]. */
  def root(sfDir: String, cutUs: Long): String =
    ArtifactStore.root(sfDir, s"c$cutUs-v$Version")

  /** The fingerprint folds the FIT-TIME iteration depths in alongside the
    * layout version: changing SpectralEmbed.Rounds or PageRankDelta.Iters
    * changes the artifacts' semantics, and relying on a manual Version
    * bump would let semantically stale artifacts be reused silently. */
  private def fingerprint(spark: SparkSession, sfDir: String, cutUs: Long): String =
    ArtifactStore.fingerprint(spark, sfDir, "events",
      s"v$Version|$cutUs|r${SpectralEmbed.Rounds}|i${PageRankDelta.Iters}")

  /** Yesterday's job: one settled-corpus pass → the four artifacts,
    * written under the fingerprint-keyed [[ArtifactStore.versionDir]] (a
    * refit against a regenerated fixture never rewrites files a running
    * reader holds). Returns the VERSION dir. Sentinel deleted first /
    * stamped last — [[ArtifactStore]]'s protocol. */
  def fit(spark: SparkSession, sfDir: String,
          cutUs: Long = SpectralDelta.DeltaCutUs): String = synchronized {
    val base = root(sfDir, cutUs)
    val fp = fingerprint(spark, sfDir, cutUs)
    val dir = ArtifactStore.versionDir(base, fp)
    ArtifactStore.beginFit(base)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val ev = Tables.table(spark, sfDir, "events")
    // settled slice on the RAW ts column (pushable; fit scans it anyway,
    // but the pruning matters when the settled corpus is itself a slice
    // of a longer-lived table)
    val settledEv = ev.filter(!Tables.tsAtLeast(ev, cutUs))
    // one persisted item-event frame, two window readers (census lag +
    // frontier row_number)
    val e = Tables.swapPersist("q167_fit_e",
      CensusDelta.prep(settledEv, Tables.tsMicros(settledEv)))
    // r16: checkpoint — lineage truncation (SpectralEmbed.ppmiMatOf)
    val cs = PageRankDelta.directedCensusOf(e).localCheckpoint()
    cs.write.mode("overwrite").parquet(s"$dir/census")
    Frontier.lastOf(e).write.mode("overwrite").parquet(s"$dir/frontier")
    SpectralEmbed.spectralOf(
        WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(cs))
          .withColumnRenamed("w", "cnt")))
      .write.mode("overwrite").parquet(s"$dir/spectral")
    PageRankDelta.rankOf(cs)
      .write.mode("overwrite").parquet(s"$dir/ranks")
    ArtifactStore.commitFit(base, fp)
    dir
  }

  /** The artifact VERSION dir, fitting first iff the sentinel is absent
    * or its fingerprint no longer matches the fixture. */
  private def ensureFit(spark: SparkSession, sfDir: String, cutUs: Long): String =
    synchronized {
      val base = root(sfDir, cutUs)
      val fp = fingerprint(spark, sfDir, cutUs)
      if (ArtifactStore.isFresh(base, fp)) ArtifactStore.versionDir(base, fp)
      else fit(spark, sfDir, cutUs)
    }

  /** Today's recurring job — see object doc. */
  def refreshOf(spark: SparkSession, sfDir: String,
                cutUs: Long = SpectralDelta.DeltaCutUs): DataFrame = {
    val dir = ensureFit(spark, sfDir, cutUs)
    val csArt = IO.parquet(spark, s"$dir/census")
    val frontier = IO.parquet(spark, s"$dir/frontier")
    val vS = IO.parquet(spark, s"$dir/spectral")
    val rS = IO.parquet(spark, s"$dir/ranks")

    // the ONLY corpus touch: the delta shard, filter pushed to the scan;
    // persisted once for its two window readers (delta lag + first-item
    // frontier)
    val ev = Tables.table(spark, sfDir, "events")
    val d = Tables.swapPersist("q167_d",
      CensusDelta.prep(ev.filter(Tables.tsAtLeast(ev, cutUs)),
        Tables.tsMicros(ev)))

    // merged census persists: PageRank warm arm + pooled spectral rollup
    val mDir = PageRankDelta.mergedCensusOf(csArt, frontier, d).localCheckpoint()

    val vW = SpectralEmbed.spectralWarmOf(
      WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(mDir))
        .withColumnRenamed("w", "cnt")),
      vS, SpectralDelta.WarmRounds)
    val rW = PageRankDelta.rankFrom(mDir, rS)

    rW.select(col("item"), col("rank_micro").as("rank_warm"))
      .join(rS.select(col("item"), col("rank_micro").as("rank_settled")),
        Seq("item"), "left")
      .join(vS.select(col("node").as("item"), col("vfp").as("v_settled")),
        Seq("item"), "left")
      .join(vW.select(col("node").as("item"), col("vfp").as("v_warm")),
        Seq("item"), "left")
      .select(col("item"), col("rank_settled"), col("rank_warm"),
        col("v_settled"), col("v_warm"))
  }

  // ---------------------------------------------------------------- q167
  def q167(spark: SparkSession, sfDir: String): DataFrame =
    refreshOf(spark, sfDir)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_artifact_refresh", q167, Some(DailyRefresh.q166Sql())))
}
