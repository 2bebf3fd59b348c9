package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IO
import graft.oracle.Tables

/** The census ARTIFACT updated by a DLQ drain (r14 verdict Next #1, the
  * artifact-store half): q167 proved the daily refresh reads yesterday's
  * census from parquet; q171–q176 proved the drain's signed correction
  * repairs a census exactly. This object composes them at the store:
  *
  *   [[fit]]    — the gate's KEPT lane census (the q171 late model:
  *                event_id % lateMod == 0 is banked in the DLQ, the rest
  *                is settled) written under a `drained=0` fingerprint.
  *   [[drainCommit]] — the nightly drain: reads the kept-census
  *                ARTIFACT (never re-lags the corpus), computes
  *                [[LateRepair.correctionOf]] from the banked shard with
  *                the affected-user selective fetch, and writes the
  *                REPAIRED census under the `drained=1` fingerprint's
  *                version dir, restamping the sentinel.
  *
  * Staleness is the point (the spec pins it): a reader that validated
  * the pre-drain fingerprint reads STALE the moment the drain commits —
  * it can never silently join the un-repaired census against post-drain
  * state — while its in-flight scan survives on the superseded version
  * dir ([[ArtifactStore.commitFit]] keeps one generation). A reader
  * validating the drained fingerprint gets a census equal to the
  * monolithic settled census (kept ∪ drained == everything settled —
  * CensusDrainStoreSpec pins the equality).
  *
  * Scale shape: fit is one kept-lane census pass (the artifact
  * discipline — runs once); the drain touches the |late|-bounded shard,
  * the |affected-users|-bounded history fetch, and census-grain joins —
  * nothing corpus-sized recurs. */
object CensusDrainStore {

  /** Bumped on layout/semantics changes — rides the fingerprint. */
  val Version = 1

  def root(sfDir: String, cutUs: Long): String =
    ArtifactStore.root(sfDir, s"dlqcensus-c$cutUs-v$Version")

  /** `drained` rides the fingerprint extra: the drain is a SEMANTIC
    * version bump of the artifact, so pre-drain readers go stale by
    * construction. */
  def fingerprint(spark: SparkSession, sfDir: String, cutUs: Long,
                  lateMod: Long, drained: Boolean): String =
    ArtifactStore.fingerprint(spark, sfDir, "events",
      s"v$Version|$cutUs|m$lateMod|drained=$drained")

  private def slices(spark: SparkSession, sfDir: String, cutUs: Long,
                     lateMod: Long): (DataFrame, DataFrame) = {
    val ev = Tables.table(spark, sfDir, "events")
    val settled = ev.filter(!Tables.tsAtLeast(ev, cutUs))
    val e = Tables.swapPersist("dlqcensus_e",
      CensusDelta.prep(settled, Tables.tsMicros(settled)))
    (e.filter(col("event_id") % lateMod =!= 0),
      e.filter(col("event_id") % lateMod === 0))
  }

  /** Write the kept-lane census; returns the version dir. */
  def fit(spark: SparkSession, sfDir: String,
          cutUs: Long = SpectralDelta.DeltaCutUs,
          lateMod: Long = LateRepair.LateMod): String = synchronized {
    val base = root(sfDir, cutUs)
    val fp = fingerprint(spark, sfDir, cutUs, lateMod, drained = false)
    val dir = ArtifactStore.versionDir(base, fp)
    ArtifactStore.beginFit(base)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val (kept, _) = slices(spark, sfDir, cutUs, lateMod)
    PageRankDelta.directedCensusOf(kept)
      .write.mode("overwrite").parquet(s"$dir/census")
    ArtifactStore.commitFit(base, fp)
    dir
  }

  /** Drain the banked late shard into the census ARTIFACT: artifact +
    * correction → the repaired census under the drained fingerprint.
    * Fits first if the kept census is absent/stale. Returns the new
    * version dir. */
  def drainCommit(spark: SparkSession, sfDir: String,
                  cutUs: Long = SpectralDelta.DeltaCutUs,
                  lateMod: Long = LateRepair.LateMod): String = synchronized {
    val base = root(sfDir, cutUs)
    val keptFp = fingerprint(spark, sfDir, cutUs, lateMod, drained = false)
    val keptDir =
      if (ArtifactStore.isFresh(base, keptFp)) ArtifactStore.versionDir(base, keptFp)
      else fit(spark, sfDir, cutUs, lateMod)
    val drainedFp = fingerprint(spark, sfDir, cutUs, lateMod, drained = true)
    val dir = ArtifactStore.versionDir(base, drainedFp)
    ArtifactStore.beginFit(base)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val csArt = IO.parquet(spark, s"$keptDir/census")
    val (kept, late) = slices(spark, sfDir, cutUs, lateMod)
    val repaired = LateRepair
      .applyTo(csArt, LateRepair.correctionOf(kept, late))
      .filter(col("w") =!= 0)
      .select(col("src"), col("dst"), col("w"))
    repaired.write.mode("overwrite").parquet(s"$dir/census")
    ArtifactStore.commitFit(base, drainedFp)
    dir
  }

  /** The drained census, draining first if needed. */
  def read(spark: SparkSession, sfDir: String,
           cutUs: Long = SpectralDelta.DeltaCutUs,
           lateMod: Long = LateRepair.LateMod): DataFrame = {
    val base = root(sfDir, cutUs)
    val fp = fingerprint(spark, sfDir, cutUs, lateMod, drained = true)
    val dir =
      if (ArtifactStore.isFresh(base, fp)) ArtifactStore.versionDir(base, fp)
      else drainCommit(spark, sfDir, cutUs, lateMod)
    IO.parquet(spark, s"$dir/census")
  }
}
