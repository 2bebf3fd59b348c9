package graft

import graft.ops.{ArtifactStore, CensusDrainStore, ChainDrains, LateRepair,
  PageRankDelta, RollingRefresh, SpectralDelta}
import graft.oracle.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q176 — late data inside the rolling chain: per-cycle closure under
  * drains, the drift arm's shape, and the artifact-store drain with its
  * staleness contract. */
class ChainDrainsSpec extends SparkSpec {

  private def censusMap(df: DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("rolled-with-drains census == monolithic at EVERY cycle (the N-cycle closure under late data)") {
    val ev = Tables.table(spark, sf0001, "events")
    val tUs = Tables.tsMicros(ev)
    val cuts = RollingRefresh.dailyCuts(3)
    val cycles = ChainDrains.chainCensusesOf(ev, tUs, cuts, key = "spec176")
    assert(cycles.size == 3)
    cycles.foreach { case (k, m, _, lateK) =>
      val hi = if (k < cuts.size) Some(cuts(k)) else None
      val slice = hi match {
        case Some(h) => ev.filter(Tables.tsMicros(ev) < h)
        case None => ev
      }
      val mono = censusMap(PageRankDelta.fullDirectedCensusOf(slice, Tables.tsMicros(slice)))
      val rolled = censusMap(m)
      assert(rolled == mono,
        s"cycle $k: rolled-with-drains census diverged from monolithic " +
          s"(${rolled.size} vs ${mono.size} pairs; first diff: " +
          s"${(rolled.toSet diff mono.toSet).take(3)} / ${(mono.toSet diff rolled.toSet).take(3)})")
    }
    // teeth: the arrival model must route SOMETHING through the DLQ
    // across the chain — an all-empty late lane would make the closure
    // pin vacuous (clean-roll q169 already covers that). Per-cycle
    // emptiness is legitimate at sf0.001 (a ~33-event day may carry no
    // late-cohort pair), so the bound is chain-total.
    val totalLate = cycles.map(_._4.count()).sum
    assert(totalLate > 0,
      "no cycle drained anything — the arrival model has no teeth at sf0.001")
    graft.oracle.Tables.releasePersisted()
  }

  test("drift arm under drains: one row per cycle, warm arms start from the REPAIRED census") {
    val ev = Tables.table(spark, sf0001, "events")
    val cuts = RollingRefresh.dailyCuts(2)
    val rows = ChainDrains.chainDriftWithDrainsOf(ev, Tables.tsMicros(ev), cuts)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"cycle ${r.getInt(0)}: empty rank node set")
      assert(r.getLong(2) >= 0 && r.getLong(5) >= 0, s"drift must be non-negative: $r")
    }
    // the drains fed the chain: at least one cycle banked late events
    assert(rows.map(_.getLong(7)).sum > 0, "no cycle drained anything — vacuous")
    graft.oracle.Tables.releasePersisted()
  }

  test("the chain runs THROUGH the store: each cycle reads the census artifact, commits the repaired one, disk stays GC-bounded") {
    // the production ops loop end-to-end: cycle k's roll starts from the
    // ARTIFACT cycle k-1 committed (never an in-memory frame), the drain
    // repairs it, drainCommit-style restamping stales the old fingerprint,
    // and ArtifactStore's one-generation GC keeps the store at <=2 payload
    // dirs no matter how many cycles roll.
    val ev = Tables.table(spark, sf0001, "events")
    val cuts = RollingRefresh.dailyCuts(3)
    val base = java.nio.file.Files.createTempDirectory("graft_chain_store").toString
    val r = ChainDrains.routedByDay(ev, Tables.tsMicros(ev), cuts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def evCols(df: DataFrame) =
      df.select(col("user_id"), col("event_id"), col("item"), col("t"))
    // cycle 0 fit: settled census + frontier into the store
    val s0 = evCols(r.filter(col("day") === 0))
    var fp = "cycle0"
    var dir = ArtifactStore.versionDir(base, fp)
    ArtifactStore.beginFit(base)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    PageRankDelta.directedCensusOf(s0).write.mode("overwrite").parquet(s"$dir/census")
    graft.ops.Frontier.lastOf(s0).write.mode("overwrite").parquet(s"$dir/frontier")
    ArtifactStore.commitFit(base, fp)
    def vdirCount: Long = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.startsWith("v-")).toLong
      } finally s.close()
    }
    (1 to cuts.size).foreach { k =>
      val prevFp = fp
      assert(ArtifactStore.isFresh(base, prevFp))
      val csArt = spark.read.parquet(s"$dir/census")
      val frArt = spark.read.parquet(s"$dir/frontier")
      val kept = evCols(r.filter(col("day") === k && !col("late")))
      val lateK = evCols(r.filter(col("day") === k && col("late")))
      val mPre = csArt
        .unionByName(PageRankDelta.directedCensusOf(kept))
        .unionByName(graft.ops.Frontier.straddleFrom(frArt, kept)
          .filter(col("s_item") =!= col("d_item"))
          .groupBy(col("s_item").as("src"), col("d_item").as("dst"))
          .agg(count(lit(1)).as("w")))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      val settledPre = evCols(r.filter(col("day") < k ||
        (col("day") === k && !col("late"))))
      val m = LateRepair.applyTo(mPre,
          LateRepair.correctionOf(settledPre, lateK))
        .filter(col("w") =!= 0).select(col("src"), col("dst"), col("w"))
      val f = graft.ops.Frontier.advance(frArt, graft.ops.Frontier.lastOf(kept))
      fp = s"cycle$k"
      dir = ArtifactStore.versionDir(base, fp)
      ArtifactStore.beginFit(base)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      m.write.mode("overwrite").parquet(s"$dir/census")
      f.write.mode("overwrite").parquet(s"$dir/frontier")
      ArtifactStore.commitFit(base, fp)
      assert(!ArtifactStore.isFresh(base, prevFp),
        s"cycle $k: the pre-roll fingerprint must be stale after the commit")
      assert(vdirCount <= 2, s"cycle $k: GC must bound the store, saw $vdirCount dirs")
    }
    // the artifact after N store-mediated cycles IS the monolithic census
    val got = censusMap(spark.read.parquet(s"$dir/census"))
    val mono = censusMap(PageRankDelta.fullDirectedCensusOf(ev, Tables.tsMicros(ev)))
    assert(got == mono,
      s"store-mediated chain diverged from monolithic (${got.size} vs ${mono.size})")
    r.unpersist()
    graft.oracle.Tables.releasePersisted()
  }

  test("artifact drain: commit repairs the stored census and STALES pre-drain readers") {
    val cut = SpectralDelta.DeltaCutUs
    val base = CensusDrainStore.root(sf0001, cut)
    // clean slate for the store (other tests/rounds may have left state)
    def rm(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    rm(java.nio.file.Paths.get(base))

    val keptFp = CensusDrainStore.fingerprint(spark, sf0001, cut,
      LateRepair.LateMod, drained = false)
    val drainedFp = CensusDrainStore.fingerprint(spark, sf0001, cut,
      LateRepair.LateMod, drained = true)
    val keptDir = CensusDrainStore.fit(spark, sf0001, cut)
    assert(ArtifactStore.isFresh(base, keptFp), "fit must stamp the kept fingerprint")

    // a pre-drain reader resolves the kept census now (plan built lazily)
    val preDrainReader = spark.read.parquet(s"$keptDir/census")
    val keptCensus = censusMap(preDrainReader)

    CensusDrainStore.drainCommit(spark, sf0001, cut)
    // staleness: the pre-drain fingerprint reads STALE the moment the
    // drain commits — no reader can silently join the un-repaired census
    assert(!ArtifactStore.isFresh(base, keptFp),
      "pre-drain fingerprint must read stale after drainCommit")
    assert(ArtifactStore.isFresh(base, drainedFp))
    // the race window: the in-flight pre-drain reader's version dir is
    // intact (one superseded generation survives commitFit's GC)
    assert(censusMap(preDrainReader) == keptCensus,
      "in-flight pre-drain reader must survive the drain commit")

    // the drained artifact IS the monolithic settled census (kept ∪
    // drained == everything settled)
    val ev = Tables.table(spark, sf0001, "events")
    val settled = ev.filter(!Tables.tsAtLeast(ev, cut))
    val mono = censusMap(
      PageRankDelta.fullDirectedCensusOf(settled, Tables.tsMicros(settled)))
    val drained = censusMap(CensusDrainStore.read(spark, sf0001, cut))
    assert(drained == mono,
      s"drained artifact != monolithic settled census (${drained.size} vs ${mono.size})")
    assert(drained != keptCensus, "the drain must have changed the census — vacuous otherwise")
    graft.oracle.Tables.releasePersisted()
  }
}
