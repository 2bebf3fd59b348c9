package graft.tools

import graft.oracle.Tables
import graft.ops.RollingRefresh

/** N-cycle rolling-refresh drift probe (r13 verdict Next #2): drives
  * [[RollingRefresh.chainDriftOf]] through `SPARK_GRAFT_CHAIN_CYCLES`
  * (default 7) daily cycles on `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  * emits one JSON line per cycle — the warm-vs-cold drift of the chained
  * rank and spectral priors — plus a closing summary with the
  * first→last drift ratios. This is the evidence behind the "run
  * forever vs refit weekly" call recorded in BASELINE.md: bounded (or
  * shrinking) per-cycle drift means the chained prior never degrades
  * past what a single-step warm start pays; growing drift would mean the
  * loop needs a periodic cold refit, triggered in production off exactly
  * the drift columns this probe prints (the q170 cent_shift discipline).
  *
  *   sbt "runMain graft.tools.ChainProbe"
  */
object ChainProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cycles = sys.env.getOrElse("SPARK_GRAFT_CHAIN_CYCLES", "7").toInt
    val spark = graft.Session.engine()

    // SPARK_GRAFT_CHAIN_BPE=1: the tokenizer-drift arm (r15 verdict
    // Next #2) — the q183 rolling fertility chain at sfDir: merges
    // fitted once on the settled corpus (q182's batched trainer), each
    // cycle rolls the (source, lang) fertility census from its delta
    // shard, and the printed drift columns are the merge-budget refit
    // trigger (max/mean |dfert_micro| per cycle; n_new = strata with no
    // fit-time baseline). Exits after printing — the rank/spectral
    // chain below is a different arc.
    if (sys.env.get("SPARK_GRAFT_CHAIN_BPE").contains("1")) {
      val t0 = System.nanoTime()
      val docs = Tables.table(spark, sfDir, "documents")
      val rows = graft.ext.BpeDrift.fertilityChainOf(docs).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val byCycle = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      byCycle.foreach { case (k, rs) =>
        val known = rs.filter(!_.isNullAt(6)).map(r => math.abs(r.getLong(6)))
        val maxD = if (known.isEmpty) 0L else known.max
        val meanD = if (known.isEmpty) 0L else known.sum / known.size
        println(s"""{"cycle":$k,"strata":${rs.length},"n_new":${rs.count(_.isNullAt(6))},""" +
          s""""max_abs_dfert_micro":$maxD,"mean_abs_dfert_micro":$meanD}""")
      }
      val lastK = byCycle.last._1
      val lastMax = byCycle.last._2.filter(!_.isNullAt(6)).map(r => math.abs(r.getLong(6)))
      println(s"""{"metric":"chain_bpe_probe","cycles":$lastK,"sec":${math.round(sec * 10) / 10.0},""" +
        s""""strata":${byCycle.last._2.length},""" +
        s""""final_max_abs_dfert_micro":${if (lastMax.isEmpty) 0L else lastMax.max},"sf":"$sfDir"}""")
      spark.stop()
      return
    }

    // SPARK_GRAFT_CHAIN_LATE=1: the drains arm (r14 verdict Next #1) —
    // every cycle's delta passes the q172 arrival model, the roll is
    // kept-lane + nightly drain corrections, and the warm priors chain
    // from the REPAIRED census (graft.ops.ChainDrains). Rows gain the
    // per-cycle drain size.
    val late = sys.env.get("SPARK_GRAFT_CHAIN_LATE").contains("1")
    val ev = Tables.table(spark, sfDir, "events")
    val cuts = RollingRefresh.dailyCuts(cycles)
    val t0 = System.nanoTime()
    val rows =
      (if (late) graft.ops.ChainDrains.chainDriftWithDrainsOf(ev, Tables.tsMicros(ev), cuts)
       else RollingRefresh.chainDriftOf(ev, Tables.tsMicros(ev), cuts))
        .collect().sortBy(_.getInt(0))
    val sec = (System.nanoTime() - t0) / 1e9
    rows.foreach { r =>
      val lateJson = if (late) s""","n_late":${r.getLong(7)}""" else ""
      println(s"""{"cycle":${r.getInt(0)},"nodes":${r.getLong(1)},""" +
        s""""rank_l1":${r.getLong(2)},"rank_max":${r.getLong(3)},""" +
        s""""v_nodes":${r.getLong(4)},"v_l1":${r.getLong(5)},"v_max":${r.getLong(6)}$lateJson}""")
    }
    val first = rows.head; val last = rows.last
    def ratio(a: Long, b: Long): Double =
      if (b == 0) if (a == 0) 1.0 else Double.PositiveInfinity
      else math.round(a * 100.0 / b) / 100.0
    val lateSum = if (late) s""","late_total":${rows.map(_.getLong(7)).sum}""" else ""
    println(s"""{"metric":"chain_probe","cycles":$cycles,"late":$late,"sec":${math.round(sec * 10) / 10.0},""" +
      s""""rank_l1_last_over_first":${ratio(last.getLong(2), first.getLong(2))},""" +
      s""""v_l1_last_over_first":${ratio(last.getLong(5), first.getLong(5))}$lateSum,""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
