package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one untimed warmup pass over the full query set at sf0.001
  * first — JIT + codegen compilation otherwise lands on whichever query runs
  * first and distorts per-query attribution (observed: 10× on the
  * first-executed query). Queries then run in sorted name order, each timed
  * TWICE back-to-back with the min reported: the shared host's CPU
  * availability swings ~2.5× between runs (BASELINE.md), and consecutive-
  * execution min removes the worst of that noise without changing what is
  * measured. Both executions are full cold-cache plans: the keyed persist
  * registry AND the cache are released after EVERY timed execution (not
  * just between queries) — Spark's CacheManager matches cache entries by
  * plan, so a re-invocation of a self-materializing query (the CC loop's
  * adopted labels, q12/q53's persisted bases) would otherwise silently
  * reuse the first execution's materialization and the min would report
  * a warm number as the query's floor.
  *
  * Failure honesty: a query whose execution throws is reported under
  * "errors", NEVER as a timing — the elapsed time of a fast analysis
  * failure (~0.05 s) is indistinguishable from a best-in-repo number, so
  * a regression would otherwise read as a speedup (this happened: a
  * fixture re-encoding broke 13 queries and their fast-fail latencies
  * were recorded as floors). */
object Bench {

  /** Time each query: min of `reps` fully-cold executions. Any throwing
    * execution disqualifies the query from timings and lands it in the
    * error list instead (name → first failure's message); the remaining
    * reps are SKIPPED — a consistently-failing query would otherwise pay
    * `reps` full executions for a result already known to be an error. */
  def timeQueries(
      spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int = 2): (Seq[(String, Double)], Seq[(String, String)], Map[String, Double]) = {
    val timings = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[(String, String)]
    val loads = Map.newBuilder[String, Double]
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    queries.foreach { case (name, fn) =>
      // per-query 1-min load sample: the launch-load field can't adjudicate
      // a spike that arrives mid-sweep (q154's round-12 3.66× read under a
      // launch load of 3.68 that had decayed by the time q154 ran — or
      // hadn't; the artifact couldn't say). Sampled BEFORE the query's
      // first rep so it measures ambient contention, not our own tail.
      loads += name -> osBean.getSystemLoadAverage
      var firstError: Option[String] = None
      var best = Double.MaxValue
      var rep = 0
      while (rep < reps && firstError.isEmpty) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case t: Throwable => firstError = Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.take(1).mkString.take(300)}") }
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        // full isolation after every execution: no keyed-registry frame or
        // cache entry survives for the next execution to reuse
        graft.oracle.Tables.releasePersisted()
        spark.catalog.clearCache()
        rep += 1
      }
      firstError match {
        case Some(e) => errors += name -> e
        case None => timings += name -> best
      }
    }
    (timings.result(), errors.result(), loads.result())
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    // sample the host load BEFORE any work: the summary's "load" field
    // must measure pre-existing contention (the self-adjudication signal),
    // not the bench's own 32-thread footprint — an end-of-run sample is
    // always ~cpus and says nothing
    val loadAtLaunch = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.engine()
    // adjudication knobs (default = the driver contract): SPARK_GRAFT_ONLY
    // comma-separates query-name prefixes to time; SPARK_GRAFT_REPS raises
    // the per-query cold-execution count (min still reported)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => NameFilter.selected(only, n) }
    // untimed byte-level warm of the timed input dir (see WarmRead: kills
    // the recurring first-touch artifact after probe builds)
    graft.tools.WarmRead.warm(sfDir)
    // warmup: full set at the smallest sf (untimed)
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    }
    graft.oracle.Tables.releasePersisted()
    spark.catalog.clearCache() // drop warmup-pass caches
    val (timings, errors, qLoads) = timeQueries(spark, sfDir, queries, reps)
    val qs = timings.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
        .mkString("{", ",", "}")
    errors.foreach { case (k, v) => System.err.println(s"[bench] FAILED $k: $v") }
    val total = if (timings.nonEmpty) timings.map(_._2).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson,"sf":"$sfDir"}""")
    // summary LAST — the driver's log-capture window keeps the END of the
    // log and has truncated the long per-query line from the front before
    // (BENCH_r07 lost q01–q35 and parsed null). One short closing line
    // carries the verdict-relevant facts (total, error count, worst
    // ratios vs the checked-in Floors table) inside any tail window; it
    // repeats "value"/"unit" so a parser grabbing either line reads the
    // same total.
    // floors are sf0.1 records — ratios at any other scale factor would
    // mislead, so the summary omits them there (n/errors still report)
    val ratios =
      if (!sfDir.contains("sf0.1")) Seq.empty[(String, Double)]
      else timings.flatMap { case (n, t) => Floors.forQuery(n).map(f => (n, t / f)) }
    // worst entries carry the 1-min load sampled at THAT query's start as
    // a third element — a >2× reading with a quiet per-query load is a
    // real regression, one with a spiked load is the documented host-
    // contention variance; round 12 spent a full adjudication cycle
    // because the artifact couldn't distinguish them.
    // EVERY flagged query is named (not just the top 5): round 13's
    // over_2x_floor counted 7 while worst_vs_floor capped at 5, so two
    // flagged queries could not be adjudicated from the artifact alone.
    // A query is FLAGGED only when over 2× its floor AND more than 0.3 s
    // over it in absolute terms: sub-second floors (q69 0.10 s, q140
    // 0.41 s) read 2–3× under any load spike from scheduler/JIT jitter
    // alone — every such flag in rounds 13–14 adjudicated to noise
    // within ~0.3–0.6 s absolute, never the same set twice (r14 verdict
    // "what's wrong" #2), so a pure ratio gate on them cries wolf.
    def flagged(nm: String, r: Double): Boolean =
      r > 2.0 && Floors.forQuery(nm).exists(f => r * f - f > 0.3)
    val nFlagged = ratios.count { case (nm, r) => flagged(nm, r) }
    // worst = UNION of (every flagged query) and (top-5 by ratio), flagged
    // first. A plain top-N by ratio can DROP a flagged query: under a load
    // spike, five unflagged sub-second queries reading 2.5–3× displace a
    // genuinely flagged ~2.1× slow query and the artifact fails to name
    // the one real regression (r15 advice) — the flagged set is the
    // adjudication target, so it is named unconditionally.
    val flaggedFirst =
      ratios.filter { case (nm, r) => flagged(nm, r) }.sortBy(-_._2) ++
        ratios.sortBy(-_._2).take(5)
    val worst = flaggedFirst.distinctBy(_._1)
      .map { case (n, r) =>
        s"[${jsonStr(n)},${math.round(r * 100) / 100.0},${math.round(qLoads.getOrElse(n, -1.0) * 100) / 100.0}]" }
      .mkString("[", ",", "]")
    val over2x = nFlagged
    val median =
      if (ratios.isEmpty) 0.0
      else { val s = ratios.map(_._2).sorted; s(s.size / 2) }
    // host 1-min load average AT LAUNCH rides the summary so a single-run
    // artifact is self-adjudicating: the shared host swings ~2.5× with
    // load (BASELINE.md), and every >2× floor reading in rounds 7–8
    // turned out to be load noise that cost a full adjudication cycle
    val load = loadAtLaunch
    // end-to-end streaming replay (SURVEY §5.2 layer 5): the 4-stage
    // ReplayDemo topology over 600 virtual seconds, timed once —
    // micro-batch scheduling dominates, so min-of-N buys little. Opt out
    // with SPARK_GRAFT_REPLAY=0 (e.g. single-query adjudication runs,
    // which set SPARK_GRAFT_ONLY and don't want 20+ s of streaming).
    val replayFlag = sys.env.get("SPARK_GRAFT_REPLAY")
    val replayJson =
      if (replayFlag.contains("0") || (only.nonEmpty && !replayFlag.contains("1"))) ""
      else {
        val t0 = System.nanoTime()
        try {
          val counts = graft.pipeline.ReplayDemo.run(spark, 600, show = false)
          val sec = (System.nanoTime() - t0) / 1e9
          s""","replay_sec":${math.round(sec * 1000) / 1000.0},"replay_alerts":${counts.spikeAlerts + counts.breachAlerts}"""
        } catch {
          case t: Throwable =>
            System.err.println(s"[bench] replay FAILED: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
            s""","replay_error":${jsonStr(t.getClass.getSimpleName)}"""
        }
      }
    // streaming-gate throughput (r14 verdict Next #4): the maintenance
    // arc's transformWithState face had no bench line, so a regression
    // there was invisible. Full-corpus DLQ-gate replay under the q172
    // arrival model; same opt-out semantics as the 4-stage replay.
    val gateFlag = sys.env.get("SPARK_GRAFT_GATE")
    val gateJson =
      if (gateFlag.contains("0") || (only.nonEmpty && !gateFlag.contains("1"))) ""
      else {
        try {
          // min-of-2, like the queries (r15 verdict What's-wrong #2: a
          // single recorded run left a 1.4× same-day band wide enough to
          // hide a real ~30% regression). The gate's WORK is
          // deterministic — lane counts are byte-identical across runs
          // (asserted below) — so only wall-time swings with the host
          // and the consecutive-run best is the floor-comparable number;
          // BOTH readings ride the artifact as the run band.
          val g1 = graft.tools.GateReplay.run(spark, sfDir)
          val g2 = graft.tools.GateReplay.run(spark, sfDir)
          if (g1.transitions != g2.transitions || g1.late != g2.late)
            System.err.println(s"[bench] gate lane counts diverged across runs: " +
              s"(${g1.transitions},${g1.late}) vs (${g2.transitions},${g2.late})")
          val g = if (g2.sec < g1.sec) g2 else g1
          // throughput floor ratio (sf0.1 only — the floor is an sf0.1
          // record): BELOW 1.0 means the gate slowed. gate_flagged
          // mirrors worst_vs_floor's discipline — sub-floor AND more
          // than 0.3 s over the floor-implied wall; a sub-ratio reading
          // inside the absolute guard is host noise, not a regression.
          val vsFloor =
            if (!sfDir.contains("sf0.1")) ""
            else {
              val ratio = g.eventsPerSec / Floors.gateEventsPerSecSf01
              val floorSec = g.events / Floors.gateEventsPerSecSf01
              val flagged = ratio < 1.0 && g.sec - floorSec > 0.3
              s""","gate_vs_floor":${math.round(ratio * 100) / 100.0},"gate_flagged":$flagged"""
            }
          s""","gate_sec":${math.round(g.sec * 1000) / 1000.0},"gate_events_per_sec":${math.round(g.eventsPerSec)},"gate_eps_runs":[${math.round(g1.eventsPerSec)},${math.round(g2.eventsPerSec)}],"gate_kept":${g.transitions},"gate_late":${g.late}$vsFloor"""
        } catch {
          case t: Throwable =>
            System.err.println(s"[bench] gate replay FAILED: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
            s""","gate_error":${jsonStr(t.getClass.getSimpleName)}"""
        }
      }
    val loadMax = if (qLoads.isEmpty) load else qLoads.values.max
    println(s"""{"metric":"summary","value":${math.round(total * 1000) / 1000.0},"unit":"sec","n":${timings.size},"errors":${errors.size},"median_vs_floor":${math.round(median * 100) / 100.0},"over_2x_floor":$over2x,"worst_vs_floor":$worst,"load":${math.round(load * 100) / 100.0},"load_max":${math.round(loadMax * 100) / 100.0}$replayJson$gateJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
