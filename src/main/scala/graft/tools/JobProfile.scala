package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.concurrent.TrieMap

/** Measurement aid (optimization rounds, guide §1): run ONE registered
  * query and attribute wall time to the Spark jobs it launches, keyed by
  * the job's call site (localCheckpoint at X.scala:N, count at ..., the
  * broadcast-exchange builds). The per-job table answers the question the
  * bench total can't: for a 15-job iterative query, is the time in the
  * corpus pass, the per-round checkpoints, or scheduler fixed cost?
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir] [reps]
  * Prints one line per job (start-ordered) plus a by-callsite rollup.
  * Not part of the driver contract; purely a diagnosis tool. */
object JobProfile {

  final case class JobRec(id: Int, site: String, group: String,
                          var endMs: Long, startMs: Long)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir] [reps]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.engine()
    val q = graft.oracle.Registry.byName.getOrElse(name,
      sys.error(s"unknown query: $name (have ${graft.oracle.Registry.all.size})"))

    val jobs = TrieMap.empty[Int, JobRec]
    // stageId -> (name, numTasks, wallMs, execRunMs, shuffleBytes)
    val stages = TrieMap.empty[Int, (String, Int, Long, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // callSite is not in job properties for SQL-driven jobs; the stage
        // NAME carries it ("localCheckpoint at X.scala:N"). Use the last
        // (result) stage's name as the attribution label.
        val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        val grp = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, site, grp, -1L, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages.put(si.stageId,
          (si.name.takeWhile(_ != '\n'), si.numTasks, wall,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten +
              si.taskMetrics.shuffleReadMetrics.totalBytesRead))
      }
    })

    // warmup at sf0.001 (JIT/codegen), like Bench
    try q.run(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    graft.oracle.Tables.releasePersisted()
    spark.catalog.clearCache()

    var best = Double.MaxValue
    var bestJobs: Seq[JobRec] = Seq.empty
    var bestStages: Seq[(Int, (String, Int, Long, Long, Long))] = Seq.empty
    for (r <- 1 to reps) {
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      q.run(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.oracle.Tables.releasePersisted()
      spark.catalog.clearCache()
      println(f"[profile] rep $r: $sec%.3f s, ${jobs.size} jobs, ${stages.size} stages")
      if (sec < best) {
        best = sec; bestJobs = jobs.values.toSeq.sortBy(_.startMs)
        bestStages = stages.toSeq.sortBy(_._1)
      }
    }

    println(f"[profile] $name best=$best%.3f s over $reps reps, ${bestJobs.size} jobs")
    var prevEnd = 0L
    bestJobs.foreach { j =>
      val dur = (j.endMs - j.startMs) / 1e3
      val gap = if (prevEnd == 0) 0.0 else (j.startMs - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.endMs)
      println(f"[job] ${j.id}%4d ${dur}%8.3f s  gap=${gap}%7.3f  ${j.site}")
    }
    val bySite = bestJobs.groupBy(_.site).map { case (s, js) =>
      (s, js.map(j => (j.endMs - j.startMs) / 1e3).sum, js.size)
    }.toSeq.sortBy(-_._2)
    println("[rollup] by callsite:")
    bySite.foreach { case (s, sec, n) => println(f"[rollup] ${sec}%8.3f s  n=$n%3d  $s") }
    val jobSum = bestJobs.map(j => (j.endMs - j.startMs) / 1e3).sum
    println(f"[rollup] job time sum ${jobSum}%.3f s vs wall $best%.3f s (driver/planning gap ${best - jobSum}%.3f s)")
    // stage rollup: where task time concentrates, by stage-name callsite
    val byStage = bestStages.groupBy(_._2._1).map { case (nm, ss) =>
      (nm, ss.map(_._2._3).sum / 1e3, ss.map(_._2._4).sum / 1e3,
        ss.map(_._2._2).sum, ss.size, ss.map(_._2._5).sum)
    }.toSeq.sortBy(-_._2)
    println("[stages] wall-s execRun-s tasks nStages shuffleBytes  name")
    byStage.take(30).foreach { case (nm, w, rt, t, n, b) =>
      println(f"[stages] $w%8.3f $rt%8.3f $t%6d $n%4d $b%12d  $nm")
    }
    val stSum = bestStages.map(_._2._3).sum / 1e3
    println(f"[stages] stage wall sum $stSum%.3f s, total tasks ${bestStages.map(_._2._2).sum}")
    println("[stage1] top individual stages by execRunTime: id wall-s execRun-s tasks shufB")
    bestStages.sortBy(-_._2._4).take(25).foreach { case (id, (nm, t, w, rt, b)) =>
      println(f"[stage1] $id%5d ${w / 1e3}%8.3f ${rt / 1e3}%8.3f $t%6d $b%10d  $nm")
    }
    spark.stop()
  }
}
