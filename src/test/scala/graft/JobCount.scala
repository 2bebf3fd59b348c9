package graft

import org.apache.spark.sql.SparkSession

/** Spark jobs a block launches, counted by job group: the block runs in a
  * fresh group, then one marker job runs in the same group. The status
  * store is fed by the listener bus in job order, so once the marker shows
  * in the group every job the block launched shows too, and the count
  * needs no sleep-and-hope. Jobs from threads that do not inherit the
  * group (a pool started earlier) are not counted. */
object JobCount {

  def of[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    val (result, marker) =
      try {
        val a = body
        val f = sc.submitJob(sc.parallelize(Seq(1), 1), (it: Iterator[Int]) => it.size,
          Seq(0), (_: Int, _: Int) => (), ())
        f.get()
        (a, f.jobIds.head)
      } finally sc.clearJobGroup()
    def ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!ids.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(ids.contains(marker), s"marker job $marker never reached the status store")
    (result, ids.count(_ != marker))
  }

  /** Jobs of one cold `run` + `count()` of a registered query: the persist
    * registry and the cache are released before and after. */
  def coldRun(spark: SparkSession, name: String, sfDir: String): Int = {
    graft.oracle.Tables.releasePersisted(); spark.catalog.clearCache()
    try of(spark)(graft.oracle.Registry.byName(name).run(spark, sfDir).count())._2
    finally { graft.oracle.Tables.releasePersisted(); spark.catalog.clearCache() }
  }
}
