package graft

import graft.oracle.{Registry, Tables}
import org.apache.spark.metrics.source.HiveCatalogMetrics

/** Building a single-pass query is lazy: `q.run(spark, sf)` only composes
  * a plan, so it launches no Spark job (counted by job group). No query of
  * the q01-q37 band runs a job at build time; one that must would be
  * listed here by name, with its reason. A second build of a query reuses
  * every table relation the first resolved (`IO.parquet`), so Spark's file
  * index lists no file. */
class BuildLazySpec extends SparkSpec {

  private val band = Registry.all.filter { q =>
    val n = q.name.drop(1).takeWhile(_.isDigit)
    q.name.startsWith("q") && n.nonEmpty && n.toInt >= 1 && n.toInt <= 37
  }.sortBy(_.name)

  test("the q01-q37 band is registered") {
    assert(band.size == 37, band.map(_.name))
  }

  for (q <- band) test(s"${q.name}: build launches no Spark job") {
    val (_, jobs) =
      try JobCount.of(spark)(q.run(spark, sf0001))
      finally { Tables.releasePersisted(); spark.catalog.clearCache() }
    assert(jobs == 0, s"${q.name}: building the query ran $jobs Spark jobs")
  }

  test("a second build of every q01-q37 query discovers no file") {
    def build(q: oracle.QueryDef): Long = {
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      try q.run(spark, sf0001)
      finally { Tables.releasePersisted(); spark.catalog.clearCache() }
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
    }
    val second = band.map { q => build(q); q.name -> build(q) }.filter(_._2 != 0)
    assert(second.isEmpty, s"files listed by a second build: $second")
  }
}
