package graft

import graft.oracle.{Registry, Tables}

/** Building a single-pass query is lazy: `q.run(spark, sf)` only composes
  * a plan, so it launches no Spark job (counted by job group). No query of
  * the q01-q37 band runs a job at build time; one that must would be
  * listed here by name, with its reason. */
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
}
