package graft

import org.apache.spark.sql.SparkSession

/** The extension path must expose the native functions without any
  * driver-side register() call. getOrCreate reuses the default session (and
  * ignores new confs), so temporarily clear it; the new session shares the
  * JVM-wide SparkContext and must NOT be stopped (that would stop the
  * context for every other suite). */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions=graft.GraftExtensions exposes the native functions in SQL") {
    spark.sparkContext // ensure the shared session/context exist first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // the spark.sql.extensions STATIC conf is only read at SparkContext
      // creation, which already happened in this test JVM — exercise the
      // same injector through the public withExtensions builder hook
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val row = s2.sql(
        """SELECT cosine_sim(array(1d, 2d), array(2d, 4d)) AS c,
          |       word_ngrams(array('a', 'b', 'c', 'd'), 3) AS g,
          |       minhash_signatures(array('a', 'b'), 2) AS m,
          |       int_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
          |       int_l2(array(1L, 2L), array(4L, 6L)) AS l""".stripMargin).head
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
      assert(row.getSeq[String](1) == Seq("a b c", "b c d"))
      assert(row.getSeq[Long](2).length == 2)
      assert(row.getLong(3) == 32L)
      assert(row.getLong(4) == 25L)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("register exposes every table entry, idempotently, from racing threads") {
    val names = GraftExtensions.functions.map(_.name)
    val threads = (1 to 8).map(_ => new Thread(() => GraftExtensions.register(spark)))
    threads.foreach(_.start()); threads.foreach(_.join())
    GraftExtensions.register(spark)
    val registry = spark.sessionState.functionRegistry
    names.foreach { n =>
      assert(registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
    }
    assert(spark.sql("SELECT int_dot(array(2L), array(3L)), int_l2(array(2L), array(5L))")
      .head.toSeq == Seq(6L, 9L))
  }
}
