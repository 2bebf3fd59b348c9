package graft

import graft.oracle.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Tables.fanned` counts partitions off the executed plan when that plan
  * is a narrow chain over one file scan (`Tables.scanSplits`), and through
  * `df.rdd` otherwise; the plan count must equal `df.rdd`'s wherever it is
  * taken, and every other shape must fall back. */
class FannedSpec extends SparkSpec {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def viaPlan(df: DataFrame): Unit = {
    val expected = df.rdd.getNumPartitions
    assert(Tables.scanSplits(df).contains(expected), s"plan count ${Tables.scanSplits(df)} vs rdd $expected")
  }

  private def viaRdd(df: DataFrame): Unit =
    assert(Tables.scanSplits(df).isEmpty, s"expected the df.rdd fallback:\n${df.queryExecution.executedPlan}")

  for (sf <- sfs) test(s"plan count equals df.rdd on the 10 fixtures and narrow chains at ${sf.split('/').last}") {
    tables.foreach { t =>
      val df = Tables.table(spark, sf, t)
      viaPlan(df)
      val first = df.columns.head
      viaPlan(df.select(col(first)))
      viaPlan(df.filter(col(first).isNotNull).select(col(first).as("k")))
    }
    val docs = Tables.table(spark, sf, "documents")
    viaPlan(docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
    viaPlan(Tables.table(spark, sf, "embeddings").select(col("vec_id"), posexplode(col("embedding"))))
  }

  test("every other shape falls back to df.rdd: exchange, AQE, union, coalesce, cache, local rows") {
    val ev = Tables.table(spark, sf0001, "events")
    viaRdd(ev.repartition(3))
    viaRdd(ev.union(ev))
    viaRdd(ev.coalesce(1))
    viaRdd(ev.groupBy(col("event_type")).count())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try viaRdd(ev.groupBy(col("user_id")).count())
    finally spark.conf.unset("spark.sql.adaptive.enabled")
    val cached = ev.select(col("event_id")).cache()
    try viaRdd(cached) finally cached.unpersist()
    viaRdd(spark.range(10).toDF("x"))
  }

  test("fanned: a narrow scan below the session's parallelism is repartitioned, a wide one kept") {
    val target = spark.sparkContext.defaultParallelism
    val region = Tables.table(spark, sf0001, "region")
    assert(Tables.scanSplits(region).exists(_ < target))
    assert(Tables.fanned(region).rdd.getNumPartitions == target)
    val wide = spark.range(0, 100, 1, target + 1).toDF("x")
    assert(Tables.fanned(wide) eq wide)
  }
}
