package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Pins graft.functions.CosineSim (native codegen expression) to the
  * interpreted HOF formulation it replaced — bit-identical doubles, since
  * both fold left-to-right per accumulator. */
class CosineSimSpec extends SparkSpec {

  private val hof =
    "aggregate(zip_with(qv, v, (x, y) -> x * y), cast(0 AS double), (acc, x) -> acc + x)" +
      " / (sqrt(aggregate(transform(qv, x -> x * x), cast(0 AS double), (acc, x) -> acc + x))" +
      " * sqrt(aggregate(transform(v, x -> x * x), cast(0 AS double), (acc, x) -> acc + x)))"

  test("cosine_sim == HOF fold bit-for-bit on random vectors") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val gen = Gen.listOfN(64, Gen.chooseNum(-5.0, 5.0))
    val params = Gen.Parameters.default
    val rows = (1 to 50).map { i =>
      (gen(params, rng.Seed(i.toLong)).get, gen(params, rng.Seed(1000L + i)).get)
    }
    val df = rows.toDF("qv", "v")
    val pairs = df.select(expr("cosine_sim(qv, v)").as("a"), expr(hof).as("b"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
        s"$a != $b")
    }
  }

  test("cosine_sim is null-safe and handles self-similarity == 1.0") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))).toDF("qv", "v")
    assert(math.abs(df.select(expr("cosine_sim(qv, v)")).head.getDouble(0) - 1.0) < 1e-12)
    val withNull = df.select(expr("cosine_sim(qv, cast(NULL AS array<double>))"))
    assert(withNull.head.isNullAt(0))
  }

  test("cosine_sim participates in whole-stage codegen") {
    GraftExtensions.register(spark)
    // local relations constant-fold; a file scan forces a real plan
    val df = graft.oracle.Tables.table(spark, sf0001, "embeddings")
      .select(expr("transform(embedding, x -> cast(x AS double))").as("qv"))
      .select(expr("cosine_sim(qv, qv)").as("s"))
    // codegen'd operators print with a "*(stageId)" prefix; the HOF cast
    // projection in the same plan prints bare — the contrast is the point
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("cosine_sim") && l.trim.startsWith("*(")),
      s"cosine_sim project not codegen'd:\n$plan")
    assert(df.filter(col("s").isNotNull).count() > 0)
  }
}
