package graft

import scala.util.Random

import graft.agg.{BoundedTopK, TopK, TopTerms}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bounded top-k aggregate against
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, payload ASC) <= k`
  * over the rows with a non-NULL score and payload: ties, ±0.0, NaN and
  * ±∞ scores, NULLs, long and string payloads; through its own
  * update/merge/serialize calls in random splits, and through Spark's
  * partial/final aggregation, codegen and interpreted. Rows equal in
  * score and payload are interchangeable, so a double compares by
  * `doubleToLongBits` with −0.0 folded into 0.0. */
class TopKSpec extends SparkSpec {

  private val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  /** (g, score, id, term): coarse scores force ties; NULLs take no part. */
  private def rows(seed: Int, n: Int): Seq[Row] = {
    val r = new Random(seed)
    Seq.fill(n) {
      val s: java.lang.Double = r.nextInt(12) match {
        case 0 => specials(r.nextInt(specials.size))
        case 1 => null
        case _ => math.rint((r.nextDouble() * 20 - 10) * 2) / 2
      }
      val id: java.lang.Long = if (r.nextInt(15) == 0) null else r.nextInt(30).toLong
      val term = if (r.nextInt(15) == 0) null else Seq("a", "b", "ab", "B", "é", "日", "")(r.nextInt(7))
      Row(r.nextInt(4).toLong, s, id, term)
    }
  }

  private val schema = StructType(Seq(StructField("g", LongType), StructField("score", DoubleType),
    StructField("id", LongType), StructField("term", StringType)))

  private def key(s: Any): Any = s match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case other => other
  }

  /** Per group, the window's first k rows over the non-NULL (score, payload). */
  private def viaWindow(df: DataFrame, payload: String, k: Int): Map[Long, Seq[(Any, Any)]] =
    df.filter(col("score").isNotNull && col(payload).isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("score").desc, col(payload).asc)))
      .filter(col("rank") <= k)
      .collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (g, rs) => g -> rs.sortBy(_.getAs[Int]("rank")).map(r => (key(r.getAs[Any]("score")), r.getAs[Any](payload))) }

  test("TopK aggregator == brute-force sort-take under arbitrary partial/merge splits") {
    val k = 5
    val agg = BoundedTopK(BoundReference(0, DoubleType, nullable = true), BoundReference(1, LongType, nullable = true),
      k, "topk", StructType.fromDDL("score DOUBLE NOT NULL, id BIGINT NOT NULL"))
    for (seed <- 1 to 30) {
      val xs = rows(seed, seed * 7)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(xs, 1), schema)
      val want = viaWindow(df, "id", k)
      val r = new Random(seed)
      xs.groupBy(_.getLong(0)).foreach { case (g, grp) =>
        // random split; each part updated, then some serialized, then merged
        val parts = grp.groupBy(_ => r.nextInt(1 + seed % 5)).values.toSeq
        val bufs = parts.map { p =>
          val b = p.foldLeft(agg.createAggregationBuffer()) { (b, x) =>
            agg.update(b, InternalRow(x.get(1), x.get(2)))
          }
          if (r.nextBoolean()) agg.deserialize(agg.serialize(b)) else b
        }
        val merged = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
        val out = agg.eval(agg.deserialize(agg.serialize(merged)))
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val got = (0 until out.numElements()).map { i =>
          val t = out.getStruct(i, 2)
          (key(t.getDouble(0)), t.getLong(1))
        }
        assert(got == want.getOrElse(g, Seq.empty), s"seed $seed group $g")
      }
    }
  }

  test("TopK column function matches window formulation on the fixture") {
    val logs = graft.oracle.Tables.logs(spark, sf0001)
      .select(col("service"), col("latency_ms").cast("double").as("score"), col("event_id").cast("long").as("id"))
    val viaAgg = logs.groupBy(col("service"))
      .agg(TopK(4)(col("score"), col("id")).as("top"))
      .select(col("service"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("service"), (col("pos") + 1).as("rank"), col("t.score"), col("t.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val viaWindow = logs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("service")).orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= 4)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getDouble(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("TopK and TopTerms through partial/final aggregation == the window, codegen and interpreted (property)") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows(99, 3000), 6), schema)
    EvalModes.foreach(spark) { mode =>
      for ((fn, payload, k) <- Seq((TopK(3), "id", 3), (TopTerms(4), "term", 4), (TopK(0), "id", 0))) {
        val top = df.groupBy(col("g")).agg(fn(col("score"), col(payload)).as("top"))
        val plan = top.queryExecution.executedPlan.toString
        assert(plan.contains("partial_top"), s"no map-side partial aggregate:\n$plan")
        val got = top.collect().map { r =>
          r.getLong(0) -> r.getSeq[Row](1).map(t => (key(t.get(0)), t.get(1)))
        }.toMap.filter(_._2.nonEmpty)
        assert(got == viaWindow(df, payload, k), s"$mode $payload k=$k")
      }
    }
  }

  test("output types are the case-class encoders' of the deleted aggregators") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows(1, 10), 1), schema)
    def elem(c: org.apache.spark.sql.Column): DataType =
      df.agg(c.as("top")).schema("top").dataType
    assert(elem(TopK(2)(col("score"), col("id"))) ==
      ArrayType(StructType.fromDDL("score DOUBLE NOT NULL, id BIGINT NOT NULL"), containsNull = true))
    assert(elem(TopTerms(2)(col("score"), col("term"))) ==
      ArrayType(StructType.fromDDL("score DOUBLE NOT NULL, term STRING"), containsNull = true))
    assert(elem(graft.agg.TopWords(2)(col("id"), col("term"))) ==
      ArrayType(StructType.fromDDL("n BIGINT NOT NULL, w STRING"), containsNull = true))
  }
}
