package graft

import scala.util.Random

import graft.functions.TermCounts
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `term_counts` against the shuffle it replaces: `explode(term_counts(a))`
  * equals `explode(a)` grouped by (row, term) and counted, as multisets —
  * NULL elements, empty arrays and NULL arrays included — through
  * whole-stage codegen and interpreted evaluation. Also the precondition
  * q29 builds on: `documents.doc_id` is unique, so one row's term counts
  * are one document's. */
class TermCountsSpec extends SparkSpec {

  private val arrays: Seq[Row] = {
    val r = new Random(5)
    val vocab = Seq("a", "b", "c", "", " ", "é", "日本", "A", null)
    (0 until 400).map { id =>
      val a = r.nextInt(10) match {
        case 0 => null
        case 1 => Seq.empty[String]
        case _ => Seq.fill(r.nextInt(12))(vocab(r.nextInt(vocab.size)))
      }
      Row(id.toLong, a)
    }
  }

  test("explode(term_counts(a)) == explode(a) grouped and counted per row (property)") {
    GraftExtensions.register(spark)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(arrays, 3), StructType(Seq(
      StructField("id", LongType), StructField("a", ArrayType(StringType, containsNull = true)))))
    def rows(d: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, Option(t._2), t._3))
    EvalModes.foreach(spark) { mode =>
      val want = rows(df.select(col("id"), explode(col("a")).as("t")).groupBy(col("id"), col("t")).count())
      assert(want.exists(_._2 == null) && want.nonEmpty, "NULL elements went unexercised")
      for (kernel <- Seq(TermCounts(col("a")), expr("term_counts(a)"))) {
        val got = rows(df.select(col("id"), explode(kernel).as("c"))
          .select(col("id"), col("c.term"), col("c.tf")))
        assert(got == want, s"$mode")
      }
      val sizes = df.select(col("id"), size(TermCounts(col("a"))), col("a")).collect()
      sizes.foreach { r =>
        val a = r.getSeq[String](2)
        val n = if (r.isNullAt(1) || r.getInt(1) < 0) None else Some(r.getInt(1))
        assert(n == Option(a).map(_.distinct.size), s"$mode id=${r.getLong(0)}")
      }
    }
  }

  test("documents.doc_id is unique and non-NULL in every fixture (the q29 precondition)") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = graft.oracle.Tables.table(spark, sf0001.replace("sf0.001", sf), "documents")
      val r = docs.agg(count(lit(1)), countDistinct(col("doc_id")), count(col("doc_id"))).head
      assert(r.getLong(0) == r.getLong(1) && r.getLong(0) == r.getLong(2), s"$sf: $r")
    }
  }
}
