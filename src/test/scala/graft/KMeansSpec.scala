package graft

import graft.ext.KMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the k-means execution knob (checkpointEvery) as a pure
  * physical-plan lever — bit-identical output — and the rank-based seeding
  * contract on sparse vec_id frames. The int64 fixed-point math itself is
  * oracle-checked (q51); these cover the paths the fixture binding's
  * defaults never execute. */
class KMeansSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("cid").collect().map(_.toSeq.toList).toList

  test("checkpointEvery changes execution only — output bit-identical") {
    val embeds = graft.oracle.Tables.table(spark, sf0001, "embeddings")
    val base = canon(KMeans.kmeansOf(embeds))
    assert(base.nonEmpty)
    assert(canon(KMeans.kmeansOf(embeds, checkpointEvery = 1)) == base)
  }

  test("sparse vec_id frames seed k clusters; labels are the seeds' actual ids") {
    val embeds = graft.oracle.Tables.table(spark, sf0001, "embeddings")
    val base = canon(KMeans.kmeansOf(embeds))
    // same vectors, ids remapped to the sparse space 10·id+3: rank-based
    // seeding picks the same k vectors, so every per-cluster statistic is
    // identical — only the cid label moves through the id map.
    val sparse = canon(KMeans.kmeansOf(
      embeds.withColumn("vec_id", col("vec_id") * 10 + 3)))
    assert(sparse.map { case cid :: rest => (cid.asInstanceOf[Long] - 3) / 10 :: rest; case x => x }
      == base)
    val cids = sparse.map(_.head.asInstanceOf[Long]).toSet
    assert(cids == (0 until 8).map(i => i * 10L + 3).toSet)
  }
}
