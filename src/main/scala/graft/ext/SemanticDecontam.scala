package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space decontamination (q126) — the semantic complement of
  * q39's shingle decontamination: for each EVAL vector, count training
  * vectors within an L2 radius τ and report the nearest one. Shingle
  * overlap misses paraphrases; embedding proximity is how modern
  * pipelines catch eval contamination that survived a rewrite (the
  * "semantic dedup against the test set" step). Per-eval-query output
  * (≤|eval| rows): the contaminated queries and how crowded their
  * neighborhood is.
  *
  * Pruning is the IVF discipline (q99): a coarse quantizer fit on the
  * FULL corpus buckets both sides; candidates pair only within a cell.
  * Like any IVF probe this is recall-bounded — a train vector within τ
  * but across a cell boundary is not counted; the operator documents
  * that trade (nprobe=1) rather than paying the all-pairs join that
  * exact recall would cost at scale.
  *
  * Scale shape: quantized corpus persisted once; assignment is the
  * map-side broadcast-centroid pass; the EVAL side (small by
  * construction — it's an eval set) BROADCASTS onto the train side's
  * cell partitions; the distance is an in-row integer fold
  * ((q_i−t_i)² over milli-units); the rollup groups by (query, cell).
  * Integer distances → hash-exact oracle through two Lloyd rounds.
  */
object SemanticDecontam {

  /** (query_id, cell, n_train_in_cell, n_close, min_dist) for every eval
    * vector whose coarse cell contains at least one train vector. */
  def semanticDecontamOf(embeds: DataFrame, evalMaxId: Long = 50L,
                         tau: Long = 1500000L, k: Int = 8,
                         iters: Int = 2): DataFrame = {
    graft.GraftExtensions.register(embeds.sparkSession) // native kernel (r17)
    val p = Tables.swapPersist("q126_pts", KMeans.quantize(embeds))
    val asg = Tables.swapPersist("q126_asg",
      KMeans.assign(p, KMeans.fit(p, k, iters)))
    val evalSide = asg.filter(col("vec_id") < evalMaxId)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("cid").as("qcid"))
    val train = asg.filter(col("vec_id") >= evalMaxId)
    train.join(broadcast(evalSide), col("cid") === col("qcid"))
      .withColumn("d", expr("int_l2(q, qq)")) // native kernel (r17)
      .groupBy(col("query_id"), col("qcid").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_train_in_cell"),
        count(when(col("d") <= tau, 1)).as("n_close"),
        min(col("d")).as("min_dist"))
  }

  // ---------------------------------------------------------------- q126
  def q126(spark: SparkSession, sfDir: String): DataFrame =
    semanticDecontamOf(Tables.table(spark, sfDir, "embeddings"))

  private def q126Sql(evalMaxId: Long = 50L, tau: Long = 1500000L,
                      k: Int = 8, iters: Int = 2, dim: Int = 64): String =
    s"""WITH ${KMeans.duckFitCtes(k, iters, dim)},
       |ev AS (SELECT vec_id AS query_id, q AS qq, cid AS qcid
       |       FROM fin WHERE vec_id < $evalMaxId),
       |tr AS (SELECT vec_id, q, cid FROM fin WHERE vec_id >= $evalMaxId),
       |d AS (SELECT ev.query_id, ev.qcid AS cell,
       |             CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |               j -> (tr.q[j] - ev.qq[j]) * (tr.q[j] - ev.qq[j]))) AS BIGINT) AS dist
       |      FROM tr JOIN ev ON tr.cid = ev.qcid)
       |SELECT query_id, CAST(cell AS BIGINT) AS cell,
       |       count(*) AS n_train_in_cell,
       |       CAST(count(CASE WHEN dist <= $tau THEN 1 END) AS BIGINT) AS n_close,
       |       CAST(min(dist) AS BIGINT) AS min_dist
       |FROM d GROUP BY query_id, cell""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q126_semantic_decontam", q126, Some(q126Sql()))
  )
}
