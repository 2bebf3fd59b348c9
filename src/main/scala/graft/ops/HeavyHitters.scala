package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heavy-hitter detection via the [[graft.agg.FreqItems]] Misra-Gries
  * sketch, with a driver-checkable contract (q37).
  *
  * The sketch's exact counter values depend on partition/merge order, so
  * the oracle verifies the two properties that are order-INDEPENDENT
  * guarantees: every word with true frequency > n/(k+1) must be present
  * in the sketch, and its estimate must sit within n/(k+1) below the true
  * count. Spark emits the exact heavy set (computed exactly — verification
  * necessarily pays for the truth once) with `within_bound` evaluated
  * against its own sketch; the oracle computes the same heavy set in
  * DuckDB with literal TRUE. A sketch bug — dropped survivor, broken merge
  * trim — flips a boolean and fails the hash. */
object HeavyHitters {

  val K = 50

  def q37(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.fanned(Tables.table(spark, sfDir, "documents"))
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    // the sketch and the per-source total in one aggregate: two explodes
    // of the corpus (this one and the (source, w) count) and one join
    val perSource = words.groupBy(col("source"))
      .agg(graft.agg.FreqItems.top50(col("w")).as("cand"), count(lit(1)).as("n"))
    words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .join(perSource, "source")
      .filter(col("c") * (K + 1) > col("n"))
      .select(
        col("source"), col("w").as("word"), col("c").as("exact_count"),
        when(map_contains_key(col("cand"), col("w")),
          (col("c") - element_at(col("cand"), col("w"))) * (K + 1) <= col("n"))
          .otherwise(lit(false)).as("within_bound"))
  }

  private val q37Sql =
    s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |n AS (SELECT source, count(*) AS n FROM w GROUP BY source),
       |c AS (SELECT source, w, count(*) AS c FROM w GROUP BY source, w)
       |SELECT c.source, w AS word, CAST(c AS BIGINT) AS exact_count,
       |       TRUE AS within_bound
       |FROM c JOIN n ON c.source = n.source
       |WHERE c * ${K + 1} > n""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q37_heavy_hitters", q37, Some(q37Sql))
  )
}
