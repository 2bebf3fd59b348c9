package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram diversity audit (q96) — per (source, n∈{1,2,3}): total gram
  * instances, distinct grams, and the type-token ratio in basis points.
  * The standard corpus-health signal for generation/dedup pipelines: a
  * source whose trigram TTR collapses is template spam or near-duplicate
  * churn even when every individual document passes quality gates (q16) —
  * repetition ACROSS documents, where q43's per-document repetition score
  * cannot see it.
  *
  * Shape: ONE corpus scan; the three gram orders are built map-side as an
  * in-row array-of-structs (word_ngrams in codegen) and exploded once —
  * not three scans UNION'd. Aggregation is two-level: first on the
  * compressed (source, n, gram) vocabulary grain (map-side partial), then
  * a |sources|×3 census — the distinct-count never shuffles raw gram
  * instances twice. All outputs integer (counts + bp ratio) → oracle-exact.
  */
object NgramDiversity {

  /** (source, n, total_grams, distinct_grams, ttr_bp). */
  def diversityOf(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val d = Tables.fanned(docs).select(col("source"), split(col("text"), " ").as("ws"))
    val grams = d.select(col("source"), explode(expr(
      """concat(
        |  transform(ws, w -> struct(CAST(1 AS BIGINT) AS n, w AS g)),
        |  transform(word_ngrams(ws, 2), w -> struct(CAST(2 AS BIGINT) AS n, w AS g)),
        |  transform(word_ngrams(ws, 3), w -> struct(CAST(3 AS BIGINT) AS n, w AS g)))""".stripMargin)).as("t"))
      .select(col("source"), col("t.n").as("n"), col("t.g").as("g"))
    grams.groupBy(col("source"), col("n"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("cnt")).as("total_grams"), count(lit(1)).as("distinct_grams"))
      .select(col("source"), col("n"), col("total_grams"), col("distinct_grams"),
        expr("(distinct_grams * 10000) div total_grams").as("ttr_bp"))
  }

  // ---------------------------------------------------------------- q96
  def q96(spark: SparkSession, sfDir: String): DataFrame =
    diversityOf(Tables.table(spark, sfDir, "documents"))

  private val q96Sql =
    """WITH d AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT source, 1 AS n, unnest(ws) AS g FROM d
      |  UNION ALL
      |  SELECT source, 2 AS n, unnest(list_transform(range(1, len(ws)),
      |         i -> ws[i] || ' ' || ws[i + 1])) AS g FROM d WHERE len(ws) >= 2
      |  UNION ALL
      |  SELECT source, 3 AS n, unnest(list_transform(range(1, len(ws) - 1),
      |         i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g FROM d WHERE len(ws) >= 3
      |),
      |c AS (SELECT source, n, g, count(*) AS cnt FROM g GROUP BY source, n, g)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |       CAST(sum(cnt) AS BIGINT) AS total_grams,
      |       CAST(count(*) AS BIGINT) AS distinct_grams,
      |       (CAST(count(*) AS BIGINT) * 10000) // CAST(sum(cnt) AS BIGINT) AS ttr_bp
      |FROM c GROUP BY source, n""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q96_ngram_diversity", q96, Some(q96Sql))
  )
}
