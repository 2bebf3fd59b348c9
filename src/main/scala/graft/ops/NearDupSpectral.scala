package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q162 — spectral coordinate of the DOCUMENT near-dup graph: the same
  * fixed-point power iteration q156 runs on the walk matrix, applied to
  * q14's Jaccard-weighted near-duplicate pair census. The substrate
  * swap is the point twice over: (a) it demonstrates the spectral
  * operator is generic over any positive-weight pair census (one
  * parameter, no new iteration code — the oracle likewise composes
  * q14's CTE stack under the same unrolled rounds), and (b) the result
  * is useful on its own — each document's coordinate is its membership
  * strength in the DOMINANT near-duplicate community (the heaviest
  * cluster anchors at 10⁶, isolated pairs and fringe docs decay toward
  * 0), which ranks dedup-keeper candidates globally where q38's CC
  * labels only partition them.
  *
  * Semantics: matrix weight = round(jaccard·10⁶) — q14's jaccard is
  * round(·, 4) of identical integer ratios on both engines, so the
  * 6-dp scaling is deterministic; everything downstream is q156's
  * integer iteration verbatim. Docs in no ≥0.2-Jaccard pair are
  * outside the graph and absent (a dedup view, not a corpus census —
  * stated, not hidden).
  *
  * Scale shape: q14's inverted-index pair census (df-capped — the
  * 100 TB kill-switch guard lives there), then the walk-free spectral
  * loop over pair-census-bounded frames; same checkpoint/census
  * posture as q156. */
object NearDupSpectral {

  /** (doc_id, vfp) over any (doc_a, doc_b, jaccard) near-dup census. */
  def nearDupSpectralOf(pairs: DataFrame): DataFrame =
    SpectralEmbed.spectralOf(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"),
        col("jaccard").as("pmi")))
      .select(col("node").as("doc_id"), col("vfp"))

  // ---------------------------------------------------------------- q162
  def q162(spark: SparkSession, sfDir: String): DataFrame =
    nearDupSpectralOf(graft.ext.TextOps.ngramJaccard(spark, sfDir))

  /** q14's full stack as a nested derived table feeding the composable
    * spectral rounds — the cross-family CTE reuse is the mirror of the
    * Spark-side operator reuse. */
  private def q162Sql: String =
    s"""WITH pmi AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b, jaccard AS pmi
       |  FROM (${graft.ext.TextOps.q14SqlText}) q14
       |),
       |${SpectralEmbed.spectralRoundsFromPmi}
       |SELECT node AS doc_id, v AS vfp FROM v${SpectralEmbed.Rounds}""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q162_neardup_spectral", q162, Some(q162Sql)))
}
