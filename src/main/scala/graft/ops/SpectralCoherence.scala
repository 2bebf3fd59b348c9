package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.oracle.{QueryDef, Tables}

/** q160 — spectral coherence of the similarity layer: mean squared 2-D
  * embedding distance per pair class, the cross-validation that closes
  * the q153→q159 arc. Three independently-derived artifacts of the same
  * matrix — the edge set (first order), q157's top-K lists (second
  * order) and q159's spectral coordinates (global structure) — are
  * played against each other: pairs that are BOTH edges and top-K
  * (`edge_topk`) should sit closest in spectral space, plain edges
  * (`edge_rest`) farther, and if the `novel_topk` class (predicted,
  * never co-occurring) lands near the edge_topk mean, the three views
  * agree and the embedding arc is self-consistent; a novel_topk mean
  * out past edge_rest says the similarity layer and the spectral layer
  * disagree about what "close" means — re-tune before trusting either.
  *
  * Semantics (both engines, bit-identical): pair classes from a full
  * outer join of the canonical positive-matrix edge set `ppm` with the
  * canonicalized top-K pair set; d² = (Δv1)² + (Δv2)² in int64
  * (|Δ| ≤ 2·10⁶ → d² ≤ 8·10¹²); mean = sum div count per class,
  * truncating division on non-negative operands. Classes with no pairs
  * are absent rows on both engines (a groupBy, not a scaffold).
  *
  * Scale shape: the pmi census localCheckpoints once for its three
  * faces (spectral stack, similarity stack, edge arm); coordinates are
  * node-grain and localCheckpointed for their two endpoint readers;
  * the class join is a canonical-pair equi-join; the output is ≤ 3
  * census rows. Everything corpus-sized happened once upstream in
  * q153's machinery. */
object SpectralCoherence {

  /** (cls, pairs, mean_d2) over a `pmi(a, b, …, pmi)` census. */
  def coherenceOf(pmi: DataFrame): DataFrame = {
    // three faces (doubled-pass rule, and the q158 display lesson)
    val p = pmi.localCheckpoint()
    // r17 (guide §2.6): the spectral stack and the similarity stack are
    // independent given the checkpointed census — materialize both
    // concurrently (the q166 posture) so their jobs and per-job driver
    // cost overlap; each is checkpointed for its two endpoint readers.
    val (coords, nnp) = graft.oracle.Par.par2(
      SpectralEmbed.spectralPairOf(p).localCheckpoint(),
      PmiNeighbors.neighborsOf(p)
        .select(least(col("node"), col("nbr")).as("a"),
          greatest(col("node"), col("nbr")).as("b"))
        .distinct()
        .withColumn("in_topk", lit(true))
        .localCheckpoint())
    val ppm = p.filter(col("pmi") > 0)
      .select(col("a"), col("b"),
        round(col("pmi") * lit(1000.0), 0).cast("long").as("w"))
      .filter(col("w") > 0)
      .select(col("a"), col("b"))
      .withColumn("in_ppm", lit(true))
    val cls = ppm.join(nnp, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        when(coalesce(col("in_ppm"), lit(false)) &&
          coalesce(col("in_topk"), lit(false)), lit("edge_topk"))
          .when(coalesce(col("in_ppm"), lit(false)), lit("edge_rest"))
          .otherwise(lit("novel_topk")).as("cls"))
    cls
      .join(coords.select(col("node").as("a"),
        col("v1fp").as("v1a"), col("v2fp").as("v2a")), Seq("a"))
      .join(coords.select(col("node").as("b"),
        col("v1fp").as("v1b"), col("v2fp").as("v2b")), Seq("b"))
      .select(col("cls"),
        ((col("v1a") - col("v1b")) * (col("v1a") - col("v1b")) +
          (col("v2a") - col("v2b")) * (col("v2a") - col("v2b"))).as("d2"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("pairs"),
        sum(col("d2").cast(DecimalType(38, 0))).as("sd2"))
      .select(col("cls"), col("pairs"),
        expr("sd2 div pairs").as("mean_d2"))
  }

  // ---------------------------------------------------------------- q160
  def q160(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    coherenceOf(WalkPmi.pmiOf(
      WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
  }

  /** Mirror of [[coherenceOf]]: the spectral-pair stack and the
    * similarity stack side by side over ONE pmi CTE (their names don't
    * collide), then the class join and the 3-row census. */
  private def q160Sql: String =
    s"""${SpectralEmbed.spectralPairCtes},
       |${PmiNeighbors.neighborCtesFromPmi},
       |coords AS MATERIALIZED (
       |  SELECT v1n.node, v1n.v AS v1, u${SpectralEmbed.Rounds}.u AS v2
       |  FROM v1n JOIN u${SpectralEmbed.Rounds}
       |    ON v1n.node = u${SpectralEmbed.Rounds}.node),
       |nnp AS (SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
       |        FROM nn),
       |clsj AS MATERIALIZED (
       |  SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
       |         CASE WHEN p.a IS NOT NULL AND t.a IS NOT NULL THEN 'edge_topk'
       |              WHEN p.a IS NOT NULL THEN 'edge_rest'
       |              ELSE 'novel_topk' END AS cls
       |  FROM (SELECT a, b FROM ppm) p
       |  FULL OUTER JOIN nnp t ON p.a = t.a AND p.b = t.b),
       |dd AS (SELECT c.cls,
       |              (ca.v1 - cb.v1) * (ca.v1 - cb.v1)
       |            + (ca.v2 - cb.v2) * (ca.v2 - cb.v2) AS d2
       |       FROM clsj c
       |       JOIN coords ca ON c.a = ca.node
       |       JOIN coords cb ON c.b = cb.node)
       |SELECT cls, CAST(count(*) AS BIGINT) AS pairs,
       |       CAST(sum(CAST(d2 AS HUGEINT)) // count(*) AS BIGINT) AS mean_d2
       |FROM dd GROUP BY cls""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q160_spectral_coherence", q160, Some(q160Sql)))
}
