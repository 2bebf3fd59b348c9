package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.oracle.{QueryDef, Tables}

/** q157 — second-order item similarity over the PPMI matrix: top-K
  * neighbors per node by cosine between PPMI ROW VECTORS (distributional
  * similarity — two items are alike when the walks visit them in the
  * same company, whether or not they ever co-occur directly). This is
  * the item-item similarity table a recommender or a hard-negative
  * miner reads off q155's matrix without training anything.
  *
  * Semantics (both engines, bit-identical): weights w = round(pmi·10³)
  * over positive-PMI pairs (milli-scale — the 38-digit budget below is
  * why it is not 10⁶); the matrix is CAPPED first: every entry whose
  * context node has PPMI-degree > [[ContextCap]] is dropped (hub
  * contexts carry no discriminative signal — the q14 df-cap / FuzzyMatch
  * drop-before-expansion discipline), and norms use the SAME capped
  * matrix, so the cosine is EXACT over the capped vectors — the
  * approximation is the capping, stated once, not a fuzzy similarity.
  * cos²·10⁴ = (dot²·10⁴) div (n2_i·n2_k) in integer arithmetic — PPMI
  * weights are positive so dot ≥ 0 and cos² is monotone in cosine; ties
  * break by neighbor id ASC. Top-[[TopK]] per node via a node-partitioned
  * row_number (parallel across nodes, no global sort).
  *
  * Int64/decimal bounds: w ≤ pmi_max·10³ < 4·10⁴; w² < 2·10⁹; dot and
  * n2 ≤ deg·2·10⁹ ≤ 2·10¹⁵ at a 10⁶-node catalog (BIGINT-safe outputs);
  * dot²·10⁴ ≤ 4·10³⁴ and n2_i·n2_k ≤ 4·10³⁰ — both inside DECIMAL(38,0)
  * / HUGEINT.
  *
  * Scale shape: the capped matrix persists once for its three readers
  * (norms, both dot arms); the dot self-join is keyed by CONTEXT with
  * per-context fan-out ≤ [[ContextCap]]², so pair mass is bounded by
  * cap²·|contexts| — never all-pairs (the q14/q140 posture). Norms
  * attach by node-keyed equi-joins; the sim census persists for its two
  * orientation arms; the top-K window partitions by node. The
  * corpus-sized pass runs once upstream inside q153's machinery. */
object PmiNeighbors {

  /** Context-degree cap: matrix entries whose context node has PPMI
    * degree above this are dropped (matrix AND norms) before pairing. */
  val ContextCap = 128L

  /** Neighbors kept per node. */
  val TopK = 5

  /** (node, nbr, rk, dot, cos2_bp) top-`k` capped-cosine neighbors per
    * node of a `pmi(a, b, …, pmi)` census. */
  def neighborsOf(pmi: DataFrame, cap: Long = ContextCap,
                  k: Int = TopK): DataFrame = {
    require(cap >= 1L, s"cap must be >= 1, got $cap")
    require(k >= 1, s"k must be >= 1, got $k")
    // w > 0 AFTER rounding: a pmi under 0.0005 rounds to weight 0 at
    // milli-scale — kept, it contributes nothing but can zero a norm
    // (division by zero) and emit dot=0 rows; dropped identically on
    // both engines instead
    // persisted: the PMI layer upstream is census-grain but multi-stage —
    // without this, sym's two arms re-execute it end to end
    // r16: checkpoint, not keyed persist — lineage truncation (ppmiMatOf)
    val pos = pmi.filter(col("pmi") > 0)
      .select(col("a"), col("b"),
        round(col("pmi") * lit(1000.0), 0).cast("long").as("w"))
      .filter(col("w") > 0)
      .localCheckpoint()
    val sym = pos.select(col("a").as("i"), col("b").as("j"), col("w"))
      .unionAll(pos.select(col("b").as("i"), col("a").as("j"), col("w")))
    // capped matrix: three readers (norms + both dot arms); the degree
    // gate is a context-partitioned window over sym itself — one
    // exchange on j, no join-back
    val capped = sym
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("j"))))
      .filter(col("deg") <= cap)
      .select(col("i"), col("j"), col("w"))
      .localCheckpoint()
    val norms = capped.groupBy(col("i"))
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 0)))
        .cast("long").as("n2"))
    val dots = capped
      .join(capped.select(col("j"), col("i").as("k"), col("w").as("w2")),
        Seq("j"))
      .filter(col("i") < col("k"))
      .groupBy(col("i"), col("k"))
      .agg(sum((col("w") * col("w2")).cast(DecimalType(38, 0)))
        .cast("long").as("dot"))
    // sim census: two orientation readers (doubled-pass rule) — a
    // localCheckpoint rather than a persist, so the displayed lineage of
    // the final plan truncates here instead of replicating the three
    // nested cache build plans through both arms (the q147/q148
    // manifest artifact)
    val sim = (dots
      .join(norms.select(col("i"), col("n2").as("n2_i")), Seq("i"))
      .join(norms.select(col("i").as("k"), col("n2").as("n2_k")), Seq("k"))
      .select(col("i"), col("k"), col("dot"),
        expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 10000)" +
          " div (CAST(n2_i AS DECIMAL(38,0)) * n2_k) AS BIGINT)")
          .as("cos2_bp"))).localCheckpoint()
    val both = sim
      .select(col("i").as("node"), col("k").as("nbr"), col("dot"), col("cos2_bp"))
      .unionAll(sim
        .select(col("k").as("node"), col("i").as("nbr"), col("dot"), col("cos2_bp")))
    both
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("node"))
          .orderBy(col("cos2_bp").desc, col("nbr"))))
      .filter(col("rk") <= k)
      .select(col("node"), col("nbr"), col("rk").cast("long").as("rk"),
        col("dot"), col("cos2_bp"))
  }

  /** Stream-static link-materialization gate — q157's ingestion face:
    * alert the moment an arriving co-transition REALIZES a predicted
    * link, i.e. forms an item pair that (a) the frozen similarity layer
    * ranked into some top-K list but (b) never co-transitioned in the
    * frozen corpus. This is the online validation loop of the link
    * predictor: every alert is a prediction coming true, so the alert
    * rate IS the predictor's realized precision, measured for free at
    * ingestion time. "Never co-transitioned" is judged against the
    * CO-TRANSITION census pw (the same universe driftGate's `novel`
    * uses) — deliberately NOT q158's matrix-direct notion: an arriving
    * event is a transition, so the first-time fact is about pw; a pair
    * can sit in the walk co-visit matrix (2-hop company) yet never have
    * co-transitioned — exactly the pairs this gate watches.
    *
    * Scale shape (the triadGate/driftGate posture): every frozen frame
    * is vocab- or user-grain and computed once — the predicted-pair set
    * is ≤ K·|nodes| rows canonicalized and anti-joined against pw, the
    * per-user last item is user-grain; the stream side is two
    * stream-static equi-joins — stateless append, no watermark, no
    * state store (the spec pins stateOperators empty and
    * stream == batch). */
  def linkGateStreamStatic(streamEvents: DataFrame, staticEvents: DataFrame,
                           staticTUs: Column,
                           minW: Long = Triangles.DefaultMinW,
                           topBp: Long = 1000L): DataFrame = {
    val pw = Tables.swapPersist("link_gate_pw",
      Triangles.weightedItemGraphOf(staticEvents, staticTUs, minW))
    val nn = neighborsOf(
      WalkPmi.pmiOf(WalkPairs.walkPairsOf(Backbone.backboneOf(pw, topBp))))
    // canonical predicted pairs that never co-transitioned: vocab-grain
    val pred = Tables.swapPersist("link_gate_pred",
      nn.select(least(col("node"), col("nbr")).as("a"),
          greatest(col("node"), col("nbr")).as("b"), col("cos2_bp"))
        .distinct()
        .join(pw.select(col("a"), col("b")), Seq("a", "b"), "left_anti"))
    Triangles.arrivalPairsOf(streamEvents, staticEvents, staticTUs, "link_gate_last")
      .join(pred, Seq("a", "b"))
      .select(col("user_id"), col("event_id"), col("a"), col("b"),
        col("cos2_bp"))
  }

  // ---------------------------------------------------------------- q157
  def q157(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (SpectralEmbed.ppmiMatOf)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    neighborsOf(WalkPmi.pmiOf(
      WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
  }

  /** Mirror of [[neighborsOf]] over [[WalkPmi.pmiCtes]], ending in
    * `nn(node, nbr, rk, dot, cos2_bp)` — shared with q158's
    * agreement census. */
  private[ops] def neighborCtes: String =
    s"""${WalkPmi.pmiCtes},
       |$neighborCtesFromPmi""".stripMargin

  /** The similarity stack alone (`ppm` → `nn`), assuming a `pmi` CTE is
    * already in scope — composable next to the spectral stack (q160),
    * whose CTE names it does not collide with. */
  private[ops] def neighborCtesFromPmi: String =
    s"""ppm AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT a, b, CAST(round(pmi * 1000, 0) AS BIGINT) AS w
       |    FROM pmi WHERE pmi > 0)
       |  WHERE w > 0),
       |symm AS MATERIALIZED (
       |  SELECT a AS i, b AS j, w FROM ppm
       |  UNION ALL SELECT b, a, w FROM ppm),
       |capped AS MATERIALIZED (
       |  SELECT i, j, w FROM (
       |    SELECT s.*, count(*) OVER (PARTITION BY j) AS deg FROM symm s)
       |  WHERE deg <= $ContextCap),
       |norms AS MATERIALIZED (
       |  SELECT i, CAST(sum(w * w) AS BIGINT) AS n2 FROM capped GROUP BY i),
       |dots AS MATERIALIZED (
       |  SELECT x.i, y.i AS k, CAST(sum(x.w * y.w) AS BIGINT) AS dot
       |  FROM capped x JOIN capped y ON x.j = y.j AND x.i < y.i
       |  GROUP BY 1, 2),
       |sim AS MATERIALIZED (
       |  SELECT d.i, d.k, d.dot,
       |         CAST((CAST(d.dot AS HUGEINT) * d.dot * 10000)
       |              // (CAST(ni.n2 AS HUGEINT) * nk.n2) AS BIGINT) AS cos2_bp
       |  FROM dots d
       |  JOIN norms ni ON d.i = ni.i
       |  JOIN norms nk ON d.k = nk.i),
       |nn AS MATERIALIZED (
       |  SELECT node, nbr, CAST(rk AS BIGINT) AS rk, dot, cos2_bp FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY node ORDER BY cos2_bp DESC, nbr) AS rk
       |    FROM (SELECT i AS node, k AS nbr, dot, cos2_bp FROM sim
       |          UNION ALL SELECT k, i, dot, cos2_bp FROM sim))
       |  WHERE rk <= $TopK)""".stripMargin

  private def q157Sql: String =
    s"""$neighborCtes
       |SELECT node, nbr, rk, dot, cos2_bp FROM nn""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q157_pmi_neighbors", q157, Some(q157Sql)))
}
