package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.oracle.{QueryDef, Tables}

/** q156 — fixed-point spectral coordinate of the PPMI walk matrix: the
  * first step of the SVD-over-PPMI embedding of Levy & Goldberg (the
  * matrix q155 materializes IS the one SGNS factorizes; its dominant
  * eigenvector is the first spectral embedding coordinate). Power
  * iteration runs in scaled int64/decimal fixed point so both engines
  * replay the identical trajectory — no float sums anywhere, so the
  * result is independent of partitioning and aggregation order.
  *
  * Semantics (both engines, bit-identical):
  *   - weight w_fp = round(pmi·10⁶) over positive-PMI pairs (PPMI). The
  *     pmi doubles are identical on both engines (q155's guarantee:
  *     integer products before the double cast, then round to 6 dp), so
  *     scaling the 6-dp double by 10⁶ and rounding to an integer is
  *     deterministic — round FIRST, cast after, because Spark's
  *     double→long cast truncates while DuckDB's rounds.
  *   - matrix M = symmetric PPMI + σ·I with σ = [[Scale]] (1.0 in fixed
  *     point). The diagonal shift makes M primitive on every connected
  *     component (PPMI graphs can be bipartite — a star's walk matrix
  *     oscillates under plain power iteration; with the shift the
  *     iteration converges per component instead). Folding σ into the
  *     edge list keeps each round a single equi-join.
  *   - v₀ = Scale for every PPMI node; round r: raw_i = Σ_j M_ij·v_j
  *     (int64 products, DECIMAL(38,0) sums), then v = (raw·10⁶) div
  *     max(raw) — floor division on non-negative operands, identical on
  *     both engines (Spark `div`, DuckDB `//`). [[Rounds]] fixed rounds:
  *     the output is a deterministic census whether or not the iteration
  *     has converged; consumers judge convergence by comparing runs at
  *     adjacent depths, they never get a partition-dependent answer.
  *
  * Int64/decimal bounds: w_fp ≤ pmi_max·10⁶ (pmi ≤ ln T, so < 4·10⁷ far
  * past 100 TB), v ≤ 10⁶ → per-term product ≤ 4·10¹³ (int64-safe);
  * raw ≤ deg·4·10¹³ ≤ 4·10¹⁹ at a 10⁶-node catalog (DECIMAL(38,0) sums,
  * never bare int64); raw·10⁶ ≤ 4·10²⁵ ≪ 10³⁸.
  *
  * Scale shape: the corpus-sized pass runs ONCE upstream (q153's
  * persisted weighted census); the PPMI matrix is walk-census-bounded
  * (≤ (Steps+1)²·|nodes| entries) and persists once for the
  * [[Rounds]] round joins. Each round = one node-keyed equi-join + one
  * map-side-combining sum exchange + a 1-row max census broadcast back
  * (the q142 posture). raw feeds the census AND the division row — the
  * doubled-pass rule — so each round localCheckpoints (q142/q153
  * precedent). */
object SpectralEmbed {

  /** Fixed-point scale (1.0) AND the diagonal shift σ — shared verbatim
    * by the Spark loop and the oracle's unrolled CTEs. */
  val Scale = 1000000L

  /** Power-iteration depth — fixed and unrolled in the oracle. */
  val Rounds = 4

  /** (node, vfp) after [[Rounds]] shifted power-iteration rounds over the
    * positive-PMI entries of a `pmi(a, b, …, pmi)` census. vfp ∈ [0, 10⁶]
    * with max-norm 10⁶ per global max (components normalize against the
    * globally dominant one). */
  def spectralOf(pmi: DataFrame): DataFrame =
    dominantOf(ppmiMatOf(pmi)).select(col("node"), col("v").as("vfp"))

  /** The checkpointed symmetric-PPMI + σ·I matrix of a pmi census —
    * q163's incremental variant builds ONE for its warm and cold arms. */
  private[ops] def ppmiMatOf(pmi: DataFrame): DataFrame = {
    // materialized: the PMI layer upstream is census-grain but
    // multi-stage — without this, sym's two arms re-execute it end to
    // end. r16 optimization (guide §3.3/§7.3): localCheckpoint instead
    // of a keyed persist — a persisted frame caches DATA but its
    // consumers still carry (and Catalyst re-optimizes, and the
    // CacheManager re-canonicalizes) the full upstream logical plan on
    // EVERY downstream action; the checkpoint truncates the lineage, so
    // the Rounds round-actions plan against a flat RDD scan (measured on
    // q163: the driver gap between jobs was ~2× the job time itself
    // before truncation). Census-bounded frames only — the corpus-sized
    // passes stay columnar-cached upstream.
    val pos = pmi.filter(col("pmi") > 0)
      .select(col("a"), col("b"),
        round(col("pmi") * lit(1000000.0), 0).cast("long").as("wfp"))
      .localCheckpoint()
    val sym = pos.select(col("a").as("i"), col("b").as("j"), col("wfp"))
      .unionAll(pos.select(col("b").as("i"), col("a").as("j"), col("wfp")))
    val nodes = sym.select(col("i")).distinct()
    // walk-census-bounded matrix: materializes once, read Rounds times
    sym.unionByName(nodes.select(col("i"), col("i").as("j"),
        lit(Scale).as("wfp")))
      .localCheckpoint()
  }

  /** [[spectralOf]] warm-started from prior coordinates `start(node,
    * vfp)` — the incremental-maintenance face (q163): yesterday's fixed
    * point seeds today's iteration over the updated census, so `rounds`
    * can be a fraction of the cold [[Rounds]]. Alignment contract:
    * a matrix node the start doesn't cover gets v₀ = [[Scale]] (the
    * cold default), a start row naming no matrix node is dropped
    * (retired items); `rounds = 0` therefore returns the aligned start
    * itself. With an empty start and `rounds = Rounds` this IS
    * [[spectralOf]] — the round body is shared ([[iterate]]). */
  def spectralWarmOf(pmi: DataFrame, start: DataFrame, rounds: Int): DataFrame =
    dominantFrom(ppmiMatOf(pmi),
      start.select(col("node"), col("vfp").as("v")), rounds)
      .select(col("node"), col("v").as("vfp"))

  /** (node, v) dominant-eigenvector fixed point after [[Rounds]] rounds. */
  private[ops] def dominantOf(mat: DataFrame): DataFrame =
    iterate(mat,
      mat.select(col("i").as("node")).distinct().withColumn("v", lit(Scale))
        .localCheckpoint(false),
      Seq("v"), Rounds)

  /** [[dominantOf]] from an explicit start vector — the warm-start face
    * (q163): `start(node, v)` is aligned to the matrix's node set (a node
    * the start doesn't cover gets v₀ = [[Scale]], the cold default; a
    * start row with no matrix node is dropped — retired items). The
    * round body is shared with the cold path ([[iterate]]), so
    * warm-vs-cold differ ONLY in v₀ and round count by construction. */
  private[ops] def dominantFrom(mat: DataFrame, start: DataFrame,
                                rounds: Int): DataFrame =
    iterate(mat,
      mat.select(col("i").as("node")).distinct()
        .join(start.select(col("node"), col("v").as("v0")), Seq("node"), "left")
        .select(col("node"), coalesce(col("v0"), lit(Scale)).as("v"))
        .localCheckpoint(false),
      Seq("v"), rounds)

  /** `rounds` shifted power-iteration rounds over state(node, cols…) —
    * the ONE round body of q156's single vector and q163's fused
    * warm+cold pair ([[SpectralDelta.spectralWarmColdOf]], which runs its
    * shared rounds over both columns, then the rest over the cold column
    * alone). Per round: one matrix join, one DECIMAL sum per column, each
    * column then max-normalized, c = (raw·10⁶) div max(raw).
    * `state` is checkpointed by the caller.
    *
    * r16 optimization (guide §2.4/§3.1): the state is node-bounded (≤
    * vocab ≈ 10⁶ rows · 16 B per column), i.e. always the broadcastable
    * side, so it broadcasts explicitly and the matrix never moves (the
    * standard distributed power-iteration layout: matrix partitioned,
    * vector shipped; before, the checkpointed state was a stats-less
    * LogicalRDD and Spark shuffled BOTH sides every round). The
    * max-normalization census is an empty-window max over the node-grain
    * raw frame, in the SAME single action (the q145 posture WalkPmi uses
    * for t_mass) instead of a broadcast-census BNLJ and a second action.
    * r17 (guide §7.3): LAZY checkpoints — each round's state has ONE
    * consumer (the next round's broadcast build, which collects every
    * partition and materializes the checkpoint as a side effect), so the
    * whole loop runs as one job cascade under the caller's first action;
    * lineage still truncates at every round.
    * r17 (verdict What's-wrong #2/#3): the forced broadcast AND the
    * single-partition window fold are gated on the MEASURED bytes of the
    * checkpointed matrix (nodes ≤ matrix rows, state bytes ≤ matrix
    * bytes — a node-grain bound with zero extra jobs). Past the cap the
    * round degrades to the shuffle join and the pre-r16 checkpoint +
    * 1-row-census crossJoin shape (identical arithmetic, oracle-pinned in
    * r15) instead of an OOM / serial window stage. */
  private[ops] def iterate(mat: DataFrame, state: DataFrame, cols: Seq[String],
                           rounds: Int): DataFrame = {
    val fits = ScaleGuard.fits(mat)
    def per(f: String => Column): Seq[Column] = cols.map(f)
    val raws = per(c => sum((col("wfp") * col(c)).cast(DecimalType(38, 0))).as(s"r_$c"))
    val norm = col("i").as("node") +:
      per(c => expr(s"(r_$c * 1000000) div m_$c").as(c))
    (1 to rounds).foldLeft(state) { (v, _) =>
      val agg = mat.join(if (fits) broadcast(v) else v, mat("j") === v("node"))
        .groupBy(col("i"))
        .agg(raws.head, raws.tail: _*)
      if (fits)
        cols.foldLeft(agg)((a, c) => a.withColumn(s"m_$c", max(col(s"r_$c")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())))
          .select(norm: _*)
          .localCheckpoint(false)
      else {
        val raw = agg.localCheckpoint() // doubled pass: census + division
        val maxes = per(c => max(col(s"r_$c")).as(s"m_$c"))
        raw.crossJoin(broadcast(raw.agg(maxes.head, maxes.tail: _*)))
          .select(norm: _*)
          .localCheckpoint(false)
      }
    }
  }

  /** (node, v1fp, v2fp) — the 2-D spectral embedding: v1 = [[dominantOf]],
    * v2 = the second coordinate by DEFLATED power iteration, every round
    * projecting out the v1 component in exact integer arithmetic:
    *
    *   w  = M·u                    (int64 products, DECIMAL(38,0) sums)
    *   w' = w − (⟨v1,w⟩ div ⟨v1,v1⟩)·v1   (truncate-toward-zero both
    *                               engines — the q151-verified contract;
    *                               the quotient's truncation is the one
    *                               declared rounding per round)
    *   u  = (w'·10⁶) div max|w'|, 0 when max|w'| = 0 (single-node
    *                               components: the complement is empty)
    *
    * u₀ breaks symmetry deterministically: (H mod 2000001) − 10⁶ with
    * H = first-8-hex of md5("spec2|<node>") — the q153 md5 idiom, signed
    * so both eigendirections are reachable; the SIGN of v2 is therefore
    * a deterministic function of the corpus, not a convention.
    *
    * Bounds: |w| ≤ 4·10¹⁹ (q156's bound), ⟨v1,w⟩ ≤ 4·10³¹ at a 10⁶-node
    * catalog, quotient·v1 ≤ 4·10²⁵, w'·10⁶ ≤ 8·10³¹ — all inside
    * DECIMAL(38,0)/HUGEINT.
    *
    * Scale shape: v1's loop, then one pre-join of the persisted matrix
    * with the checkpointed v1 (matv persists for the round joins); each
    * deflation round = one node-keyed equi-join + one DECIMAL sum
    * exchange + three 1-row censuses (⟨v1,w⟩; the constant ⟨v1,v1⟩
    * recomputed from the checkpointed v1; max|w'|) broadcast back — the
    * q142 posture; w and w' each feed two consumers, so both checkpoint
    * (doubled-pass rule). */
  def spectralPairOf(pmi: DataFrame): DataFrame = {
    val mat = ppmiMatOf(pmi)
    // dominantOf's last round is already a (lazy) checkpoint; the denBd
    // collect right below materializes it, so the old extra EAGER
    // checkpoint here was a second copy of the same k-row frame
    val v1 = dominantOf(mat)
    // r16 optimization: ⟨v1,v1⟩ is a CONSTANT of the loop — one 1-row
    // fold over the checkpointed v1, collected once and inlined as a
    // literal (the KmvSketch/Waterfill bounded-collect precedent). The
    // old shape re-broadcast it as a census crossJoin every round: 4
    // broadcast builds + 4 BNLJ plan nodes for one number.
    val denBd = v1.agg(sum((col("v") * col("v")).cast(DecimalType(38, 0)))
      .as("den")).head().getDecimal(0)
    // r16: checkpoint — mat and v1 are both checkpoint-rooted, so this
    // stays a flat census-grain materialization for the round joins
    val matv = mat
      .join(v1.select(col("node").as("i"), col("v").as("v1i")), Seq("i"))
      .localCheckpoint()
    val h = graft.ext.TextOps.hexVal(
      "md5(concat('spec2|', CAST(node AS STRING)))", 1, duck = false)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    var u = v1.select(col("node"),
      expr(s"CAST($h % 2000001 - 1000000 AS BIGINT)").as("u"))
    // r17: broadcast + single-partition window folds gated on the
    // measured matv bytes (u ≤ nodes ≤ matv rows) — see iterate's note
    val fits = ScaleGuard.fits(matv)
    for (_ <- 1 to Rounds) {
      // r16 optimization (guide §2.4/§3.1, the iterate pattern): u is
      // node-bounded → broadcast into the round join (matv never
      // re-shuffles); the ⟨v1,w⟩ and max|w'| censuses fold into the SAME
      // action as empty-window sums over the node-grain aggregate (was:
      // two more checkpoints + two broadcast censuses per round). One
      // checkpoint per round (u) bounds lineage; arithmetic unchanged —
      // num, qq, wp, and the division replay the exact integer steps.
      val uSide = u.select(col("node").as("un"), col("u"))
      val w = matv.join(if (fits) broadcast(uSide) else uSide,
          col("j") === col("un"))
        .groupBy(col("i"))
        .agg(sum((col("wfp") * col("u")).cast(DecimalType(38, 0))).as("w"),
          max(col("v1i")).as("v1i"))
      u =
        if (fits)
          w.withColumn("num", sum(col("v1i").cast(DecimalType(38, 0)) * col("w"))
              .over(wAll))
            .withColumn("den", lit(denBd).cast(DecimalType(38, 0)))
            .withColumn("qq", expr("num div den"))
            .select(col("i"), col("v1i"),
              (col("w") - col("qq").cast(DecimalType(38, 0)) * col("v1i")).as("wp"))
            .withColumn("m", max(abs(col("wp"))).over(wAll))
            .select(col("i").as("node"),
              expr("CASE WHEN m > 0 THEN (wp * 1000000) div m ELSE 0 END").as("u"))
            // lazy — one consumer per round (the next round's broadcast
            // build / the final join); see iterate's r17 note
            .localCheckpoint(false)
        else {
          // pre-r16 shape (oracle-pinned then): checkpoint the doubled-
          // pass frames, 1-row censuses crossJoin back — no serial
          // window stage at production node counts
          val wC = w.localCheckpoint()
          val wp = wC
            .crossJoin(broadcast(wC.agg(
              sum(col("v1i").cast(DecimalType(38, 0)) * col("w")).as("num"))))
            .withColumn("den", lit(denBd).cast(DecimalType(38, 0)))
            .withColumn("qq", expr("num div den"))
            .select(col("i"), col("v1i"),
              (col("w") - col("qq").cast(DecimalType(38, 0)) * col("v1i")).as("wp"))
            .localCheckpoint()
          wp.crossJoin(broadcast(wp.agg(max(abs(col("wp"))).as("m"))))
            .select(col("i").as("node"),
              expr("CASE WHEN m > 0 THEN (wp * 1000000) div m ELSE 0 END").as("u"))
            .localCheckpoint(false)
        }
    }
    v1.select(col("node"), col("v").as("v1fp"))
      .join(u.select(col("node"), col("u").as("v2fp")), Seq("node"))
  }

  // ---------------------------------------------------------------- q156
  def q156(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (ppmiMatOf note)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    spectralOf(WalkPmi.pmiOf(
      WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
  }

  /** Mirror of [[spectralOf]] over [[WalkPmi.pmiCtes]]: PPMI + diagonal,
    * then [[Rounds]] unrolled (raw, v) CTE pairs. MATERIALIZED is
    * load-bearing (each vK feeds rK+1's join; each rK feeds its max
    * census and its division). */
  private[ops] def spectralCtes: String =
    s"""${WalkPmi.pmiCtes},
       |$spectralRoundsFromPmi""".stripMargin

  /** The power-iteration stack alone (`ppmi` → `v$Rounds`), assuming a
    * `pmi(a, b, …, pmi)` CTE is already in scope — composable over ANY
    * positive-weight pair census (q156/q159 feed it the walk matrix,
    * q162 the document near-dup graph). */
  private[graft] def spectralRoundsFromPmi: String = {
    val rounds = (1 to Rounds).map { r =>
      s"""r$r AS MATERIALIZED (
         |  SELECT m.i, sum(m.wfp * v.v) AS raw
         |  FROM mat m JOIN v${r - 1} v ON m.j = v.node GROUP BY m.i),
         |v$r AS MATERIALIZED (
         |  SELECT i AS node,
         |         CAST((raw * 1000000) // (SELECT max(raw) FROM r$r) AS BIGINT) AS v
         |  FROM r$r)""".stripMargin
    }.mkString(",\n")
    s"""ppmi AS MATERIALIZED (
       |  SELECT a, b, CAST(round(pmi * 1000000, 0) AS BIGINT) AS wfp
       |  FROM pmi WHERE pmi > 0),
       |nodes AS (SELECT a AS i FROM ppmi UNION SELECT b FROM ppmi),
       |mat AS MATERIALIZED (
       |  SELECT a AS i, b AS j, wfp FROM ppmi
       |  UNION ALL SELECT b, a, wfp FROM ppmi
       |  UNION ALL SELECT i, i, CAST($Scale AS BIGINT) FROM nodes),
       |v0 AS MATERIALIZED (
       |  SELECT i AS node, CAST($Scale AS BIGINT) AS v FROM nodes),
       |$rounds""".stripMargin
  }

  private def q156Sql: String =
    s"""$spectralCtes
       |SELECT node, v AS vfp FROM v$Rounds""".stripMargin

  // ---------------------------------------------------------------- q159
  def q159(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    // r16: checkpoint, not keyed persist — truncates the corpus lineage
    // out of every census-grain downstream plan (ppmiMatOf note)
    val pw = Triangles.weightedItemGraphOf(ev, Tables.tsMicros(ev))
      .localCheckpoint()
    spectralPairOf(WalkPmi.pmiOf(
      WalkPairs.walkPairsOf(Backbone.backboneOf(pw))))
  }

  /** Mirror of [[spectralPairOf]] over [[spectralCtes]]'s v$Rounds:
    * deflation rounds unrolled, scalar subqueries for the three per-round
    * censuses, `//` truncation matching Spark's `div` (toward zero on
    * negatives — q151-verified). */
  private[ops] def spectralPairCtes: String = {
    val h = graft.ext.TextOps.hexVal(
      "md5('spec2|' || CAST(node AS VARCHAR))", 1, duck = true)
    val rounds = (1 to Rounds).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT m.i, sum(CAST(m.wfp AS HUGEINT) * u.u) AS w,
         |         max(m.v1i) AS v1i
         |  FROM matv m JOIN u${r - 1} u ON m.j = u.node GROUP BY m.i),
         |q$r AS (SELECT sum(CAST(v1i AS HUGEINT) * w)
         |               // (SELECT den FROM denc) AS qq FROM w$r),
         |wp$r AS MATERIALIZED (
         |  SELECT i, w - (SELECT qq FROM q$r) * v1i AS wp FROM w$r),
         |u$r AS MATERIALIZED (
         |  SELECT i AS node,
         |         CAST(CASE WHEN (SELECT max(abs(wp)) FROM wp$r) > 0
         |              THEN (wp * 1000000) // (SELECT max(abs(wp)) FROM wp$r)
         |              ELSE 0 END AS BIGINT) AS u
         |  FROM wp$r)""".stripMargin
    }.mkString(",\n")
    s"""$spectralCtes,
       |v1n AS MATERIALIZED (SELECT node, v FROM v$Rounds),
       |denc AS (SELECT sum(CAST(v AS HUGEINT) * v) AS den FROM v1n),
       |matv AS MATERIALIZED (
       |  SELECT m.i, m.j, m.wfp, v1.v AS v1i
       |  FROM mat m JOIN v1n v1 ON m.i = v1.node),
       |u0 AS MATERIALIZED (
       |  SELECT node, CAST($h % 2000001 - 1000000 AS BIGINT) AS u FROM v1n),
       |$rounds""".stripMargin
  }

  private def q159Sql: String =
    s"""$spectralPairCtes
       |SELECT v1n.node, v1n.v AS v1fp, u$Rounds.u AS v2fp
       |FROM v1n JOIN u$Rounds ON v1n.node = u$Rounds.node""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q156_spectral_embed", q156, Some(q156Sql)),
    QueryDef("q159_spectral_pair", q159, Some(q159Sql)))
}
