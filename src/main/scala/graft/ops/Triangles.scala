package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local clustering coefficient over the item co-transition graph (q144)
  * — the third graph centrality on q139's graph (rank = PageRank q139/q142,
  * cohesion = this): for every item, how CLIQUEY is its neighborhood?
  * High-LCC items sit inside tight browse loops (bundles, series,
  * substitutes); high-degree/low-LCC items are hubs bridging unrelated
  * traffic (landing pages) — the standard triadic read of a co-occurrence
  * graph, and the recommender-feature counterpart of centrality
  * (reference analytics stop at windowed counts; this is the deeper
  * session-graph question the same events stream supports).
  *
  * Graph: q139's consecutive-event transitions (same per-user lag over
  * (t, event_id), same integer-valued `props.$.k` item cast — see
  * ops/PageRank.scala:55 for the cast contract), undirected via
  * least/greatest BEFORE the edge census so both directions pool, kept
  * only with support weight ≥ `minW` (absolute co-transition support, the
  * standard noise floor for co-occurrence graphs; fixture default 3).
  *
  * Triangle counting is DEGREE-ORDERED orientation (compact-forward):
  * each undirected edge points from its lower (degree, id) endpoint to
  * the higher; each triangle then has exactly ONE vertex with two
  * out-edges, so the wedge self-join on `src` enumerates every triangle
  * once, and closure is an equi-join against the canonical (a < b) edge
  * list. Out-degrees under this orientation are O(√m) for any graph
  * (arboricity bound), so wedge fan-out is Σ out-deg² ≤ m^1.5 worst-case
  * — the property that makes distributed triangle counting survive
  * skewed degree distributions where a naive src-grouped join would
  * quadratically explode on hub nodes.
  *
  * Scale shape: the corpus-sized work (per-user ordered lag) runs ONCE,
  * upstream of the persisted vocab²-bounded edge census (the q139
  * posture); degrees are node-grain; orientation is map-side over the
  * edge list; the wedge join and closure join are edge-census-grain with
  * the √m fan-out bound above; the output is node-grain (item
  * vocabulary-bounded). Nothing corpus-sized moves after the first
  * aggregation.
  *
  * Int64 bounds: lcc_bp = 2·t·10⁴ div d(d−1) with t ≤ d(d−1)/2 and
  * d < |vocab|; at a 10⁷-item vocabulary 2·t·10⁴ ≤ 10¹⁸ < 2⁶³. */
object Triangles {

  /** Absolute co-transition support an edge needs to enter the graph. */
  val DefaultMinW = 3L

  /** Undirected support-filtered item graph WITH pooled support weights:
    * (a, b, w) with a < b, from consecutive-event transitions pooled over
    * both directions — the weighted census [[graft.ops.Backbone]] ranks
    * and [[itemGraphOf]] projects down to the unweighted edge list. */
  def weightedItemGraphOf(events: DataFrame, tUs: Column,
                          minW: Long = DefaultMinW): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    CensusDelta.prep(events, tUs)
      .withColumn("src", lag(col("item"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("item"))
      .select(least(col("src"), col("item")).as("a"),
        greatest(col("src"), col("item")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minW)
  }

  /** Undirected support-filtered item graph: (a, b) with a < b, from
    * consecutive-event transitions pooled over both directions. */
  def itemGraphOf(events: DataFrame, tUs: Column, minW: Long = DefaultMinW): DataFrame =
    weightedItemGraphOf(events, tUs, minW).select(col("a"), col("b"))

  /** Shared triangle machinery: persist the canonical edge list, the
    * degree table and the (degree, id)-oriented edge list under `key`-
    * prefixed swap slots, and enumerate every triangle once as (x, y, z).
    * Returns (pairs, deg, triangles); x/y/z carry no order guarantee
    * beyond "each triangle appears exactly once". */
  private def triangleFrames(pairs0: DataFrame, key: String): (DataFrame, DataFrame, DataFrame) = {
    val pairs = Tables.swapPersist(s"${key}_pairs", pairs0.select(col("a"), col("b")))
    val deg = Tables.swapPersist(s"${key}_deg",
      pairs.select(col("a").as("v")).unionAll(pairs.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d")))
    val ed = pairs
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val ord = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val e = Tables.swapPersist(s"${key}_oriented", ed.select(
      when(ord, col("a")).otherwise(col("b")).as("src"),
      when(ord, col("b")).otherwise(col("a")).as("dst"),
      when(ord, col("db")).otherwise(col("da")).as("dd")))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.src") === col("e2.src") &&
        struct(col("e1.dd"), col("e1.dst")) < struct(col("e2.dd"), col("e2.dst")))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
      .join(pairs, least(col("y"), col("z")) === col("a") &&
        greatest(col("y"), col("z")) === col("b"))
      .select(col("x"), col("y"), col("z"))
    (pairs, deg, tri)
  }

  /** (item, degree, n_triangles, lcc_bp) over any canonical (a < b)
    * undirected edge list; lcc_bp is NULL for degree-1 nodes (no possible
    * wedge — the engines disagree on integer x/0, so the guard is a CASE
    * on both sides, the q129 rule). */
  def localClusteringOf(pairs0: DataFrame): DataFrame = {
    val (_, deg, tri) = triangleFrames(pairs0, "q144")
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    deg.join(triPerNode, Seq("v"), "left")
      .select(col("v").as("item"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        expr("CASE WHEN d >= 2 THEN (2 * coalesce(t, 0) * 10000) div (d * (d - 1)) END")
          .as("lcc_bp"))
  }

  /** Edge-embeddedness census (q145): for every edge, how many triangles
    * run THROUGH it (= common neighbors of its endpoints), reported as a
    * histogram — the edge-grain reading of the same triadic structure
    * q144 reads node-grain. Embeddedness 0 is Granovetter's weak tie /
    * bridge (the co-occurrence edge no third item corroborates — the
    * first candidate to distrust in a noisy co-transition graph); high
    * embeddedness marks intra-community edges. The histogram answers
    * "how much of this graph is corroborated structure vs. bridges"
    * in |distinct embeddedness| rows.
    *
    * Scale shape: triangles explode to exactly 3 edge increments each
    * (canonical least/greatest id keys), aggregated edge-grain, then
    * LEFT-joined back onto the persisted edge census so 0-embeddedness
    * edges survive; the histogram is a ≤|distinct emb|-row aggregation
    * and the share denominator is an empty-window sum over the histogram
    * itself (≤|distinct emb| rows — no second edge-frame read, no BNLJ). */
  /** (a, b, emb): every edge of the canonical edge list with its triangle
    * support (0 included) — the per-edge frame [[edgeEmbeddednessOf]]
    * histograms, exposed so the stream gate's two-hop wedge index can be
    * reconciled against this independent compact-forward computation. */
  def perEdgeEmbeddedness(pairs0: DataFrame, key: String = "q145"): DataFrame = {
    val (pairs, _, tri) = triangleFrames(pairs0, key)
    val perEdge = tri.select(explode(array(
        struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("emb"))
    pairs.join(perEdge, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("emb"), lit(0L)).as("emb"))
  }

  def edgeEmbeddednessOf(pairs0: DataFrame): DataFrame =
    perEdgeEmbeddedness(pairs0)
      .groupBy(col("emb")).agg(count(lit(1)).as("n_edges"))
      // the share denominator is Σ n_edges over the histogram ITSELF — an
      // empty-window sum over ≤|distinct emb| census rows, so no second
      // read of the edge frame and no 1-row-census BNLJ at all
      .withColumn("m", sum(col("n_edges")).over(Window.partitionBy()))
      .select(col("emb").as("embeddedness"), col("n_edges"),
        expr("n_edges * 10000 div m").as("share_bp"))

  /** Two-hop wedge index over a canonical (a < b) edge list: (a, b,
    * closures) for every DISTANCE-≤2 item pair with at least one common
    * neighbor — the link-prediction-by-common-neighbors lookup table.
    * Built from the full bidirectional adjacency (a census of ALL wedges
    * is inherently Σ deg² work — the standard two-hop index cost; cap
    * degrees upstream if the vocabulary ever makes that unaffordable).
    * Keys align with the edge list's id-canonical (least, greatest). */
  def wedgeIndexOf(pairs: DataFrame): DataFrame = {
    val adj = pairs.select(col("a").as("c"), col("b").as("n"))
      .unionAll(pairs.select(col("b").as("c"), col("a").as("n")))
    adj.as("w1").join(adj.as("w2"),
        col("w1.c") === col("w2.c") && col("w1.n") < col("w2.n"))
      .groupBy(col("w1.n").as("a"), col("w2.n").as("b"))
      .agg(count(lit(1)).as("closures"))
  }

  /** The arrival pair of every streamed item event: (user_id, event_id,
    * a, b) = the pooled edge from the user's frozen last item to the
    * arriving item, self-loops dropped — the candidate edge the triad,
    * drift and link gates each score. The last item is
    * `max_by(item, struct(t, event_id))` over the static item events:
    * user-grain, persisted under the gate's `lastKey`. */
  private[ops] def arrivalPairsOf(streamEvents: DataFrame, staticEvents: DataFrame,
                                  staticTUs: Column, lastKey: String): DataFrame = {
    val lastItem = Tables.swapPersist(lastKey,
      CensusDelta.prep(staticEvents, staticTUs)
        .groupBy(col("user_id"))
        .agg(expr("max_by(item, struct(t, event_id))").as("last_item")))
    CensusDelta.prep(streamEvents)
      .join(lastItem.select(col("user_id"), col("last_item")), Seq("user_id"))
      .filter(col("last_item") =!= col("item"))
      .select(col("user_id"), col("event_id"),
        least(col("last_item"), col("item")).as("a"),
        greatest(col("last_item"), col("item")).as("b"))
  }

  /** Stream-static triadic-closure gate — the graph family's ingestion
    * face (the `*GateStreamStatic` pattern, q144/q145's streaming
    * counterpart): freeze the support-filtered co-transition graph, its
    * [[wedgeIndexOf two-hop wedge index]] and each user's last item; an
    * arriving event forms the candidate edge (frozen last item → new
    * item) and is scored by stream-static equi-joins — closures = how
    * many triangles the candidate edge closes in the frozen graph (common-
    * neighbor link prediction, the classic baseline), known_edge =
    * whether the frozen graph already contains it. Alert on closures ≥
    * `minClosures`: a triad-closing transition is the highest-structure
    * signal an arrival can carry.
    *
    * 100 TB shape: every frozen frame is vocab-bounded (edge list, wedge
    * index) or user-grain (last item), and each joins the stream on an
    * equi-key — nothing collects to the driver and no literal carries
    * corpus data (the RrfGate literal trick does NOT scale to user-grain
    * state; the stream-static join is the right shape here). Stateless:
    * no watermark, no state store (spec asserts stateOperators empty).
    * Reconciliation: restricted to frozen-graph edges, the wedge index
    * must equal [[perEdgeEmbeddedness]] — two independent computations
    * (bidirectional Σ deg² census vs. oriented compact-forward) of the
    * same triangle support, spec-pinned. */
  def triadGateStreamStatic(streamEvents: DataFrame, staticEvents: DataFrame,
                            staticTUs: Column, minW: Long = DefaultMinW,
                            minClosures: Long = 1L): DataFrame = {
    val pairs = Tables.swapPersist("triad_gate_pairs",
      itemGraphOf(staticEvents, staticTUs, minW))
    val wedges = Tables.swapPersist("triad_gate_wedges", wedgeIndexOf(pairs))
    arrivalPairsOf(streamEvents, staticEvents, staticTUs, "triad_gate_last")
      .join(wedges, Seq("a", "b"), "left")
      .join(pairs.withColumn("known_edge", lit(true)), Seq("a", "b"), "left")
      .select(col("user_id"), col("event_id"), col("a"), col("b"),
        coalesce(col("closures"), lit(0L)).as("closures"),
        coalesce(col("known_edge"), lit(false)).as("known_edge"))
      .filter(col("closures") >= minClosures)
  }

  // ---------------------------------------------------------------- q144
  def q144(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    localClusteringOf(itemGraphOf(ev, Tables.tsMicros(ev)))
  }

  // ---------------------------------------------------------------- q145
  def q145(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    edgeEmbeddednessOf(itemGraphOf(ev, Tables.tsMicros(ev)))
  }

  /** Shared oracle CTE stack through triangle enumeration: q139's e0/lag
    * CTEs, least/greatest edge pooling, the identical (degree, id)
    * row-value orientation, and the wedge + closure joins. */
  private def graphCtes(minW: Long): String =
    s"""WITH e0 AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events),
       |e AS (SELECT * FROM e0 WHERE item IS NOT NULL),
       |l AS (SELECT item,
       |             lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |      FROM e),
       |p AS (SELECT least(src, item) AS a, greatest(src, item) AS b
       |      FROM l WHERE src IS NOT NULL AND src <> item
       |      GROUP BY 1, 2 HAVING count(*) >= $minW),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
       |        FROM (SELECT a AS v FROM p UNION ALL SELECT b FROM p) u GROUP BY v),
       |o AS (SELECT CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.a ELSE p.b END AS src,
       |             CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.b ELSE p.a END AS dst,
       |             CASE WHEN (da.d, p.a) < (db.d, p.b) THEN db.d ELSE da.d END AS dd
       |      FROM p JOIN deg da ON da.v = p.a JOIN deg db ON db.v = p.b),
       |tr AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |       FROM o e1 JOIN o e2
       |         ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
       |       JOIN p ON p.a = least(e1.dst, e2.dst) AND p.b = greatest(e1.dst, e2.dst))""".stripMargin

  /** Mirror of [[q144]]: [[graphCtes]] + per-node triangle incidence and
    * the CASE-guarded integer lcc. */
  private def q144Sql(minW: Long = DefaultMinW): String =
    s"""${graphCtes(minW)},
       |tpn AS (SELECT v, CAST(count(*) AS BIGINT) AS nt FROM (
       |          SELECT x AS v FROM tr
       |          UNION ALL SELECT y FROM tr
       |          UNION ALL SELECT z FROM tr) u GROUP BY v)
       |SELECT deg.v AS item, deg.d AS degree,
       |       CAST(COALESCE(tpn.nt, 0) AS BIGINT) AS n_triangles,
       |       CASE WHEN deg.d >= 2
       |            THEN CAST(2 * COALESCE(tpn.nt, 0) * 10000 // (deg.d * (deg.d - 1)) AS BIGINT)
       |       END AS lcc_bp
       |FROM deg LEFT JOIN tpn ON tpn.v = deg.v""".stripMargin

  /** Mirror of [[q145]]: [[graphCtes]] + per-edge triangle incidence
    * (3 canonical edges per triangle), zero-embeddedness edges kept via
    * LEFT JOIN, histogram over the edge census. */
  private def q145Sql(minW: Long = DefaultMinW): String =
    s"""${graphCtes(minW)},
       |et AS (SELECT least(x, y) AS a, greatest(x, y) AS b FROM tr
       |       UNION ALL SELECT least(x, z), greatest(x, z) FROM tr
       |       UNION ALL SELECT least(y, z), greatest(y, z) FROM tr),
       |ec AS (SELECT a, b, CAST(count(*) AS BIGINT) AS emb FROM et GROUP BY a, b),
       |pe AS (SELECT COALESCE(ec.emb, 0) AS emb
       |       FROM p LEFT JOIN ec ON ec.a = p.a AND ec.b = p.b)
       |SELECT CAST(emb AS BIGINT) AS embeddedness,
       |       CAST(count(*) AS BIGINT) AS n_edges,
       |       CAST(count(*) * 10000 // SUM(count(*)) OVER () AS BIGINT) AS share_bp
       |FROM pe GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q144_local_clustering", q144, Some(q144Sql())),
    QueryDef("q145_edge_embeddedness", q145, Some(q145Sql())))
}
