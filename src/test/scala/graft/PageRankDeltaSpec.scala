package graft

import graft.ops.PageRankDelta
import graft.oracle.Tables
import org.apache.spark.sql.functions.col

/** q164: incremental PageRank maintenance — the warm-start pattern's
  * second instance. Pins (1) the DIRECTED decomposition identity (full
  * census == settled + delta + directed straddle) on a hand fixture with
  * an explicit cross-cut transition AND on the real sf0.001 corpus;
  * (2) fused warm+cold == the single-column loop / a plain-Long mirror,
  * column for column; (3) the exact integer fixed point on a regular
  * graph (uniform 10⁶ — base 150000 + 850000) and warm invariance when
  * restarted FROM it; (4) q164's fixture invariants. */
class PageRankDeltaSpec extends SparkSpec {

  import spark.implicits._

  /** Plain-Long replay of one PageRank arm (q142 arithmetic: base
    * 150000, damp 8500 bp, declared division order; Long `/` truncates
    * toward zero == floor on these non-negative values). `start` aligns
    * exactly like the operator: graph node missing from start → uniform. */
  private def mirrorRank(edges: Seq[(Long, Long, Long)],
                         start: Map[Long, Long], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val dang = nodes.filterNot(outW.keySet)
    val n = nodes.size
    var rank = nodes.map(nd => nd -> start.getOrElse(nd, 1000000L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => (rank(s) * w) / outW(s) }.sum
      }
      val dMass = dang.map(rank).sum
      rank = nodes.map(nd => nd ->
        (150000L + (contrib.getOrElse(nd, 0L) * 8500L) / 10000L +
          ((dMass / n) * 8500L) / 10000L)).toMap
    }
    rank
  }

  private def fused(edges: Seq[(Long, Long, Long)], start: Map[Long, Long]): Map[Long, (Long, Long)] =
    PageRankDelta.rankWarmColdOf(edges.toDF("src", "dst", "w"),
      start.toSeq.toDF("item", "rank_micro"))
      .collect()
      .map(r => r.getAs[Long]("item") ->
        (r.getAs[Long]("rank_warm"), r.getAs[Long]("rank_cold"))).toMap

  // directed 4-cycle plus a dangling sink and a chain — asymmetric enough
  // that warm/cold/settled all differ
  val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 1L),
    (2L, 5L, 2L), (5L, 6L, 1L)) // 6 is dangling

  test("fused warm+cold == the plain-Long mirror, column for column") {
    val start = Map(1L -> 1400000L, 3L -> 600000L) // partial: 2,4,5,6 align to uniform
    val got = fused(edges, start)
    val warm = mirrorRank(edges, start, PageRankDelta.WarmIters)
    val cold = mirrorRank(edges, Map.empty, PageRankDelta.Iters)
    assert(got.keySet == cold.keySet)
    got.foreach { case (n, (w, c)) =>
      assert(w == warm(n) && c == cold(n),
        s"node $n fused=($w,$c) mirror=(${warm(n)},${cold(n)})")
    }
  }

  test("fused cold column == the single-column rankOf loop") {
    val viaLoop = PageRankDelta.rankOf(edges.toDF("src", "dst", "w"))
      .collect().map(r => r.getAs[Long]("item") -> r.getAs[Long]("rank_micro")).toMap
    val viaFused = fused(edges, Map.empty).map { case (n, (_, c)) => n -> c }
    assert(viaLoop == viaFused)
  }

  test("regular graph: uniform 10^6 is the EXACT integer fixed point; warm restarted from it is invariant") {
    // directed triangle both ways, equal weights, no dangling: every
    // node receives exactly its own mass back -> 150000 + 850000
    val reg = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (2L, 1L, 1L), (3L, 2L, 1L), (1L, 3L, 1L))
    val vStar = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    assert(mirrorRank(reg, Map.empty, 7) == vStar, "cold converges to uniform")
    val got = fused(reg, vStar)
    got.foreach { case (n, (w, c)) =>
      assert(w == 1000000L && c == 1000000L, s"node $n: ($w, $c)")
    }
  }

  test("directed decomposition identity: merged == full on a hand fixture with an explicit straddle") {
    val cut = 100L
    // user 10: a->b (settled), b->c STRADDLES the cut, c->a (delta)
    // user 11: settled-only  user 12: delta-only
    val ev = Seq(
      (10L, 1L, 1L, 50L), (10L, 2L, 2L, 60L), (10L, 3L, 3L, 150L), (10L, 4L, 1L, 160L),
      (11L, 5L, 3L, 70L), (11L, 6L, 2L, 80L),
      (12L, 7L, 1L, 150L), (12L, 8L, 3L, 170L))
      .toDF("user_id", "event_id", "k", "tus")
      .selectExpr("user_id", "event_id",
        "concat('{\"k\": ', k, '}') AS props", "tus")
    val full = PageRankDelta.fullDirectedCensusOf(ev, col("tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val merged = PageRankDelta.mergedDirectedCensusOf(ev, col("tus"), cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == merged, s"full=$full merged=$merged")
    // the straddle edge (2 -> 3 by user 10) must be present — it is in
    // NEITHER slice-local census, only the frontier join produces it
    assert(full.contains((2L, 3L, 1L)))
  }

  test("directed decomposition identity holds on the real sf0.001 corpus") {
    val ev = Tables.table(spark, sf0001, "events")
    val t = Tables.tsMicros(ev)
    val full = PageRankDelta.fullDirectedCensusOf(ev, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val merged = PageRankDelta.mergedDirectedCensusOf(ev, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == merged)
    assert(full.nonEmpty)
  }

  test("q164 on the fixture: drift column exact; settled NULL only on delta-new nodes") {
    val rows = PageRankDelta.q164(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      r.getAs[Long]("drift") ==
        math.abs(r.getAs[Long]("rank_warm") - r.getAs[Long]("rank_cold"))))
    assert(rows.forall { r =>
      r.getAs[Long]("rank_warm") > 0L && r.getAs[Long]("rank_cold") > 0L
    })
  }
}
