package graft

import graft.ops.{LinkPredict, Triangles}
import org.apache.spark.sql.functions._

/** q147: common-neighbor link prediction over the backbone. */
class LinkPredictSpec extends SparkSpec {

  import spark.implicits._

  private def predict(minClosures: Long, edges: (Long, Long)*): Set[(Long, Long, Long, Long, Long, Long)] =
    LinkPredict.linkPredictionOf(edges.toSeq.toDF("a", "b"), minClosures)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet

  test("single wedge: one shared neighbor is below the default threshold") {
    assert(predict(LinkPredict.DefaultMinClosures, (1L, 2L), (2L, 3L)) == Set.empty)
    // at minClosures=1 the wedge ends are predicted with full overlap
    assert(predict(1L, (1L, 2L), (2L, 3L)) ==
      Set((1L, 3L, 1L, 1L, 1L, 10000L)))
  }

  test("square: both diagonals predicted at closures 2, edges never self-predict") {
    val s = predict(2L, (1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(s == Set((1L, 3L, 2L, 2L, 2L, 10000L), (2L, 4L, 2L, 2L, 2L, 10000L)), s"got $s")
  }

  test("K4 minus an edge: exactly the missing edge comes back") {
    // (3,4) absent; {1,2} are its common neighbors. Edges like (1,2) share
    // neighbors {3,4} too but the anti-join keeps them out.
    val s = predict(2L, (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    assert(s == Set((3L, 4L, 2L, 2L, 2L, 10000L)), s"got $s")
  }

  test("overlap score divides by the SMALLER endpoint degree") {
    // hub 1 ~ {2,3,4,5}; 6 ~ {2,3}: candidate (1,6) closures 2,
    // deg_1=4, deg_6=2 → score = 2·1e4 div 2 = 10000, not 5000
    val s = predict(2L, (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 6L), (3L, 6L))
    assert(s.contains((1L, 6L, 2L, 4L, 2L, 10000L)), s"got $s")
  }

  test("reconciliation: wedge index = {edge rows == q145 embeddedness>0} ∪ {open candidates}") {
    // wheel graph: hub 0 + rim 5-cycle (the TrianglesSpec fixture)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
    val pairsDf = edges.toDF("a", "b")
    val wedge = Triangles.wedgeIndexOf(pairsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val emb = Triangles.perEdgeEmbeddedness(pairsDf, key = "lp_spec_emb").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val open = LinkPredict.linkPredictionOf(pairsDf, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // edge-restricted wedge rows ARE q145's positive-embeddedness rows —
    // two independent triadic computations (Σdeg² bidirectional census vs
    // degree-ordered compact-forward) of the same support
    val edgeKeys = edges.toSet
    assert(wedge.view.filterKeys(edgeKeys).toMap ==
      emb.filter { case (_, e) => e > 0L }.filter { case (k, _) => edgeKeys(k) })
    // and the remainder of the index is exactly the open-candidate census
    assert(wedge.view.filterKeys(k => !edgeKeys(k)).toMap == open)
    // the index splits with nothing left over
    assert(wedge.size == emb.count { case (_, e) => e > 0L } + open.size)
  }
}
