package graft

import graft.ops.Harmonic

/** q148: bounded-hop harmonic centrality. */
class HarmonicSpec extends SparkSpec {

  import spark.implicits._

  private def harm(edges: (Long, Long)*): Map[Long, (Long, Long, Long, Long)] =
    Harmonic.harmonicOf(edges.toSeq.toDF("a", "b"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("path-5: each node counts every other at its true shortest distance") {
    val m = harm((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(m == Map(
      1L -> ((1L, 1L, 1L, 11L)), // 2@1, 3@2, 4@3; 5 beyond the 3-ball
      2L -> ((2L, 1L, 1L, 17L)), // 1,3@1, 4@2, 5@3
      3L -> ((2L, 2L, 0L, 18L)), // 2,4@1, 1,5@2
      4L -> ((2L, 1L, 1L, 17L)),
      5L -> ((1L, 1L, 1L, 11L))), s"got $m")
  }

  test("star: hub reaches all at 1; leaves reach each other at 2") {
    val m = harm((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
    assert(m(0L) == ((5L, 0L, 0L, 30L)))
    (1L to 5L).foreach(v => assert(m(v) == ((1L, 4L, 0L, 18L)), s"leaf $v in $m"))
  }

  test("cycle-6: symmetric 2+2+1 ball, the antipode exactly once at distance 3") {
    val m = harm((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 6L))
    (1L to 6L).foreach(v => assert(m(v) == ((2L, 2L, 1L, 20L)), s"node $v in $m"))
  }

  test("triangle: d2/d3 stay empty when everything is adjacent") {
    val m = harm((1L, 2L), (2L, 3L), (1L, 3L))
    (1L to 3L).foreach(v => assert(m(v) == ((2L, 0L, 0L, 12L))))
  }

  test("disconnected pair: the ball never crosses components") {
    val m = harm((1L, 2L), (3L, 4L))
    assert(m.values.toSet == Set((1L, 0L, 0L, 6L)))
  }

  test("diamond: two distinct length-2 paths still count the far corner once") {
    // 1-2, 1-3, 2-4, 3-4: dist(1,4)=2 via both middles — distinct, not double
    val m = harm((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(m(1L) == ((2L, 1L, 0L, 15L)), s"got $m")
    assert(m(4L) == ((2L, 1L, 0L, 15L)), s"got $m")
  }
}
