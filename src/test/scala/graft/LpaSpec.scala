package graft

import graft.ops.{Components, Lpa, Triangles}
import org.apache.spark.sql.functions._

/** q149: synchronous label propagation with the (count DESC, label ASC)
  * argmax, exactly `rounds` sweeps. */
class LpaSpec extends SparkSpec {

  import spark.implicits._

  private def lpa(rounds: Int, edges: (Long, Long)*): Set[(Long, Long, Long)] =
    Lpa.lpaOf(edges.toSeq.toDF("a", "b"), rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("two triangles over a bridge split into their own communities (hand-traced 4 sweeps)") {
    // {1,2,3} + {4,5,6}, bridge 3-4. Sweep-by-sweep by hand:
    // l1: 1→2 2→1 3→1 4→3 5→4 6→4 ; l2: 1→1 2→1 3→1 4→4 5→3 6→3
    // l3: 1→1 2→1 3→1 4→3 5→3 6→3 ; l4: same membership, stable sides
    val s = lpa(4, (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    assert(s == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)), s"got $s")
  }

  test("single edge oscillates synchronously — even rounds restore self-labels") {
    // neighbor-only adoption: l1 swaps, l2 swaps back; 4 rounds = identity
    assert(lpa(4, (1L, 2L)) == Set((1L, 1L, 1L), (2L, 2L, 1L)))
    // and an odd round count holds the swapped state — the fixed-round
    // contract is deterministic, not a convergence claim
    assert(lpa(3, (1L, 2L)) == Set((1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("tie rule: equal counts resolve to the SMALLEST label") {
    // star hub 0 ~ {1,2,3}: sweep 1 gives the hub three size-1 label
    // votes → takes 1; leaves all take 0
    val s = lpa(1, (0L, 1L), (0L, 2L), (0L, 3L))
    assert(s == Set((0L, 1L, 1L), (1L, 0L, 3L), (2L, 0L, 3L), (3L, 0L, 3L)), s"got $s")
  }

  test("clique converges to its minimum label and stays") {
    val s = lpa(4, (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    // K4: sweep 1 → everyone adopts min neighbor; by sweep 2 all read 1
    assert(s.map(t => (t._1, t._2)).forall(_._2 == 1L), s"got $s")
    assert(s.forall(_._3 == 4L), s"got $s")
  }

  test("containment: LPA communities refine connected components on the sf0.01 backbone") {
    // labels only travel along edges, so no community may straddle two
    // components — checked on the real backbone, not a toy
    val ev = graft.oracle.Tables.table(spark, "/root/testdata/sf0.01", "events")
    val pw = Triangles.weightedItemGraphOf(ev, graft.oracle.Tables.tsMicros(ev))
    val strong = graft.ops.Backbone.backboneOf(pw).localCheckpoint()
    val comm = Lpa.lpaOf(strong)
      .select(col("item"), col("community"))
    val cc = Components.connectedComponents(strong, "a", "b")
      .select(col("v").as("item"), col("cluster_id"))
    val straddlers = comm.join(cc, Seq("item"))
      .groupBy(col("community"))
      .agg(countDistinct(col("cluster_id")).as("n_cc"))
      .filter(col("n_cc") > 1)
      .count()
    assert(straddlers == 0L, "a community crossed a connected component")
  }
}
