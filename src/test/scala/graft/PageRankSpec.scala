package graft

import graft.ops.{PageRank, PageRankDelta}
import org.apache.spark.sql.functions._

/** q139: integer power-iteration PageRank over the item-transition graph. */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  /** Events encoding a fixed tiny graph: users walk items in ts order. */
  private def walk(user: Long, items: Seq[Long]) =
    items.zipWithIndex.map { case (it, i) =>
      (user * 1000L + i, user, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
        s"""{"k": $it}""")
    }

  private def prOf(rows: Seq[(Long, Long, java.sql.Timestamp, String)], iters: Int = 3) = {
    val ev = rows.toDF("event_id", "user_id", "ts", "props")
    PageRank.pageRankOf(ev, unix_micros(col("ts")), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("hand graph: sink of a 2-cycle accumulates, uniform cycle stays uniform") {
    // u1: 1 -> 2 -> 1 -> 2 (edges 1->2 w2, 2->1 w1); u2: 3 -> 4 -> 3 (cycle)
    val ranks = prOf(walk(1, Seq(1, 2, 1, 2)) ++ walk(2, Seq(3, 4, 3)))
    // symmetric 2-cycles keep the uniform fixed point: 150000 + 0.85*rank
    // converges toward 1e6; after 3 exact-integer rounds both stay equal
    assert(ranks(3L) == ranks(4L), "symmetric cycle stays symmetric")
    // node 2 receives ALL of node 1's mass each round and returns all of
    // its own, so with equal out-degrees the pair also balances — but the
    // 1->2 edge has weight 2 of out_w 2, identical shares; ranks equal
    assert(ranks(1L) == ranks(2L))
    // every rank stays positive and below total graph mass
    ranks.values.foreach(r => assert(r > 0L && r < 4L * 1000000L))
  }

  test("hand graph: a pure source leaks mass, its sink gains it") {
    // u1 walks 1 -> 2 five times interleaved: 1,2,1,2 gives edges both
    // ways; instead one long chain 5 -> 6, 5 -> 6: two separate users so
    // item 5 has ONLY outgoing, item 6 ONLY incoming
    val ranks = prOf(walk(1, Seq(5, 6)) ++ walk(2, Seq(5, 6)))
    // source: never receives -> rank = base each round = 150000
    assert(ranks(5L) == 150000L, s"pure source decays to the base: $ranks")
    // sink got (1e6*2) div 2... first round contrib = (1e6*2) div 2 = 1e6
    // r1(6) = 150000 + 850000; r2 uses r1(5)=150000 -> contrib 150000
    // r3(6) = 150000 + (150000*85) div 100 = 277500
    assert(ranks(6L) == 277500L, s"sink rank after 3 exact rounds: $ranks")
  }

  test("4-node graph with a dangling node: exact ranks at iters 1 and 3") {
    // u1: 1→2→3→1 (each edge w1); u2: 2→4. out_w: 1:1, 2:2, 3:1;
    // node 4 is DANGLING (no out-edges — its mass drops, per the doc).
    val rows = walk(1, Seq(1, 2, 3, 1)) ++ walk(2, Seq(2, 4))
    // Round 1 from r0 = 1e6: contrib 2←1e6 (all of 1), 3←5e5 (half of
    // 2), 4←5e5, 1←1e6 (all of 3); rank = 150000 + (c*8500) div 10000.
    assert(prOf(rows, iters = 1) ==
      Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 575000L, 4L -> 575000L))
    // Rounds 2–3 by the same integer formula (hand-unrolled):
    //   r2 = {1:638750, 2:1000000, 3:575000, 4:575000}
    //   r3(2) = 150000 + (638750*8500) div 10000 = 692937 (truncated .5)
    val r3 = prOf(rows, iters = 3)
    assert(r3 == Map(1L -> 638750L, 2L -> 692937L, 3L -> 575000L, 4L -> 575000L))
    // ordering stability across iteration counts: {1,2} stay the top
    // pair, {3,4} the bottom pair — more rounds refine, not reorder
    val top1 = prOf(rows, iters = 1).toSeq.sortBy(-_._2).take(2).map(_._1).toSet
    val top3 = r3.toSeq.sortBy(-_._2).take(2).map(_._1).toSet
    assert(top1 == Set(1L, 2L) && top3 == Set(1L, 2L))
  }

  test("self-loops are dropped and total mass is conserved-ish (bounded)") {
    val ranks = prOf(walk(1, Seq(7, 7, 7)) ++ walk(2, Seq(8, 9, 8)))
    assert(!ranks.contains(7L), "self-loop-only item forms no edge (dropped)")
    assert(ranks.keySet == Set(8L, 9L))
  }

  private def prFullOf(rows: Seq[(Long, Long, java.sql.Timestamp, String)], iters: Int = 3) = {
    val ev = rows.toDF("event_id", "user_id", "ts", "props")
    PageRank.pageRankFullOf(ev, unix_micros(col("ts")), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("q142 dangling graph: redistributed mass, exact ranks at iters 1 and 3") {
    // Same 4-node graph as the q139 test: edges 1→2, 2→3, 2→4, 3→1
    // (w1 each; out_w 1:1, 2:2, 3:1), node 4 DANGLING, n = 4. Hand-
    // unrolled full-matrix rounds (share = D div n FIRST, then damping):
    //  D1 = 1e6,   share 250000, term (250000·8500) div 10000 = 212500
    //    r1 = {1:1212500, 2:1212500, 3:787500, 4:787500}
    //  D2 = 787500, share 196875, term 167343
    //    r2 = {1:986718, 2:1347968, 3:832655, 4:832655}
    //  D3 = 832655, share 208163, term 176938
    //    r3 = {1:1034694, 2:1165648, 3:899824, 4:899824}
    val rows = walk(1, Seq(1, 2, 3, 1)) ++ walk(2, Seq(2, 4))
    assert(prFullOf(rows, iters = 1) ==
      Map(1L -> 1212500L, 2L -> 1212500L, 3L -> 787500L, 4L -> 787500L))
    assert(prFullOf(rows, iters = 3) ==
      Map(1L -> 1034694L, 2L -> 1165648L, 3L -> 899824L, 4L -> 899824L))
    // vs q139 on the same graph: every node strictly gains (the leaked
    // dangling mass comes back), ordering unchanged
    val lossy = prOf(rows, iters = 3)
    val full = prFullOf(rows, iters = 3)
    assert(full.forall { case (k, v) => v > lossy(k) })
  }

  test("q142 degenerates to q139 exactly when no node is dangling") {
    // two disjoint cycles: every node has an out-edge, D = 0 every round
    val rows = walk(1, Seq(1, 2, 1)) ++ walk(2, Seq(3, 4, 5, 3))
    assert(prFullOf(rows, iters = 3) == prOf(rows, iters = 3))
  }

  test("every PageRank entry rejects iters < 1 and damping outside [0, 10000] before any job") {
    val ev = walk(1, Seq(1, 2, 3)).toDF("event_id", "user_id", "ts", "props")
    val tUs = unix_micros(col("ts"))
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val start = Seq((1L, 1000000L)).toDF("item", "rank_micro")
    val bad: Seq[(String, () => Any)] = Seq(
      "pageRankOf iters 0" -> (() => PageRank.pageRankOf(ev, tUs, iters = 0)),
      "pageRankOf dampBp 10001" -> (() => PageRank.pageRankOf(ev, tUs, dampBp = 10001L)),
      "pageRankFullOf dampBp -1" -> (() => PageRank.pageRankFullOf(ev, tUs, dampBp = -1L)),
      "rankOf dampBp 10001" -> (() => PageRankDelta.rankOf(edges, dampBp = 10001L)),
      "rankOf dampBp -1" -> (() => PageRankDelta.rankOf(edges, dampBp = -1L)),
      "rankFrom iters 0" -> (() => PageRankDelta.rankFrom(edges, start, iters = 0)),
      "rankFrom dampBp 10001" -> (() => PageRankDelta.rankFrom(edges, start, dampBp = 10001L)),
      "rankWarmColdOf dampBp 10001" ->
        (() => PageRankDelta.rankWarmColdOf(edges, start, dampBp = 10001L)))
    for ((name, build) <- bad) {
      val (_, jobs) = JobCount.of(spark)(intercept[IllegalArgumentException](build()))
      assert(jobs == 0, s"$name: $jobs Spark jobs ran before the input was rejected")
    }
    // both damping bounds are valid: 0 keeps only the base, 10000 none
    assert(PageRankDelta.rankOf(edges, dampBp = 0L).collect()
      .forall(_.getLong(1) == 1000000L))
    assert(PageRankDelta.rankOf(edges, dampBp = 10000L).count() == 3L)
  }

  test("fixture census is item-vocabulary-bounded and all-positive") {
    val rows = PageRank.q139(spark, sf0001).collect()
    assert(rows.length <= 100, "item vocabulary is 0..99")
    assert(rows.forall(_.getLong(1) >= 150000L),
      "every node holds at least the damping base")
  }
}
