package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: symmetric star — hub outranks leaves, leaves tie") {
    // star: 0 — {1,2,3,4}, symmetrized
    val edges = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(ranks.keySet === Set(0L, 1L, 2L, 3L, 4L))
    val leaves = (1L to 4L).map(ranks)
    assert(leaves.distinct.size === 1, "leaves must tie exactly")
    assert(ranks(0L) > leaves.head * 2,
      s"hub ${ranks(0L)} should clearly outrank a leaf ${leaves.head}")
  }

  test("pageRank: regular graph is the uniform fixed point (exact)") {
    // 4-cycle, symmetrized: every node deg 2 — rank stays at init
    // forever because contrib(v) = 2 * (init DIV 2) = init, so
    // rank' = 15%·init + 85%·init = init (modulo exact floor arithmetic)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 5)
      .as[(Long, Long)].collect().toMap
    val init = Graph.Unit / 4
    assert(ranks.values.toSet === Set(init))
  }

  test("pageRank: mass is conserved up to deterministic floor leak") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (3L, 0L),
      (0L, 3L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 10)
      .as[(Long, Long)].collect()
    val total = ranks.map(_._2).sum
    // each round each node can leak < deg units to DIV plus < 1 to the
    // two /100 steps; 10 rounds x 4 nodes x small degs ≪ 1000 units
    assert(total <= Graph.Unit && total > Graph.Unit - 1000,
      s"total mass $total drifted")
  }

  test("pageRank plan: iteration is join + hash aggregate, no window, " +
    "no cartesian") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    // the DataFrame loop runs past the node gate only
    val plan = Graph.pageRank(edges, iterations = 1, checkpoint = false,
        broadcastRanksMaxNodes = 0L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
    assert(plan.contains("HashAggregate"),
      s"contrib rollup should be a hash aggregate:\n$plan")
  }

  test("pageRank: in-gate ranks and schema equal the past-gate loop's " +
    "(null endpoint, duplicate edges, self-loop, sink)") {
    // node 4 is a sink; (1,2) is doubled; 3 loops on itself; the null node
    // receives from 2 and 5 and sends nothing (a null src joins nothing)
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, 2L),
      (2L, 1L), (2L, null), (null, 5L), (5L, null), (5L, 6L), (6L, 5L),
      (3L, 3L), (3L, 1L), (1L, 4L), (null, null)).toDF("src", "dst")
    val plain = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (0L, 3L),
      (1L, 3L), (2L, 2L), (3L, 4L)).toDF("src", "dst")
    for ((edges, nodes) <- Seq(nulls -> 7, plain -> 5)) {
      val inGate = Graph.pageRank(edges, iterations = 6)
      val pastGate = Graph.pageRank(edges, iterations = 6,
        broadcastRanksMaxNodes = 0L)
      assert(inGate.schema === pastGate.schema)
      val rows = inGate.collect().toSeq
      assert(rows === pastGate.collect().toSeq)
      assert(rows.size === nodes)
    }
    val ranked = Graph.pageRank(nulls, iterations = 6).collect()
    assert(ranked.head.isNullAt(0) && !ranked.head.isNullAt(1),
      s"the null node is ranked first: ${ranked.toSeq}")
    assert(!ranked.exists(r => !r.isNullAt(0) && r.getLong(0) == 0L),
      "a null endpoint must never read as node 0")
  }
}
