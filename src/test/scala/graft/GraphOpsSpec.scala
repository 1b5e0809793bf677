package graft

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents merges transitively linked pairs") {
    // a-b, b-c chain plus an isolated d-e pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = GraphOps.connectedComponents(pairs, "a", "b")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("an empty pair set yields an empty labeling (and terminates)") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(pairs, "a", "b").isEmpty)
  }

  test("self-pairs and duplicate edges don't distort labels") {
    // replays/self-joins can emit (x,x) and repeated pairs; labeling
    // must be unaffected and the sum-convergence signal must still fire
    val pairs = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (5L, 5L)).toDF("a", "b")
    val got = GraphOps.connectedComponents(pairs, "a", "b")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (5L, 5L)))
  }

  test("a chain far longer than the iteration cap converges (pointer jumping)") {
    // plain propagation needs diameter iterations (60 > maxIter); path
    // halving needs O(log n) — this guards the long-chain crash class
    val n = 60
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = GraphOps.connectedComponents(pairs, "a", "b", maxIter = 15).collect()
    assert(got.length == n && got.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents rejects ids whose n * max|id| reaches 2^63") {
    // the second component is labeled by its min id 2^62, so
    // n * max|label| = 4 * 2^62: a wrapped label sum could repeat before
    // the fixpoint. Two bits lower, 4 * 2^60 stays inside the bound.
    def cc(base: Long) = GraphOps.connectedComponents(
      Seq((1L, 2L), (base, base + 1)).toDF("a", "b"), "a", "b")
    val e = intercept[IllegalArgumentException](cc(1L << 62))
    assert(e.getMessage.contains("connectedComponents") && e.getMessage.contains("< 2^63"))
    assert(cc(1L << 60).filter($"cluster_id" === (1L << 60)).count() == 2)
  }

  test("connectedComponents raises when maxIter is too small to converge") {
    // an 8-node chain still relabels in round 2; convergence needs a
    // round whose signal repeats the previous one
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      GraphOps.connectedComponents(pairs, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("did not converge in 2 iterations"))
    assert(GraphOps.connectedComponents(pairs, "a", "b").filter($"cluster_id" === 1L).count() == 8)
  }

  test("triangleStats counts K4 exactly (4 triangles, 6 edges)") {
    val k4 = (for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)).toDF("u", "v")
    val r = GraphOps.triangleStats(k4, "u", "v").collect().head
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // orientation bound: K4 oriented by (degree, id) has max outdeg 3
    assert(r.getAs[Long]("max_outdeg") <= 3L)
  }

  test("triangleStats: hub star has zero triangles; duplicates/self-loops ignored") {
    // star 0-{1..5} plus noise: reversed duplicates and a self-loop.
    // No two leaves are adjacent, so no triangle; the hub orients its
    // edges INWARD (leaves have lower degree), so max outdeg stays 1.
    val star = (1L to 5L).map(i => (0L, i)) ++ Seq((3L, 0L), (2L, 2L))
    val r = GraphOps.triangleStats(star.toDF("u", "v"), "u", "v").collect().head
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Long]("max_outdeg") == 1L)
    assert(r.getAs[Long]("n_wedges") == 0L)
  }

  test("triangleStats on an empty edge set returns a zero row") {
    val r = GraphOps.triangleStats(
      Seq.empty[(Long, Long)].toDF("u", "v"), "u", "v").collect()
    assert(r.length == 1 && r.head.getAs[Long]("n_triangles") == 0L)
  }

  test("kCore: triangle survives k=2, pendant chain peels off in cascade") {
    // triangle 1-2-3 with a pendant path 3-4-5: the 2-core is exactly
    // the triangle, and reaching it takes TWO peeling rounds (5 falls
    // first, exposing 4) — exercises the cascade, not a single sweep.
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val (core, conv) = GraphOps.kCore(g.toDF("u", "v"), "u", "v", k = 2)
    assert(conv)
    assert(core.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L), (1L, 3L)))
  }

  test("kCore: whole-graph collapse and fixed-R truncation semantics") {
    // chain 1-2-3-4-5-6 has no 2-core: both ends peel inward, two nodes
    // per round — gone within maxIter. With maxIter=1 the peel is
    // truncated after ONE round (ends dropped, middle still there) and
    // converged=false reports the truncation.
    val chain = (1L to 5L).map(i => (i, i + 1))
    val (core, conv) = GraphOps.kCore(chain.toDF("u", "v"), "u", "v", k = 2)
    assert(conv && core.count() == 0L)
    val (cut, conv1) = GraphOps.kCore(chain.toDF("u", "v"), "u", "v", k = 2,
      maxIter = 1)
    assert(!conv1)
    assert(cut.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 3L), (3L, 4L), (4L, 5L)))
  }

  test("labelPropagate: two triangles over a bridge resolve to two communities") {
    // triangles {1,2,3} and {10,11,12} joined by the bridge 3-10, with a
    // duplicate and a self-loop to prove canonicalization. Synchronous
    // majority voting (ties -> min) settles by round 3: the left
    // triangle on label 1, the right on label 3 (hand-replayable).
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L), (10L, 11L),
      (11L, 12L), (10L, 12L), (3L, 1L), (5L, 5L))
    val got = GraphOps.labelPropagate(g.toDF("u", "v"), "u", "v", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagate round 1 is the folded min-neighbor init") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L))
    val got = GraphOps.labelPropagate(g.toDF("u", "v"), "u", "v", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 10L -> 3L))
  }

  test("hitsInt: the item in every basket dominates; max-normalization pins the top score") {
    // baskets: {1,2}, {1,3}, {1,4} — item 1 is in all three, items
    // 2/3/4 in one each. Round 1: a(1)=3e6 → normalized 1e6;
    // a(2..4)=1e6 → 333333. Authority ordering must hold every round
    // and the max must be EXACTLY the scale (floor-div invariant).
    val e = Seq((10L, 1L), (11L, 1L), (12L, 1L), (10L, 2L), (11L, 3L),
      (12L, 4L), (10L, 2L)) // duplicate edge deduped
    val a = GraphOps.hitsInt(e.toDF("o", "p"), "o", "p", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(1L) == 1000000L, s"top authority must equal scale: $a")
    assert(Seq(2L, 3L, 4L).forall(p => a(p) < a(1L)), a.toString)
    assert(a(2L) == a(3L) && a(3L) == a(4L), s"symmetric items differ: $a")
  }
}
