package graft

import org.apache.spark.sql.functions.col

import graft.operators.{GraphOps, Selection}

/** Unit coverage for the q116/q117 kernels: integer Bellman-Ford
  * (packed dist/hops labels) and sort-free exact selection. */
class SsspSelectionSpec extends SparkSpec {
  import spark.implicits._

  private def sssp(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
                   maxIter: Int = 12) = {
    val dirEdges = edges.toDF("u", "v", "w")
    val both = dirEdges.unionByName(
      dirEdges.select(col("v").as("u"), col("u").as("v"), col("w")))
    val (lab, conv) = GraphOps.ssspInt(both, "u", "v", "w",
      sources.toDF("node"), maxIter)
    (lab.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq, conv)
  }

  test("ssspInt takes the lighter multi-hop path over the heavy direct edge") {
    // 1-3 direct costs 10; 1-2-3 costs 2+3=5 — dist must be 5, hops 2
    val (got, conv) = sssp(Seq((1L, 2L, 2L), (2L, 3L, 3L), (1L, 3L, 10L)), Seq(1L))
    assert(conv)
    assert(got == Seq((1L, 0L, 0L), (2L, 2L, 1L), (3L, 5L, 2L)))
  }

  test("ssspInt breaks equal-distance ties toward fewer hops") {
    // two dist-4 routes to node 3: direct (1 hop) and via 2 (2 hops)
    val (got, _) = sssp(Seq((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, 4L)), Seq(1L))
    assert(got.find(_._1 == 3L).get == ((3L, 4L, 1L)))
  }

  test("ssspInt leaves disconnected nodes unlabeled") {
    val (got, conv) = sssp(Seq((1L, 2L, 1L), (7L, 8L, 1L)), Seq(1L))
    assert(conv)
    assert(got.map(_._1) == Seq(1L, 2L))
  }

  test("ssspInt multi-source: every node gets its nearest seed's distance") {
    val (got, _) = sssp(Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 5L)), Seq(1L, 4L))
    assert(got == Seq((1L, 0L, 0L), (2L, 5L, 1L), (3L, 5L, 1L), (4L, 0L, 0L)))
  }

  test("ssspInt reports non-convergence on an undersized iteration budget") {
    // a 6-hop chain cannot settle in 3 rounds; result is still the
    // fixed-R relaxation state both engines would report
    val chain = (1L to 6L).map(i => (i, i + 1, 1L))
    val (_, conv) = sssp(chain, Seq(1L), maxIter = 3)
    assert(!conv)
    val (got, conv2) = sssp(chain, Seq(1L), maxIter = 12)
    assert(conv2 && got.last == ((7L, 6L, 6L)))
  }

  test("ssspInt rejects a key space where n * maxKey reaches 2^63") {
    // weight 2^42 packs to key 2^62 + 1; two labeled nodes already
    // exceed the sum signal's wrap-exactness bound in round 1
    val e = intercept[IllegalArgumentException](sssp(Seq((1L, 2L, 1L << 42)), Seq(1L)))
    assert(e.getMessage.contains("ssspInt") && e.getMessage.contains("< 2^63"))
  }

  test("ssspInt rejects a negative key space") {
    // a negative weight on an undirected edge drives the source below 0
    // in round 2, and with it the maximum key: shift/mask cannot decode it
    val e = intercept[IllegalArgumentException](sssp(Seq((1L, 2L, -1L)), Seq(1L)))
    assert(e.getMessage.contains("ssspInt"))
  }

  test("kthSmallest matches a sorted-array oracle across ranks and duplicates") {
    val xs = Seq(5L, -3L, 5L, 0L, 17L, 5L, -3L, 9L)
    val df = xs.toDF("v")
    val sorted = xs.sorted
    (1 to xs.size).foreach { k =>
      assert(Selection.kthSmallest(df, col("v"), k.toLong) == sorted(k - 1),
        s"rank $k")
    }
  }

  test("kthSmallest rejects out-of-range ranks and empty input") {
    val df = Seq(1L, 2L).toDF("v")
    intercept[IllegalArgumentException](Selection.kthSmallest(df, col("v"), 0L))
    intercept[IllegalArgumentException](Selection.kthSmallest(df, col("v"), 3L))
    intercept[IllegalArgumentException](
      Selection.kthSmallest(Seq.empty[Long].toDF("v"), col("v"), 1L))
  }

  test("discreteRank is ceil(p*n) clamped to >= 1") {
    assert(Selection.discreteRank(100, 1, 2) == 50)
    assert(Selection.discreteRank(101, 1, 2) == 51)
    assert(Selection.discreteRank(3, 1, 100) == 1) // clamp
    assert(Selection.discreteRank(100, 99, 100) == 99)
    assert(Selection.discreteRank(101, 99, 100) == 100)
  }
}
