package graft

import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Bounded top-k native aggregate: window-oracle equivalence on any
  * partition layout, tie handling, null skipping, and the k-bound. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def windowReference(rows: Seq[(String, Long, Long)], k: Int)
      : Seq[(String, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(k).map(r => (g, r._2, r._3))
    }.sortBy(r => (r._1, -r._2, r._3))

  private def viaAgg(rows: Seq[(String, Long, Long)], k: Int, parts: Int)
      : Seq[(String, Long, Long)] =
    rows.toDF("g", "v", "id").repartition(parts)
      .groupBy(col("g")).agg(TopK.topKPairs(col("v"), col("id"), k).as("top"))
      .select(col("g"), explode(col("top")).as("p"))
      .select(col("g"), col("p.v"), col("p.id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(r => (r._1, -r._2, r._3))

  private val rows = Seq(
    ("a", 10L, 1L), ("a", 30L, 2L), ("a", 20L, 3L), ("a", 30L, 4L),
    ("a", 5L, 5L), ("b", 7L, 6L), ("b", 7L, 7L), ("c", 1L, 8L))

  test("top-k equals the row_number window reference on every layout") {
    for (parts <- Seq(1, 3, 8); k <- Seq(1, 2, 3, 10)) {
      assert(viaAgg(rows, k, parts) == windowReference(rows, k),
        s"parts=$parts k=$k")
    }
  }

  test("value ties break toward the smaller id (deterministic set function)") {
    val top2 = viaAgg(rows, 2, 4).filter(_._1 == "a")
    assert(top2 == Seq(("a", 30L, 2L), ("a", 30L, 4L)))
  }

  test("null value or id rows are skipped, not ranked") {
    val df = Seq[(String, Option[Long], Option[Long])](
      ("a", Some(9L), Some(1L)), ("a", None, Some(2L)), ("a", Some(99L), None))
      .toDF("g", "v", "id")
    val got = df.groupBy(col("g"))
      .agg(TopK.topKPairs(col("v"), col("id"), 5).as("top"))
      .select(size(col("top"))).head().getInt(0)
    assert(got == 1)
  }

  test("result array is best-first and bounded by k") {
    val arr = rows.toDF("g", "v", "id").filter(col("g") === "a")
      .agg(TopK.topKPairs(col("v"), col("id"), 3).as("top"))
      .select(col("top.v")).head().getSeq[Long](0)
    assert(arr == Seq(30L, 30L, 20L) && arr.size == 3)
  }

  test("double-ranked top-k equals the window reference on every layout (VERDICT r9 #3)") {
    val drows = Seq(
      ("a", 0.31, 1L), ("a", -0.75, 2L), ("a", 0.31, 3L), ("a", 0.99, 4L),
      ("a", 0.0, 5L), ("b", -0.1, 6L), ("b", -0.1, 7L), ("c", 2.5, 8L),
      // the edges of Double.compare order: -0.0 below 0.0, NaN above +Inf
      ("d", -0.0, 9L), ("d", 0.0, 10L), ("d", Double.PositiveInfinity, 11L),
      ("d", Double.NegativeInfinity, 12L), ("d", Double.NaN, 13L),
      ("d", Double.MinPositiveValue, 14L), ("d", -Double.MaxValue, 15L),
      ("d", -0.0, 16L), ("d", Double.NaN, 17L), ("d", 0.0, 18L))
    val best: Ordering[(String, Double, Long)] = (a, b) => {
      val byV = java.lang.Double.compare(b._2, a._2)
      if (byV != 0) byV else java.lang.Long.compare(a._3, b._3)
    }
    val byGroup = Ordering.by[(String, Double, Long), String](_._1).orElse(best)
    // values compared by their bits: tuple == holds -0.0 == 0.0 and NaN != NaN
    def bits(rs: Seq[(String, Double, Long)]) =
      rs.map(r => (r._1, java.lang.Double.doubleToLongBits(r._2), r._3))
    def ref(k: Int) =
      bits(drows.groupBy(_._1).values.flatMap(_.sorted(best).take(k)).toSeq.sorted(byGroup))
    for (parts <- Seq(1, 3, 8); k <- Seq(1, 2, 3, 10)) {
      val got = drows.toDF("g", "v", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(TopK.topKPairs(col("v"), col("id"), k).as("top"))
        .select(col("g"), explode(col("top")).as("p"))
        .select(col("g"), col("p.v"), col("p.id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSeq.sorted(byGroup)
      assert(bits(got) == ref(k), s"parts=$parts k=$k")
    }
  }

  test("both SQL names reject a STRING value, an INT id or the other name's value type") {
    Seq(("x", 1L, 1.0, 7L, 7)).toDF("s", "l", "d", "id", "i")
      .createOrReplaceTempView("tk_bad")
    for ((name, v, other) <- Seq(("top_k_pairs_long", "l", "d"), ("top_k_pairs_double", "d", "l"));
         args <- Seq("s, id", s"$v, i", s"$other, id")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $name($args, 2) AS top FROM tk_bad")
      }
      assert(e.getMessage.contains(name), s"$name($args): ${e.getMessage}")
    }
  }

  test("top_k_pairs_double is SQL-registered with ties toward the smaller id") {
    graft.plans.GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT top_k_pairs_double(v, id, 2) AS top FROM VALUES
         (CAST(1.5 AS DOUBLE), 9L), (CAST(1.5 AS DOUBLE), 3L),
         (CAST(0.5 AS DOUBLE), 1L) AS t(v, id)""")
      .select(col("top.id")).head().getSeq[Long](0)
    assert(got == Seq(3L, 9L))
  }

  test("q124 conservation: attributed cents equal converted cents") {
    val sfDir = "/root/testdata/sf0.001"
    val attributed = Queries.queries("q124_attribution")(spark, sfDir)
      .agg(sum(col("attr_cents"))).head().getLong(0)
    // every purchase starts its own conversion group, so ALL purchase
    // cents must be conserved across channels (incl. 'direct')
    val ev = Tables.events(spark, sfDir)
    val total = ev.filter(col("event_type") === "purchase")
      .select(graft.functions.Exact.quantize(col("value")).as("cents"))
      .filter(col("cents") >= 0L)
      .agg(sum(col("cents"))).head().getLong(0)
    assert(attributed == total,
      s"attribution must conserve value: $attributed != $total")
  }
}
