package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.operators.{Bootstrap, GraphOps, Prefix, Ranking, Sampling, Selection}

/** Analytics tier (q116-q122): graph distances, sort-free exact
  * selection, reshape (pivot/unpivot), ntile segmentation, CDC snapshot
  * diff, and bounded-domain exact group quantiles — the operations a
  * warehouse user reaches for right after the q109-q112 structural tier.
  * All DuckDB-oracle-checked under the suite determinism contract
  * (integer-space money/distances, DATE outputs, total ORDER BY).
  */
object AnalyticsQueries {

  // --- q116: multi-hop shortest paths over the co-purchase graph --------
  // "How close is every part to the catalog's anchor part?" — the
  // supply-chain / recommendation reachability question. Edge weight is
  // CLOSENESS-inverted co-purchase multiplicity (maxm+1-m): strongly
  // co-purchased pairs are short hops. Spark runs GraphOps.ssspInt
  // (synchronous integer Bellman-Ford, one join+agg shuffle per round);
  // the oracle unrolls the same FIXED-R rounds as generated CTEs and
  // both report the converged flag, so an undersized R is observable,
  // not silent (the q76/q112 discipline). Output is the hop-distance
  // histogram — small and stable — plus a hops=-1 row for unreached
  // nodes (none when the graph is connected, but stated, not assumed).
  private val SsspRounds = 12

  private def ssspOracle: String = {
    val hp = GraphOps.HopPack
    val rounds = (0 until SsspRounds).map { i =>
      s"""r${i + 1} AS MATERIALIZED (
            SELECT node, min(key) AS key FROM (
              SELECT node, key FROM r$i
              UNION ALL
              SELECT e.t AS node, r.key + e.step AS key
              FROM r$i r JOIN e ON e.s = r.node)
            GROUP BY 1)"""
    }.mkString(",\n          ")
    val R = SsspRounds
    s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      und AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS m
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      mx AS (SELECT max(m) AS maxm FROM und),
      e AS MATERIALIZED (
        SELECT u AS s, v AS t, (maxm + 1 - m) * $hp + 1 AS step FROM und, mx
        UNION ALL
        SELECT v AS s, u AS t, (maxm + 1 - m) * $hp + 1 AS step FROM und, mx),
      r0 AS (SELECT min(u) AS node, CAST(0 AS BIGINT) AS key FROM und),
      $rounds,
      conv AS (SELECT
        (SELECT count(*) FROM r${R - 1}) = (SELECT count(*) FROM r$R) AND
        (SELECT COALESCE(sum(key), 0) FROM r${R - 1}) =
        (SELECT COALESCE(sum(key), 0) FROM r$R) AS converged),
      lab AS (SELECT node, key // $hp AS dist, key % $hp AS hops FROM r$R),
      hist AS (
        SELECT hops, CAST(count(*) AS BIGINT) AS n_nodes,
               min(dist) AS min_dist, max(dist) AS max_dist,
               CAST(sum(dist) AS BIGINT) AS sum_dist
        FROM lab GROUP BY 1),
      nodes AS (SELECT count(*) AS tot FROM
        (SELECT u AS nn FROM und UNION SELECT v AS nn FROM und) t),
      unreached AS (
        SELECT CAST(-1 AS BIGINT) AS hops,
               (SELECT tot FROM nodes) - (SELECT count(*) FROM lab) AS n_nodes,
               CAST(0 AS BIGINT) AS min_dist, CAST(0 AS BIGINT) AS max_dist,
               CAST(0 AS BIGINT) AS sum_dist)
      SELECT h.hops, h.n_nodes, h.min_dist, h.max_dist, h.sum_dist,
             conv.converged
      FROM (SELECT * FROM hist UNION ALL SELECT * FROM unreached) h, conv
      ORDER BY hops ASC"""
  }

  private val q116 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      // per-order set aggregate + map-side pair explode, no self-join
      val und = GraphOps.coOccurrenceCounts(li, "o", "p")
        .localCheckpoint() // eager: read for weights, source, and node set
      val mx = und.agg(max(col("m")).as("maxm"))
      val wEdges = und.crossJoin(broadcast(mx)) // single-row broadcast
        .select(col("u"), col("v"), (col("maxm") + 1L - col("m")).as("w"))
      val edges = wEdges.unionByName(
        wEdges.select(col("v").as("u"), col("u").as("v"), col("w")))
      val sources = und.agg(min(col("u")).as("node")) // u < v ⇒ global min
      val (lab, conv) = GraphOps.ssspInt(edges, "u", "v", "w", sources,
        maxIter = SsspRounds)
      val hist = lab.groupBy(col("hops"))
        .agg(count(lit(1)).as("n_nodes"), min(col("dist")).as("min_dist"),
          max(col("dist")).as("max_dist"), sum(col("dist")).as("sum_dist"))
      val tot = und.select(explode(array(col("u"), col("v"))).as("nn"))
        .agg(countDistinct(col("nn")).as("tot"))
      val reached = lab.agg(count(lit(1)).as("r"))
      val unreachedRow = tot.crossJoin(reached)
        .select(lit(-1L).as("hops"), (col("tot") - col("r")).as("n_nodes"),
          lit(0L).as("min_dist"), lit(0L).as("max_dist"),
          lit(0L).as("sum_dist"))
      hist.unionByName(unreachedRow)
        .withColumn("converged", lit(conv))
        .orderBy(col("hops").asc)
    },
    Some(ssspOracle))

  // --- q117: exact global quantiles WITHOUT a global sort ---------------
  // The third point in the percentile design space (q36 buffers whole
  // groups, q66 sketches): EXACT selection by value-domain bisection —
  // O(log |domain|) cached-column COUNT passes, O(1) driver state, no
  // shuffle at all (operators/Selection.scala). This is the only shape
  // that answers "the exact 100 TB median" without sorting 100 TB.
  // Ranks use the lower-discrete convention ceil(p*n), mirrored
  // literally in the oracle's row_number arithmetic.
  private val q117 = Q(
    (spark, dir) => {
      val v = Tables.lineitem(spark, dir)
        .select(Exact.quantize(col("l_extendedprice")).as("cents"))
        .persist()
      try {
        val n = v.count()
        val ranks = Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L))
          .map { case (pn, pd) => Selection.discreteRank(n, pn, pd) }
        // ONE multi-probe selection: all four ranks share every scan
        val got = Selection.kthSmallestMulti(v, col("cents"), ranks.distinct)
        val Seq(p25, p50, p75, p99) = ranks.map(got)
        val s = spark
        import s.implicits._
        Seq((n, p25, p50, p75, p99))
          .toDF("n", "p25_cents", "p50_cents", "p75_cents", "p99_cents")
      } finally v.unpersist()
    },
    Some("""
      WITH v AS (SELECT CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
                 FROM lineitem),
      r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
                   count(*) OVER () AS n
            FROM v)
      SELECT max(n) AS n,
             max(CASE WHEN rn = GREATEST(1, (1 * n + 3) // 4) THEN cents END) AS p25_cents,
             max(CASE WHEN rn = GREATEST(1, (1 * n + 1) // 2) THEN cents END) AS p50_cents,
             max(CASE WHEN rn = GREATEST(1, (3 * n + 3) // 4) THEN cents END) AS p75_cents,
             max(CASE WHEN rn = GREATEST(1, (99 * n + 99) // 100) THEN cents END) AS p99_cents
      FROM r"""))

  // --- q118: PIVOT — monthly revenue by region as columns ---------------
  // The reporting reshape the reference's summary.md renders by hand.
  // Spark's groupBy().pivot() with an EXPLICIT value list — the list
  // keeps the plan a single hash aggregate (no extra distinct-values
  // job, a real scan at 100 TB) with one conditional-sum column per
  // region, exactly what the oracle states as CASE sums. Money stays in
  // integer cents (conditional Exact split-long sums).
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def regionCol(r: String): String =
    r.toLowerCase.replace(' ', '_') + "_cents"

  /** Orders enriched with region name: one fact shuffle join to
    * customer, then broadcast nation/region (25 + 5 rows). */
  private def ordersWithRegion(spark: org.apache.spark.sql.SparkSession,
                               dir: String) = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("r_name"), Exact.quantize(col("o_totalprice")).as("cents"))
  }

  private def pivotOracleBase: String = s"""
      WITH base AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               r_name, CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey)"""

  private val q118 = Q(
    (spark, dir) => {
      val wide = ordersWithRegion(spark, dir)
        .groupBy(col("month"))
        .pivot("r_name", Regions)
        .agg(Exact.exactIntSum(col("cents")).cast("long"))
      wide.select(col("month") +:
          Regions.map(r => coalesce(col(s"`$r`"), lit(0L)).as(regionCol(r))): _*)
        .orderBy(col("month").asc)
    },
    Some(s"""$pivotOracleBase
      SELECT month, ${Regions.map(r =>
        s"COALESCE(CAST(sum(CASE WHEN r_name = '$r' THEN cents END) AS BIGINT), 0) AS ${regionCol(r)}")
        .mkString(",\n             ")}
      FROM base GROUP BY month
      ORDER BY month ASC"""))

  // --- q119: UNPIVOT — the wide frame melted back to long form ----------
  // Round-trips q118's wide result through `stack` (Spark's unpivot):
  // the output grain is the FULL month x region grid — a month with no
  // revenue in a region yields an explicit 0 row (what reshape
  // produces), which the oracle states as a grid cross join, NOT a
  // plain GROUP BY (which would omit the row). stack is a map-side
  // generator: no shuffle beyond q118's aggregate.
  private val q119 = Q(
    (spark, dir) => {
      val wide = ordersWithRegion(spark, dir)
        .groupBy(col("month"))
        .pivot("r_name", Regions)
        .agg(Exact.exactIntSum(col("cents")).cast("long"))
      val stackArgs = Regions.map(r =>
        s"'${r.replace("'", "''")}', coalesce(`$r`, CAST(0 AS BIGINT))")
        .mkString(", ")
      wide.select(col("month"),
          expr(s"stack(${Regions.size}, $stackArgs) AS (r_name, revenue_cents)"))
        .orderBy(col("month").asc, col("r_name").asc)
    },
    Some(s"""$pivotOracleBase,
      agg AS (SELECT month, r_name, CAST(sum(cents) AS BIGINT) AS cents
              FROM base GROUP BY 1, 2),
      months AS (SELECT DISTINCT month FROM base),
      grid AS (SELECT month, r AS r_name FROM months
               CROSS JOIN (VALUES ${Regions.map(r => s"('$r')").mkString(", ")}) t(r))
      SELECT g.month, g.r_name, COALESCE(a.cents, 0) AS revenue_cents
      FROM grid g LEFT JOIN agg a ON g.month = a.month AND g.r_name = a.r_name
      ORDER BY g.month ASC, g.r_name ASC"""))

  // --- q120: RFM customer segmentation via ntile ------------------------
  // Recency/frequency/monetary quartiles — the classic CRM cut. ntile
  // needs a TOTAL order (ties broken by custkey) to be deterministic;
  // with one, its floor/remainder bucket arithmetic is SQL-standard and
  // identical in both engines. The Spark side does NOT use a global
  // ntile window (one partition holding every customer — the q63
  // anti-pattern): each dimension's quartile comes from the two-pass
  // distributed exact rank (operators/Ranking) + ntileFromRank's
  // integer bucket arithmetic, so the largest sort is a range
  // partition, never the whole customer grain. DESC dimensions rank
  // ascending on the negated column (the q92 discipline).
  private val q120 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val mx = o.agg(max(col("o_orderdate")).as("maxd"))
      val perCust = o.crossJoin(broadcast(mx))
        .groupBy(col("o_custkey"))
        .agg(datediff(max(col("maxd")), max(col("o_orderdate")))
            .cast("long").as("recency_days"),
          count(lit(1)).as("freq"),
          Exact.exactIntSum(Exact.quantize(col("o_totalprice")))
            .cast("long").as("mon_cents"))
        .withColumn("g", lit(0L))
        .withColumn("neg_freq", -col("freq"))
        .withColumn("neg_mon", -col("mon_cents"))
      val ranked = Seq(
        (Seq("recency_days", "o_custkey"), "rk_r", "n_tot"),
        (Seq("neg_freq", "o_custkey"), "rk_f", "n_f"),
        (Seq("neg_mon", "o_custkey"), "rk_m", "n_m"))
        .foldLeft(perCust) { case (df, (ord, rk, sz)) =>
          operators.Ranking.rankInGroup(df, "g", ord,
            rankName = rk, sizeName = sz)
        }
      val seg = ranked.select(col("o_custkey"), col("recency_days"),
        col("freq"), col("mon_cents"),
        operators.Ranking.ntileFromRank(col("rk_r"), col("n_tot"), 4)
          .cast("long").as("r_tile"),
        operators.Ranking.ntileFromRank(col("rk_f"), col("n_tot"), 4)
          .cast("long").as("f_tile"),
        operators.Ranking.ntileFromRank(col("rk_m"), col("n_tot"), 4)
          .cast("long").as("m_tile"))
      seg.groupBy((col("r_tile") * 100 + col("f_tile") * 10 + col("m_tile"))
          .as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          Exact.exactIntSum(col("mon_cents")).cast("long").as("sum_cents"),
          min(col("recency_days")).as("min_recency"),
          max(col("freq")).as("max_freq"))
        .orderBy(col("segment").asc)
    },
    Some("""
      WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
      per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', max(o_orderdate), max(maxd)) AS BIGINT)
                 AS recency_days,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
                 AS mon_cents
        FROM orders, mx GROUP BY o_custkey),
      seg AS (
        SELECT o_custkey, recency_days, freq, mon_cents,
               CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC)
                 AS BIGINT) AS r_tile,
               CAST(ntile(4) OVER (ORDER BY freq DESC, o_custkey ASC)
                 AS BIGINT) AS f_tile,
               CAST(ntile(4) OVER (ORDER BY mon_cents DESC, o_custkey ASC)
                 AS BIGINT) AS m_tile
        FROM per_cust)
      SELECT r_tile * 100 + f_tile * 10 + m_tile AS segment,
             count(*) AS n_customers,
             CAST(sum(mon_cents) AS BIGINT) AS sum_cents,
             min(recency_days) AS min_recency, max(freq) AS max_freq
      FROM seg GROUP BY 1 ORDER BY segment ASC"""))

  // --- q121: CDC snapshot diff ------------------------------------------
  // "What changed between the 1998 close and the 2000 close?" — the diff
  // a swap-write gold table (reference load.py) cannot answer and an
  // SCD2 table (q109) answers only per-attribute. Keyed full-outer join
  // of two as-of aggregate snapshots, classified added / changed /
  // unchanged (removed cannot occur in an append-only feed — the shape
  // still states it). Both snapshots shuffle on the SAME key, so AQE
  // plans one co-partitioned exchange each — at 100 TB this is the
  // standard CDC reconciliation join, linear in the key grain.
  private val q121 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      def snap(cut: String) = o
        .filter(col("o_orderdate") < lit(cut).cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.exactIntSum(Exact.quantize(col("o_totalprice")))
            .cast("long").as("cents"))
      val old = snap("1999-01-01")
        .select(col("o_custkey"), col("n_orders").as("old_n"),
          col("cents").as("old_cents"))
      val neu = snap("2001-01-01")
        .select(col("o_custkey"), col("n_orders").as("new_n"),
          col("cents").as("new_cents"))
      val kind = when(col("old_n").isNull, "added")
        .when(col("new_n").isNull, "removed")
        .when(col("old_n") =!= col("new_n")
          || col("old_cents") =!= col("new_cents"), "changed")
        .otherwise("unchanged")
      old.join(neu, Seq("o_custkey"), "full_outer")
        .select(kind.as("kind"),
          (coalesce(col("new_n"), lit(0L))
            - coalesce(col("old_n"), lit(0L))).as("d_orders"),
          (coalesce(col("new_cents"), lit(0L))
            - coalesce(col("old_cents"), lit(0L))).as("d_cents"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_keys"),
          Exact.exactIntSum(col("d_orders")).cast("long").as("delta_orders"),
          Exact.exactIntSum(col("d_cents")).cast("long").as("delta_cents"))
        .orderBy(col("kind").asc)
    },
    Some("""
      WITH old AS (
        SELECT o_custkey, count(*) AS old_n,
               sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS old_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1),
      neu AS (
        SELECT o_custkey, count(*) AS new_n,
               sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS new_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
        GROUP BY 1),
      d AS (
        SELECT CASE WHEN old_n IS NULL THEN 'added'
                    WHEN new_n IS NULL THEN 'removed'
                    WHEN old_n <> new_n OR old_cents <> new_cents THEN 'changed'
                    ELSE 'unchanged' END AS kind,
               COALESCE(new_n, 0) - COALESCE(old_n, 0) AS d_orders,
               COALESCE(new_cents, 0) - COALESCE(old_cents, 0) AS d_cents
        FROM old FULL OUTER JOIN neu USING (o_custkey))
      SELECT kind, count(*) AS n_keys,
             CAST(sum(d_orders) AS BIGINT) AS delta_orders,
             CAST(sum(d_cents) AS BIGINT) AS delta_cents
      FROM d GROUP BY 1 ORDER BY kind ASC"""))

  // --- q122: exact per-group quantiles over a BOUNDED domain ------------
  // Completes the percentile triptych's group dimension: when the value
  // domain is bounded (l_quantity ∈ 1..50 — flags, scores, star
  // ratings), the exact group quantile needs NO per-group buffer and NO
  // bisection loop: ONE (group, value) histogram aggregate, a window
  // cumsum over ≤ |domain| rows per group, and a conditional min. The
  // shuffle is bounded by |groups| x |domain| — independent of row
  // count, the 100 TB argument. Ranks use the same lower-discrete
  // convention as q117, stated identically in the oracle.
  private val q122 = Q(
    (spark, dir) => {
      val h = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("g")).orderBy(col("q").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
      cum.groupBy(col("g"), col("n"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("q")))
            .as("p50_qty"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("q")))
            .as("p90_qty"))
        .select(col("g"), col("n"), col("p50_qty"), col("p90_qty"))
        .orderBy(col("g").asc)
    },
    Some("""
      WITH h AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
               count(*) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT g, q, c,
               sum(c) OVER (PARTITION BY g ORDER BY q ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY g) AS n
        FROM h)
      SELECT g, CAST(n AS BIGINT) AS n,
             min(CASE WHEN cum >= (n + 1) // 2 THEN q END) AS p50_qty,
             min(CASE WHEN cum >= (9 * n + 9) // 10 THEN q END) AS p90_qty
      FROM cum GROUP BY g, n ORDER BY g ASC"""))

  // --- q125: top-k per group via the bounded native aggregate -----------
  // "Top 3 orders per priority" — the report every warehouse serves.
  // The standard row_number window + filter sorts every group's full
  // slice (and a 5-value partition key funnels the corpus through 5
  // tasks); plans/TopKPairs instead carries k 16-byte pairs per
  // group per task, combines MAP-SIDE, and merges as a bounded ordered
  // union — the shuffle moves |groups| x k pairs, not the table. The
  // oracle IS the window form, so the driver hash-checks the native
  // aggregate against the semantics it replaces.
  private val q125 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir).select(
        col("o_orderpriority").as("priority"),
        Exact.quantize(col("o_totalprice")).as("cents"),
        col("o_orderkey"))
      o.groupBy(col("priority"))
        .agg(operators.TopK.topKPairs(col("cents"), col("o_orderkey"), 3)
          .as("top"))
        .select(col("priority"), posexplode(col("top")))
        .select(col("priority"), (col("pos") + 1).cast("long").as("rank"),
          col("col.v").as("cents"), col("col.id").as("o_orderkey"))
        .orderBy(col("priority").asc, col("rank").asc)
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority AS priority,
               CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
               o_orderkey,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(round(o_totalprice * 100.0)
                                            AS BIGINT) DESC,
                                           o_orderkey ASC) AS rank
        FROM orders)
      SELECT priority, CAST(rank AS BIGINT) AS rank, cents, o_orderkey
      FROM o WHERE rank <= 3
      ORDER BY priority ASC, rank ASC"""))

  // --- q128: referential-integrity audit --------------------------------
  // The warehouse health check a medallion pipeline runs before
  // promoting silver→gold: for every FK relationship, orphaned child
  // keys (anti-join child→parent) and unreferenced parent keys
  // (anti-join parent→child). Both sides reduce to DISTINCT key sets
  // first, so every join is key-only — the shuffle carries keys, never
  // rows; at 100 TB this is |keys| work regardless of fact width.
  // Orphans are 0 on consistent TPC-H data (the audit PROVES it);
  // unreferenced counts are the non-trivial side (parts never ordered,
  // customers without orders).
  private val q128 = Q(
    (spark, dir) => {
      def keys(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(col(c).as("k")).distinct()
      val rels = Seq(
        ("lineitem.l_orderkey->orders.o_orderkey",
          keys(Tables.lineitem(spark, dir), "l_orderkey"),
          keys(Tables.orders(spark, dir), "o_orderkey")),
        ("lineitem.l_partkey->part.p_partkey",
          keys(Tables.lineitem(spark, dir), "l_partkey"),
          keys(Tables.part(spark, dir), "p_partkey")),
        ("lineitem.l_suppkey->supplier.s_suppkey",
          keys(Tables.lineitem(spark, dir), "l_suppkey"),
          keys(Tables.supplier(spark, dir), "s_suppkey")),
        ("orders.o_custkey->customer.c_custkey",
          keys(Tables.orders(spark, dir), "o_custkey"),
          keys(Tables.customer(spark, dir), "c_custkey")),
        ("customer.c_nationkey->nation.n_nationkey",
          keys(Tables.customer(spark, dir), "c_nationkey"),
          keys(Tables.nation(spark, dir), "n_nationkey")))
      rels.map { case (name, child, parent) =>
        val orphans = child.join(parent, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_keys"))
        val unreferenced = parent.join(child, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_unreferenced_parents"))
        val sizes = child.agg(count(lit(1)).as("n_child_keys"))
          .crossJoin(parent.agg(count(lit(1)).as("n_parent_keys")))
        sizes.crossJoin(orphans).crossJoin(unreferenced)
          .select(lit(name).as("relationship"), col("n_child_keys"),
            col("n_parent_keys"), col("n_orphan_keys"),
            col("n_unreferenced_parents"))
      }.reduce(_ unionByName _).orderBy(col("relationship").asc)
    },
    Some {
      val rels = Seq(
        ("lineitem.l_orderkey->orders.o_orderkey",
          "SELECT DISTINCT l_orderkey AS k FROM lineitem",
          "SELECT DISTINCT o_orderkey AS k FROM orders"),
        ("lineitem.l_partkey->part.p_partkey",
          "SELECT DISTINCT l_partkey AS k FROM lineitem",
          "SELECT DISTINCT p_partkey AS k FROM part"),
        ("lineitem.l_suppkey->supplier.s_suppkey",
          "SELECT DISTINCT l_suppkey AS k FROM lineitem",
          "SELECT DISTINCT s_suppkey AS k FROM supplier"),
        ("orders.o_custkey->customer.c_custkey",
          "SELECT DISTINCT o_custkey AS k FROM orders",
          "SELECT DISTINCT c_custkey AS k FROM customer"),
        ("customer.c_nationkey->nation.n_nationkey",
          "SELECT DISTINCT c_nationkey AS k FROM customer",
          "SELECT DISTINCT n_nationkey AS k FROM nation"))
      rels.map { case (name, child, parent) =>
        s"""SELECT '$name' AS relationship,
              (SELECT count(*) FROM ($child) c) AS n_child_keys,
              (SELECT count(*) FROM ($parent) p) AS n_parent_keys,
              (SELECT count(*) FROM ($child) c
               WHERE k NOT IN (SELECT k FROM ($parent) p)) AS n_orphan_keys,
              (SELECT count(*) FROM ($parent) p
               WHERE k NOT IN (SELECT k FROM ($child) c))
                AS n_unreferenced_parents"""
      }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship ASC")
    })

  // --- q130: equi-depth bucketing from sort-free exact cut points -------
  // Feature binning / histogram-equalization over a continuous column:
  // 8 buckets holding (as nearly as duplicates allow) n/8 rows each.
  // The cut points are q117's multi-probe Selection (7 ranks answered
  // in ~10 cached scans — NO global sort, NO ntile window over the
  // corpus), and bucket assignment is a broadcast-free literal CASE
  // chain (7 comparisons, whole-stage codegen). The deterministic rule
  // "bucket b ⇔ x ≤ cut_b, last bucket open-ended" is stated
  // identically in the oracle, which derives the same cuts by
  // row_number selection. The shuffle story at 100 TB: one narrow
  // column cached, ~10 aggregate passes, one final 8-group aggregate.
  private val EqdB = 8

  private val q130 = Q(
    (spark, dir) => {
      val v = Tables.lineitem(spark, dir)
        .select(Exact.quantize(col("l_extendedprice")).as("cents"))
        .persist()
      try {
        val n = v.count()
        val ranks = (1 until EqdB).map(i =>
          Selection.discreteRank(n, i.toLong, EqdB.toLong))
        val got = Selection.kthSmallestMulti(v, col("cents"), ranks.distinct)
        val cuts = ranks.map(got) // ascending by construction
        val bucket = cuts.zipWithIndex.foldRight(lit(EqdB.toLong)) {
          case ((c, i), acc) =>
            when(col("cents") <= c, lit((i + 1).toLong)).otherwise(acc)
        }
        v.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("lo_cents"),
            max(col("cents")).as("hi_cents"),
            Exact.exactIntSum(col("cents")).cast("long").as("sum_cents"))
          .orderBy(col("bucket").asc)
      } finally v.unpersist()
    },
    Some {
      val cutDefs = (1 until EqdB).map(i =>
        s"max(CASE WHEN rn = GREATEST(1, ($i * n + ${EqdB - 1}) // $EqdB) " +
          s"THEN cents END) AS c$i").mkString(",\n               ")
      val chain = (1 until EqdB).map(i =>
        s"WHEN v.cents <= cuts.c$i THEN $i").mkString(" ")
      s"""
      WITH v AS (SELECT CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
                 FROM lineitem),
      r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
                   count(*) OVER () AS n
            FROM v),
      cuts AS (SELECT $cutDefs FROM r)
      SELECT CAST(CASE $chain ELSE $EqdB END AS BIGINT) AS bucket,
             count(*) AS n_rows, min(v.cents) AS lo_cents,
             max(v.cents) AS hi_cents,
             CAST(sum(v.cents) AS BIGINT) AS sum_cents
      FROM v CROSS JOIN cuts
      GROUP BY 1 ORDER BY bucket ASC"""
    })

  // --- q133: association rules over co-purchase baskets -----------------
  // Market-basket mining (Agrawal-Srikant): for every directed rule
  // ante → cons emit support m (baskets containing both), confidence
  // m/n_ante, and lift m·N/(n_ante·n_cons). All ratios are FLOOR-SCALED
  // integers (ppm) so Spark and the oracle agree bit-for-bit: conf_ppm
  // = (m·1e6) div n_ante, and lift_ppm = (conf_ppm·N) div n_cons — the
  // two-step floor keeps every intermediate ≤ 1e6·N, overflow-safe to
  // ~9e12 baskets (vs m·N·1e6 in one step which overflows at ~1e7).
  // Floor-of-floor differs from floor-of-product by at most 1 ppm, and
  // BOTH sides compute the identical expression, so the comparison is
  // exact, not approximately-close.
  //
  // Scale shape: the basket-pair stream comes from
  // GraphOps.coOccurrenceCounts (one set aggregate + map-side i<j
  // explode — no self-join); item supports are one groupBy over the
  // distinct (basket, item) pairs; the rule table is 2·|pairs| rows
  // joined against the |items|-sized support table (AQE broadcasts it
  // when small, falls back to a key shuffle when the catalog is huge).
  // The min-support filter prunes BEFORE the join. Top-k serves via
  // one bounded sort.
  private val RuleMinSupport = 3
  private val q133 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val items = li.distinct().groupBy(col("p")).agg(count(lit(1)).as("n"))
      val nBaskets = li.select(col("o")).distinct()
        .agg(count(lit(1)).as("nb"))
      val pairs = GraphOps.coOccurrenceCounts(li, "o", "p")
        .filter(col("m") >= RuleMinSupport)
      val rules = pairs.select(col("u").as("ante"), col("v").as("cons"), col("m"))
        .unionByName(pairs.select(col("v").as("ante"), col("u").as("cons"), col("m")))
      rules
        .join(items.select(col("p").as("ante"), col("n").as("n_ante")), Seq("ante"))
        .join(items.select(col("p").as("cons"), col("n").as("n_cons")), Seq("cons"))
        .crossJoin(broadcast(nBaskets)) // single-row broadcast
        .withColumn("conf_ppm",
          Sampling.ldiv(col("m") * lit(1000000L), col("n_ante")))
        .withColumn("lift_ppm",
          Sampling.ldiv(col("conf_ppm") * col("nb"), col("n_cons")))
        .select(col("ante"), col("cons"), col("m"), col("n_ante"),
          col("n_cons"), col("conf_ppm"), col("lift_ppm"))
        .orderBy(col("conf_ppm").desc, col("lift_ppm").desc,
          col("ante").asc, col("cons").asc)
        .limit(15)
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      items AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
      nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nb FROM li),
      pairs AS (
        SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS m
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= $RuleMinSupport),
      rules AS (
        SELECT u AS ante, v AS cons, m FROM pairs
        UNION ALL
        SELECT v AS ante, u AS cons, m FROM pairs),
      scored AS (
        SELECT r.ante, r.cons, r.m, ia.n AS n_ante, ic.n AS n_cons,
               (r.m * 1000000) // ia.n AS conf_ppm
        FROM rules r
        JOIN items ia ON r.ante = ia.p
        JOIN items ic ON r.cons = ic.p)
      SELECT ante, cons, m, n_ante, n_cons, conf_ppm,
             (conf_ppm * (SELECT nb FROM nb)) // n_cons AS lift_ppm
      FROM scored
      ORDER BY conf_ppm DESC NULLS LAST, lift_ppm DESC NULLS LAST,
               ante ASC NULLS FIRST, cons ASC NULLS FIRST
      LIMIT 15"""))

  // --- q137: label-propagation communities over the co-purchase graph ---
  // Community detection (Raghavan et al. 2007) — the "what sells
  // together as a THEME" question that k-core (density) and components
  // (reachability) don't answer. GraphOps.labelPropagate runs R=4
  // synchronous majority-vote rounds, ties to the smallest label
  // (deterministic, layout-independent); the oracle unrolls the same
  // rounds as generated CTEs (round 1 is the folded min-neighbor init —
  // distinct neighbors hold distinct id-labels, so majority-with-min-tie
  // degenerates to min). Edges are SPARSIFIED to multiplicity >= 2
  // (co-purchased in at least two orders): the raw co-occurrence graph
  // is a near-clique where LPA collapses to 2 blobs; repeat-signal
  // edges carry the actual affinity (349 communities vs 2 at sf0.01) —
  // the same backbone-extraction step a production pipeline applies
  // before any community pass. Output: the 20 largest communities.
  //
  // 100 TB posture: per round one edges⋈labels shuffle join + two hash
  // aggs (vote counts, packed-struct argmax) — the Pregel superstep
  // shape with a constant round count; no window, no per-node sort, no
  // driver loop beyond R=4. The multiplicity filter also shrinks every
  // round's join input by ~30x before the loop starts.
  private val LpRounds = 4
  private val LpK = 20
  private val LpMinM = 2

  private def labelPropOracle: String = {
    val rounds = (2 to LpRounds).map { i =>
      s"""v$i AS MATERIALIZED (
            SELECT e.t AS node, l.lbl, count(*) AS c
            FROM e JOIN l${i - 1} l ON e.s = l.node GROUP BY 1, 2),
          l$i AS MATERIALIZED (
            SELECT node, lbl FROM v$i
            QUALIFY row_number() OVER (
              PARTITION BY node ORDER BY c DESC, lbl ASC) = 1)"""
    }.mkString(",\n          ")
    s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      p AS MATERIALIZED (SELECT a.p AS u, b.p AS v
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= $LpMinM),
      e AS MATERIALIZED (SELECT u AS s, v AS t FROM p
           UNION ALL SELECT v AS s, u AS t FROM p),
      l1 AS MATERIALIZED (SELECT t AS node, min(s) AS lbl FROM e GROUP BY 1),
      $rounds
      SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size
      FROM l$LpRounds
      GROUP BY 1
      ORDER BY size DESC NULLS LAST, community ASC
      LIMIT $LpK"""
  }

  private val q137 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = GraphOps.coOccurrenceCounts(li, "o", "p")
        .filter(col("m") >= LpMinM)
      // coOccurrenceCounts pairs are distinct/canonical; the m-filter
      // preserves that — skip the operator's no-op dedup exchange
      GraphOps.labelPropagate(pairs, "u", "v", iters = LpRounds,
          canonical = true)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc_nulls_last, col("community").asc)
        .limit(LpK)
    },
    Some(labelPropOracle))

  // --- q145: link prediction by resource allocation ---------------------
  // "Which parts are NOT yet co-purchased but should be?" — the
  // recommendation question communities (q137) and rules (q133, which
  // only rank EXISTING edges) don't answer. Score for a non-edge (x,y)
  // is the Zhou-Lü-Zhang resource-allocation index Σ_c 1/deg(c) over
  // common neighbors c, FLOOR-SCALED to picos (1e12 div deg) so Spark
  // and the oracle agree bit-for-bit — the 1/deg weighting also means
  // hub centers contribute the least, which is exactly why capping or
  // dropping super-hubs at 100 TB loses almost no score mass.
  //
  // Scale shape: wedges explode from each center's adjacency SET
  // (one set aggregate, then a map-side i<j explode — Σ deg²/2 rows,
  // never a 3-way join); deg(c) = size of the same set, so no separate
  // degree table or join; existing edges leave via one left_anti
  // shuffle on (x,y); the candidate rollup is one groupBy. Hub blowup
  // is governed by the same multiplicity sparsification as q137
  // (m >= 2), the knob a 100 TB run would tighten first.
  private val RaK = 15
  private val q145 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = GraphOps.coOccurrenceCounts(li, "o", "p")
        .filter(col("m") >= LpMinM)
        .select(col("u"), col("v"))
      val e = pairs.select(col("u").as("s"), col("v").as("t"))
        .unionByName(pairs.select(col("v").as("s"), col("u").as("t")))
      val adj = e.groupBy(col("s"))
        .agg(sort_array(collect_set(col("t"))).as("ts"))
      val wedges = adj
        .select(Sampling.ldiv(lit(1000000000000L),
          size(col("ts")).cast("long")).as("w"), col("ts"))
        .select(col("w"), posexplode(col("ts")).as(Seq("i", "x")), col("ts"))
        .select(col("w"), col("x"),
          explode(slice(col("ts"), col("i") + 2,
            greatest(size(col("ts")) - col("i") - 1, lit(0)))).as("y"))
      wedges
        .join(pairs.withColumnRenamed("u", "x").withColumnRenamed("v", "y"),
          Seq("x", "y"), "left_anti")
        .groupBy(col("x").as("p1"), col("y").as("p2"))
        .agg(count(lit(1)).as("cn"), sum(col("w")).as("ra_score"))
        .orderBy(col("ra_score").desc_nulls_last, col("cn").desc_nulls_last,
          col("p1").asc, col("p2").asc)
        .limit(RaK)
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      pairs AS (
        SELECT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= $LpMinM),
      e AS (SELECT u AS s, v AS t FROM pairs
            UNION ALL SELECT v AS s, u AS t FROM pairs),
      deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
      wedges AS (
        SELECT e1.s AS c, e1.t AS x, e2.t AS y
        FROM e e1 JOIN e e2 ON e1.s = e2.s AND e1.t < e2.t),
      cand AS (
        SELECT w.x, w.y, CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(1000000000000 // d.d) AS BIGINT) AS ra_score
        FROM wedges w
        JOIN deg d ON w.c = d.s
        LEFT JOIN pairs p ON p.u = w.x AND p.v = w.y
        WHERE p.u IS NULL
        GROUP BY 1, 2)
      SELECT x AS p1, y AS p2, cn, ra_score
      FROM cand
      ORDER BY ra_score DESC NULLS LAST, cn DESC NULLS LAST,
               p1 ASC NULLS FIRST, p2 ASC NULLS FIRST
      LIMIT $RaK"""))

  // --- q147: higher moments (skewness / kurtosis) from exact power sums -
  // Distribution-shape profiling per segment: beyond q36/q66's
  // quantiles, the moment statistics a feature-store computes per
  // column. The distributed discipline: accumulate RAW POWER SUMS
  // Σx..Σx⁴ exactly in integer space (decimal(38,0) — x⁴ overflows
  // BIGINT, and float power sums are catastrophically
  // cancellation-prone), one map-side-combinable aggregate; then form
  // the CENTRAL-moment numerators STILL IN INTEGERS:
  //   T2 = nΣx² − (Σx)²          ( = n²·M2 )
  //   T3 = n²Σx³ − 3nΣx²Σx + 2(Σx)³      ( = n³·M3 )
  //   T4 = n³Σx⁴ − 4n²Σx³Σx + 6nΣx²(Σx)² − 3(Σx)⁴   ( = n⁴·M4 )
  // The n-powers cancel in the scale-free statistics, so
  //   g1 = √n·T3/(T2·√T2),  g2 = n·T4/T2² − 3
  // touch floats only through cast, *, /, and sqrt — every one
  // IEEE-correctly-rounded, hence bit-identical across engines (the
  // naive μ-expansion in doubles drifts in the last ulps, observed
  // against DuckDB; pow(x,1.5) is spelled x·√x for the same reason).
  // Values are quantized at whole-dollar scale: (Σx)⁴ must stay inside
  // decimal(38)/int128, which holds to ~300k rows/group at |x|≤1e4 —
  // cent scale would overflow at ~1e3 rows. The oracle mirrors in
  // HUGEINT.
  private val q147 = Q(
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val d = cust.select(col("c_mktsegment").as("segment"),
          Exact.quantize(col("c_acctbal").cast("double"), scale = 0)
            .cast("decimal(38,0)").as("x"))
      val sums = d.groupBy(col("segment")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      val (n, s1, s2, s3, s4) =
        (col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
      val t2 = n * s2 - s1 * s1
      val t3 = n * n * s3 - lit(3) * n * s2 * s1 + lit(2) * s1 * s1 * s1
      val t4 = n * n * n * s4 - lit(4) * n * n * s3 * s1 +
        lit(6) * n * s2 * (s1 * s1) - lit(3) * (s1 * s1) * (s1 * s1)
      val nd = n.cast("double")
      val t2d = t2.cast("double")
      sums.select(col("segment"), col("n").cast("long").as("n_cust"),
          (s1.cast("double") / nd).as("mean_bal"),
          (sqrt(nd) * t3.cast("double") / (t2d * sqrt(t2d))).as("skewness"),
          (nd * t4.cast("double") / (t2d * t2d) - lit(3.0)).as("kurtosis"))
        .orderBy(col("segment").asc)
    },
    Some("""
      WITH d AS (
        SELECT c_mktsegment AS segment,
               CAST(CAST(round(c_acctbal) AS BIGINT) AS HUGEINT) AS x
        FROM customer),
      sums AS (
        SELECT segment, CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS s1, sum(x * x) AS s2,
               sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
        FROM d GROUP BY 1),
      t AS (
        SELECT segment, n, s1,
               n * s2 - s1 * s1 AS t2,
               n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS t3,
               n * n * n * s4 - 4 * n * n * s3 * s1
                 + 6 * n * s2 * (s1 * s1) - 3 * (s1 * s1) * (s1 * s1) AS t4
        FROM sums),
      f AS (
        SELECT segment, CAST(n AS BIGINT) AS n_cust,
               CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
               CAST(t2 AS DOUBLE) AS t2d, CAST(t3 AS DOUBLE) AS t3d,
               CAST(t4 AS DOUBLE) AS t4d
        FROM t)
      SELECT segment, n_cust,
             s1d / nd AS mean_bal,
             sqrt(nd) * t3d / (t2d * sqrt(t2d)) AS skewness,
             nd * t4d / (t2d * t2d) - 3.0 AS kurtosis
      FROM f
      ORDER BY segment ASC NULLS FIRST"""))

  // --- q152: degree assortativity of the co-purchase graph --------------
  // Newman's r: Pearson correlation of (deg(u), deg(v)) over the
  // directed edge list (each undirected edge counted both ways — the
  // standard convention, and what makes the two marginals equal).
  // Answers "do popular parts co-sell with popular parts" — the
  // structural summary none of q87 (closure), q112 (coreness) or q137
  // (communities) gives. Exact-integer Pearson: the q99/q147/q151
  // discipline — BIGINT moment sums over integer degrees, one double
  // cast, multiply/sqrt/divide order pinned on both sides.
  //
  // 100 TB posture: degrees are one groupBy over the edge list; the
  // two degree attachments are equi-joins that AQE broadcasts while
  // the degree table is small and shuffles on the node key once it
  // isn't; moments fold map-side to a single row. Degree sums stay
  // in int64 to ~1e18 (Σd² over the edge list = Σd³ ≤ n·dmax³);
  // past that, widen via Exact.exactIntSum as everywhere else.
  private val q152 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = GraphOps.coOccurrenceCounts(li, "o", "p")
        .filter(col("m") >= LpMinM)
        .select(col("u"), col("v"))
      val e = pairs.select(col("u").as("s"), col("v").as("t"))
        .unionByName(pairs.select(col("v").as("s"), col("u").as("t")))
      val deg = e.groupBy(col("s").as("node"))
        .agg(count(lit(1)).as("d"))
      val m = e
        .join(deg.select(col("node").as("s"), col("d").as("du")), Seq("s"))
        .join(deg.select(col("node").as("t"), col("d").as("dv")), Seq("t"))
        .agg(count(lit(1)).as("m"),
          sum(col("du")).as("sa"), sum(col("dv")).as("sb"),
          sum(col("du") * col("dv")).as("sab"),
          sum(col("du") * col("du")).as("saa"),
          sum(col("dv") * col("dv")).as("sbb"))
      val num = col("m") * col("sab") - col("sa") * col("sb")
      val da = col("m") * col("saa") - col("sa") * col("sa")
      val db = col("m") * col("sbb") - col("sb") * col("sb")
      m.select(expr("m div 2").as("n_edges"),
          when(da > 0 && db > 0,
            num.cast("double") /
              (sqrt(da.cast("double")) * sqrt(db.cast("double")))).as("r"))
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      pairs AS (
        SELECT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= $LpMinM),
      e AS (SELECT u AS s, v AS t FROM pairs
            UNION ALL SELECT v AS s, u AS t FROM pairs),
      deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS d
              FROM e GROUP BY 1),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(du.d) AS BIGINT) AS sa,
               CAST(sum(dv.d) AS BIGINT) AS sb,
               CAST(sum(du.d * dv.d) AS BIGINT) AS sab,
               CAST(sum(du.d * du.d) AS BIGINT) AS saa,
               CAST(sum(dv.d * dv.d) AS BIGINT) AS sbb
        FROM e
        JOIN deg du ON e.s = du.node
        JOIN deg dv ON e.t = dv.node)
      SELECT m // 2 AS n_edges,
             CASE WHEN m * saa - sa * sa > 0 AND m * sbb - sb * sb > 0
                  THEN CAST(m * sab - sa * sb AS DOUBLE) /
                       (sqrt(CAST(m * saa - sa * sa AS DOUBLE)) *
                        sqrt(CAST(m * sbb - sb * sb AS DOUBLE)))
             END AS r
      FROM m"""))

  // --- q156: HITS hubs/authorities on the bipartite basket graph --------
  // Kleinberg's HITS over orders × parts WITHOUT projecting to a
  // co-purchase graph first: authority(part) = Σ hub(order),
  // hub(order) = Σ authority(part), three synchronous rounds, each
  // side max-normalized to 1e6 by floor division (GraphOps.hitsInt —
  // the pageRankInt integer discipline, so Spark and the oracle agree
  // bit-for-bit with no float mass anywhere). Answers "which parts
  // anchor the biggest baskets" — a different centrality than q76's
  // random-walk mass (PageRank rewards being reachable; HITS rewards
  // mutual reinforcement with strong baskets).
  //
  // The oracle unrolls the same fixed rounds as generated CTEs (the
  // q76/q116/q137 discipline); normalization max's are scalar
  // subqueries (single-row broadcasts in the Spark plan).
  private val HitsRounds = 3
  private val HitsK = 15

  private def hitsOracle: String = {
    val rounds = (1 to HitsRounds).map { i =>
      s"""a${i}r AS MATERIALIZED (
            SELECT p, sum(h) AS ar FROM e JOIN h${i - 1} USING (o)
            GROUP BY 1),
          a$i AS MATERIALIZED (
            SELECT p, (ar * 1000000) // (SELECT max(ar) FROM a${i}r) AS a
            FROM a${i}r),
          h${i}r AS MATERIALIZED (
            SELECT o, sum(a) AS hr FROM e JOIN a$i USING (p)
            GROUP BY 1),
          h$i AS MATERIALIZED (
            SELECT o, (hr * 1000000) // (SELECT max(hr) FROM h${i}r) AS h
            FROM h${i}r)"""
    }.mkString(",\n")
    s"""
      WITH e AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      h0 AS MATERIALIZED (
        SELECT DISTINCT o, CAST(1000000 AS BIGINT) AS h FROM e),
      $rounds,
      deg AS (SELECT p, CAST(count(*) AS BIGINT) AS n_baskets
              FROM e GROUP BY 1)
      SELECT a.p AS p_partkey, CAST(a.a AS BIGINT) AS authority,
             deg.n_baskets
      FROM a$HitsRounds a JOIN deg ON a.p = deg.p
      ORDER BY authority DESC NULLS LAST, p_partkey ASC
      LIMIT $HitsK"""
  }

  private val q156 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val auth = GraphOps.hitsInt(li, "o", "p", iters = HitsRounds)
      val deg = li.distinct().groupBy(col("p"))
        .agg(count(lit(1)).as("n_baskets"))
      auth.join(deg, Seq("p"))
        .select(col("p").as("p_partkey"), col("a").as("authority"),
          col("n_baskets"))
        .orderBy(col("authority").desc_nulls_last, col("p_partkey").asc)
        .limit(HitsK)
    },
    Some(hitsOracle))

  // --- q158: frequent triples (3-itemsets) with a-priori pruning --------
  // One level past q133's pair rules: which part TRIPLES co-occur in
  // ≥ s baskets. The distributed a-priori discipline keeps the 3-way
  // blowup bounded: (1) baskets first semi-join to s-frequent ITEMS
  // (downward closure — an infrequent item can't be in a frequent
  // triple); (2) the ordered 3-way self-join on the basket key
  // (u<v<w) generates candidates; (3) each candidate must contain a
  // frequent PAIR on its (u,v) leg — the leg that prunes BEFORE the
  // third join row multiplies, which is where a naive triple join
  // explodes. Counts are exact; the final HAVING applies the same s.
  //
  // 100 TB posture: per-basket work is deg³ ONLY within pruned
  // baskets — the two semi-joins are the knobs (raise s) a real
  // basket-mining run turns first; joins are all equi-key on the
  // basket id, AQE-broadcastable while the frequent sets are small.
  private val TripleMinSupport = 2
  private val q158 = Q(
    (spark, dir) => {
      val s = TripleMinSupport
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val freqItems = li.groupBy(col("p")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= s).select(col("p"))
      val b = li.join(freqItems, Seq("p"), "left_semi")
      val freqPairs = b.as("a").join(b.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") >= s)
        .select(col("u"), col("v"))
      val cand = b.as("x").join(b.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.o").as("oo"), col("x.p").as("u"), col("y.p").as("v"))
        .join(freqPairs, Seq("u", "v"), "left_semi") // prune BEFORE leg 3
        .join(b.as("z"), col("oo") === col("z.o") && col("v") < col("z.p"))
        .select(col("u"), col("v"), col("z.p").as("w"))
      cand.groupBy(col("u"), col("v"), col("w"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") >= s)
        .orderBy(col("m").desc_nulls_last, col("u").asc, col("v").asc,
          col("w").asc)
        .limit(20)
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      fi AS (SELECT p FROM li GROUP BY 1
             HAVING count(*) >= $TripleMinSupport),
      b AS MATERIALIZED (SELECT o, p FROM li WHERE p IN (SELECT p FROM fi)),
      fp AS (
        SELECT a.p AS u, b2.p AS v
        FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        GROUP BY 1, 2 HAVING count(*) >= $TripleMinSupport),
      cand AS (
        SELECT x.o, x.p AS u, y.p AS v
        FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        WHERE EXISTS (SELECT 1 FROM fp
                      WHERE fp.u = x.p AND fp.v = y.p)),
      tri AS (
        SELECT c.u, c.v, z.p AS w
        FROM cand c JOIN b z ON c.o = z.o AND c.v < z.p)
      SELECT u, v, w, CAST(count(*) AS BIGINT) AS m
      FROM tri GROUP BY 1, 2, 3
      HAVING count(*) >= $TripleMinSupport
      ORDER BY m DESC NULLS LAST, u ASC, v ASC, w ASC
      LIMIT 20"""))

  // --- q162: purchase-cadence quantiles (inter-order gaps) --------------
  // "How often do customers in each segment come back" — the retention
  // cadence behind q95's cohort view. Consecutive-order gaps come from
  // ONE lag window per customer (key-partitioned, no global sort);
  // gap days are a BOUNDED domain (≤ calendar span), so the per-segment
  // p50/p90 use q122's exact histogram discipline — the shuffle is
  // |segments| × |distinct gaps|, independent of order count. The mean
  // is the exact rational Σ(gap·c)/n cast once.
  private val q162 = Q(
    (spark, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d").asc, col("o_orderkey").asc)
      val gaps = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
          col("o_orderkey"))
        .withColumn("prev", lag(col("d"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"), datediff(col("d"), col("prev")).as("gap"))
      val seg = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val h = gaps.join(seg, col("o_custkey") === col("c_custkey"))
        .groupBy(col("segment"), col("gap").cast("long").as("gap"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("segment")).orderBy(col("gap").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n",
          sum(col("c")).over(Window.partitionBy(col("segment"))))
        .withColumn("sg",
          sum(col("gap") * col("c"))
            .over(Window.partitionBy(col("segment"))))
      cum.groupBy(col("segment"), col("n"), col("sg"))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("gap")))
            .as("p50_gap"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("gap")))
            .as("p90_gap"))
        .select(col("segment"), col("n").as("n_gaps"), col("p50_gap"),
          col("p90_gap"),
          (col("sg").cast("double") / col("n")).as("mean_gap"))
        .orderBy(col("segment").asc)
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
        FROM orders),
      g0 AS (
        SELECT o_custkey,
               d - lag(d) OVER (PARTITION BY o_custkey
                                ORDER BY d ASC, o_orderkey ASC) AS gap
        FROM o),
      gaps AS (
        SELECT c.c_mktsegment AS segment, CAST(g0.gap AS BIGINT) AS gap
        FROM g0 JOIN customer c ON g0.o_custkey = c.c_custkey
        WHERE g0.gap IS NOT NULL),
      h AS (SELECT segment, gap, count(*) AS c FROM gaps GROUP BY 1, 2),
      cum AS (
        SELECT segment, gap, c,
               sum(c) OVER (PARTITION BY segment ORDER BY gap ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY segment) AS n,
               sum(gap * c) OVER (PARTITION BY segment) AS sg
        FROM h)
      SELECT segment, CAST(n AS BIGINT) AS n_gaps,
             min(CASE WHEN cum >= (n + 1) // 2 THEN gap END) AS p50_gap,
             min(CASE WHEN cum >= (9 * n + 9) // 10 THEN gap END) AS p90_gap,
             CAST(sg AS DOUBLE) / n AS mean_gap
      FROM cum
      GROUP BY segment, n, sg
      ORDER BY segment ASC NULLS FIRST"""))

  // --- q165: Mann-Whitney U (rank-sum) test, integer-exact ---------------
  // "Do URGENT orders run larger than LOW orders?" answered the
  // distribution-free way — the nonparametric sibling of q153's z-test
  // (means can agree while distributions differ; ranks see it). All
  // arithmetic stays in integers: rank sums over ties are half-integer,
  // so everything is carried DOUBLED (r1_x2, u1_x2), and the effect
  // size is the doubled-AUC per-mille (U/(n1·n2) = P(A>B) + ½P(A=B) —
  // the probability a random URGENT order exceeds a random LOW one).
  //
  // Scale shape: ranks are NEVER assigned to rows. The rank sum only
  // depends on the VALUE HISTOGRAM (cents → per-side counts): for a
  // tied run at value v with nv rows after cumprev earlier rows, each
  // row's doubled mid-rank is 2·cumprev + nv + 1. The histogram prefix
  // runs through operators/Prefix (bucket-digest scan, no corpus-sized
  // window), so the plan is two hash aggregates + a digest broadcast —
  // at 100 TB the histogram is |distinct cents|, not |rows|. Long
  // envelope: r1_x2 < 2n², exact below n ≈ 2·10⁹ rows; past that the
  // doubled sums move to Exact.exactIntSum decimals.
  private val MwSideA = "1-URGENT"
  private val MwSideB = "5-LOW"
  private val q165 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderpriority").isin(MwSideA, MwSideB))
        .select(Exact.quantize(col("o_totalprice")).as("cents"),
          when(col("o_orderpriority") === MwSideA, 1L).otherwise(0L).as("ia"))
      val hist = o.groupBy(col("cents"))
        .agg(sum(col("ia")).as("na"), (count(lit(1)) - sum(col("ia"))).as("nb"))
        .withColumn("nv", col("na") + col("nb"))
      val cum = Prefix.scanSums(hist, "cents", Seq("nv"), bucketWidth = 100000L)
        .withColumn("cumprev", col("cum_nv") - col("nv"))
      cum.agg(
        sum(col("na")).as("n1"), sum(col("nb")).as("n2"),
        sum(col("na") * (lit(2L) * col("cumprev") + col("nv") + 1L)).as("r1_x2"))
        .select(col("n1"), col("n2"), col("r1_x2"),
          (lit(2L) * col("n1") * col("n2") + col("n1") * (col("n1") + 1L)
            - col("r1_x2")).as("u1_x2"))
        .select(col("n1"), col("n2"), col("r1_x2"), col("u1_x2"),
          expr("(1000 * u1_x2) div (2 * n1 * n2)").as("auc_permille"))
    },
    Some(s"""
      WITH o AS (
        SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '$MwSideA' THEN 1 ELSE 0 END AS ia
        FROM orders
        WHERE o_orderpriority IN ('$MwSideA', '$MwSideB')),
      h AS (SELECT cents, CAST(sum(ia) AS BIGINT) AS na,
                   CAST(count(*) - sum(ia) AS BIGINT) AS nb
            FROM o GROUP BY 1),
      c AS (SELECT na, nb, na + nb AS nv,
                   CAST(COALESCE(sum(na + nb) OVER (ORDER BY cents ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cumprev
            FROM h),
      s AS (SELECT CAST(sum(na) AS BIGINT) AS n1, CAST(sum(nb) AS BIGINT) AS n2,
                   CAST(sum(na * (2 * cumprev + nv + 1)) AS BIGINT) AS r1_x2
            FROM c)
      SELECT n1, n2, r1_x2,
             2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS u1_x2,
             (1000 * (2 * n1 * n2 + n1 * (n1 + 1) - r1_x2)) // (2 * n1 * n2)
               AS auc_permille
      FROM s"""))

  // --- q166: Kolmogorov-Smirnov two-sample drift, integer-exact ----------
  // The ECDF-gap complement of q163's TV distance: TV compares binned
  // masses, KS finds the worst cumulative gap at ANY threshold — the
  // statistic a price-distribution drift monitor alarms on. Returned
  // ('R') vs kept ('N'/'A') line items over l_extendedprice. The gap is
  // exact as a common-denominator integer: D = d_num / (n1·n2) with
  // d_num = max_v |n2·cumA(v) − n1·cumB(v)| — no floats anywhere; the
  // report also pins WHERE the gap peaks (min cents among argmax ties).
  //
  // Scale shape: same histogram discipline as q165 — per-side counts by
  // cents, Prefix bucket-digest scan, then one small aggregate and an
  // argmax semi-filter over the histogram (never the corpus). The
  // histogram is localCheckpoint'd: both the max pass and the argmax
  // pass read one materialization. Long envelope: n1·cumB < n², exact
  // below n ≈ 3·10⁹ rows; decimal past it.
  private val q166 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(Exact.quantize(col("l_extendedprice")).as("cents"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ra"))
      val hist = li.groupBy(col("cents"))
        .agg(sum(col("ra")).as("na"), (count(lit(1)) - sum(col("ra"))).as("nb"))
      val cum = Prefix.scanSums(hist, "cents", Seq("na", "nb"),
        bucketWidth = 16384L).localCheckpoint()
      val tot = cum.agg(sum(col("na")).as("n1"), sum(col("nb")).as("n2"))
      val gap = cum.crossJoin(broadcast(tot))
        .withColumn("g", abs(col("n2") * col("cum_na") - col("n1") * col("cum_nb")))
      val d = gap.agg(max(col("g")).as("d_num"))
      gap.crossJoin(broadcast(d))
        .filter(col("g") === col("d_num"))
        .groupBy(col("n1"), col("n2"), col("d_num"))
        .agg(min(col("cents")).as("ks_at_cents"))
        .select(col("n1"), col("n2"), col("d_num"),
          expr("(1000 * d_num) div (n1 * n2)").as("d_permille"),
          col("ks_at_cents"))
    },
    Some("""
      WITH li AS (
        SELECT CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ra
        FROM lineitem),
      h AS (SELECT cents, CAST(sum(ra) AS BIGINT) AS na,
                   CAST(count(*) - sum(ra) AS BIGINT) AS nb
            FROM li GROUP BY 1),
      c AS (SELECT cents,
                   CAST(sum(na) OVER (ORDER BY cents ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_na,
                   CAST(sum(nb) OVER (ORDER BY cents ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nb
            FROM h),
      t AS (SELECT CAST(sum(na) AS BIGINT) AS n1, CAST(sum(nb) AS BIGINT) AS n2
            FROM h),
      g AS (SELECT cents, abs(t.n2 * cum_na - t.n1 * cum_nb) AS g, t.n1, t.n2
            FROM c, t),
      d AS (SELECT max(g) AS d_num FROM g)
      SELECT g.n1, g.n2, d.d_num,
             (1000 * d.d_num) // (g.n1 * g.n2) AS d_permille,
             min(g.cents) AS ks_at_cents
      FROM g, d WHERE g.g = d.d_num
      GROUP BY g.n1, g.n2, d.d_num"""))

  // --- q167: Gini concentration of customer revenue, integer-exact -------
  // "How concentrated is revenue across customers?" — the Lorenz/Gini
  // statistic every account-risk and mixture audit reports. Per-customer
  // revenue cents, ranked ascending with custkey tiebreak, then
  // G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx) emitted as an exact
  // numerator/denominator pair plus the per-mille floor — no floats, no
  // cross-engine drift (the q164 rational-integer discipline).
  //
  // Scale shape: the rank is over the PER-CUSTOMER aggregate (one row
  // per customer, not per order), assigned by Ranking.rankInGroup's
  // two-pass range exchange — no global-window bottleneck even at 10⁹
  // customers. Chebyshev's sum inequality makes gini_num ≥ 0, so the
  // floor division is engine-agnostic. Long envelope: Σ rk·x exact
  // below ~10⁸ customers at ~$10⁵ lifetime revenue; decimal past it.
  private val q167 = Q(
    (spark, dir) => {
      val rev = Tables.orders(spark, dir)
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(Exact.quantize(col("o_totalprice"))).as("x"))
        .withColumn("g", lit(0))
      val ranked = Ranking.rankInGroup(rev, "g", Seq("x", "c"))
      ranked.agg(
        count(lit(1)).as("n_customers"),
        sum(col("x")).as("total_cents"),
        sum(col("rk") * col("x")).as("srx"))
        .select(col("n_customers"), col("total_cents"),
          (lit(2L) * col("srx") - (col("n_customers") + 1L) * col("total_cents"))
            .as("gini_num"),
          (col("n_customers") * col("total_cents")).as("gini_den"))
        .select(col("n_customers"), col("total_cents"), col("gini_num"),
          col("gini_den"),
          expr("(1000 * gini_num) div gini_den").as("gini_permille"))
    },
    Some("""
      WITH r AS (
        SELECT o_custkey AS c,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      k AS (SELECT x, row_number() OVER (ORDER BY x ASC, c ASC) AS rk FROM r),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(rk * x) AS BIGINT) AS srx
            FROM k)
      SELECT n AS n_customers, sx AS total_cents,
             2 * srx - (n + 1) * sx AS gini_num,
             n * sx AS gini_den,
             (1000 * (2 * srx - (n + 1) * sx)) // (n * sx) AS gini_permille
      FROM s"""))

  // --- q171: Poisson-bootstrap confidence interval, deterministic --------
  // "Total revenue is X — how wide is the resampling band?" answered the
  // only way that scales: the POISSON bootstrap (Chamandy et al. 2012,
  // "Estimating uncertainty for massive data streams"), where each
  // row's multiplicity in replicate r is a Poisson(1) draw — no
  // materialized resample, no per-replicate shuffle of the corpus.
  // Every draw is a PURE ROW FUNCTION: ONE md5 per row splits into
  // three 40-bit seeds, replicate r's uniform is the random quadratic
  // (s0 + s1·r + s2·r²) mod 2^40 — 3-wise independent across
  // replicates, 64x fewer string hashes than md5-per-(row,rep), which
  // measured 65 s at sf0.1 — inverted through the Poisson(1) CDF
  // pinned as integer thresholds (interpolated into BOTH engines from
  // one Scala constant, the q93 no-drift discipline; the >8 tail, mass
  // ~1.1e-6, is capped at 9; see operators/Bootstrap). Replicate
  // totals are exact integer cent sums, so the whole report — point
  // estimate plus the 4th/32nd/61st order statistics of 64 replicate
  // totals (the ceil(pR) lower-discrete convention, q117) — is
  // bit-identical across engines.
  //
  // Scale shape: one md5 + one map pass over rows×R with map-side
  // partial aggregation into R=64 groups — the shuffle carries 64 rows
  // per partition regardless of corpus size; the order-statistic
  // window runs over the 64-row digest only.
  private val BootR = Bootstrap.R
  private val q171 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          Exact.quantize(col("l_extendedprice")).as("cents"))
      // kernel shared with streaming/BootstrapStream — one definition
      // of key/hash/thresholds on both the batch and incremental paths
      val totals = Bootstrap.replicateTotals(li,
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")),
          col("cents"))
        .withColumnRenamed("total", "total_cents")
      val w = Window.orderBy(col("total_cents").asc, col("rep").asc)
      val ranked = totals.withColumn("rn", row_number().over(w))
      def at(rn: Int, name: String) =
        ranked.filter(col("rn") === rn).select(col("total_cents").as(name))
      val point = li.agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("point_cents"))
      point.withColumn("r", lit(BootR.toLong))
        .crossJoin(at(math.ceil(0.05 * BootR).toInt, "boot_p05_cents"))
        .crossJoin(at(math.ceil(0.50 * BootR).toInt, "boot_p50_cents"))
        .crossJoin(at(math.ceil(0.95 * BootR).toInt, "boot_p95_cents"))
    },
    Some(s"""
      WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                         CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
                  FROM lineitem),
      reps AS (SELECT unnest(range($BootR)) AS rep),
      sd AS (SELECT cents,
               CAST(('0x' || substr(md, 1, 10)) AS BIGINT) AS s0,
               CAST(('0x' || substr(md, 11, 10)) AS BIGINT) AS s1,
               CAST(('0x' || substr(md, 21, 10)) AS BIGINT) AS s2
             FROM (SELECT cents,
                     md5('boot|' || CAST(ok AS VARCHAR) || '-' ||
                         CAST(ln AS VARCHAR)) AS md
                   FROM li)),
      x AS (SELECT rep, cents,
              (s0 + s1 * rep + s2 * rep * rep) % ${Bootstrap.Mod40} AS h
            FROM sd CROSS JOIN reps),
      t AS (SELECT rep,
                   CAST(sum((${Bootstrap.poissonCaseSql("h")}) * cents) AS BIGINT)
                     AS total_cents
            FROM x GROUP BY 1),
      rk AS (SELECT total_cents,
                    row_number() OVER (ORDER BY total_cents ASC, rep ASC) AS rn
             FROM t),
      p AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(cents) AS BIGINT) AS point_cents
            FROM li)
      SELECT p.n_rows, p.point_cents, CAST($BootR AS BIGINT) AS r,
        (SELECT total_cents FROM rk WHERE rn = ${math.ceil(0.05 * BootR).toInt})
          AS boot_p05_cents,
        (SELECT total_cents FROM rk WHERE rn = ${math.ceil(0.50 * BootR).toInt})
          AS boot_p50_cents,
        (SELECT total_cents FROM rk WHERE rn = ${math.ceil(0.95 * BootR).toInt})
          AS boot_p95_cents
      FROM p"""))

  // --- q172: local clustering coefficient, top of the co-purchase graph --
  // q87's global triangle count says the graph is cohesive; the LOCAL
  // coefficient says WHERE — which parts sit in tightly-bound purchase
  // neighborhoods (2·tri / deg·(deg−1), the ego-density each
  // recommender / community seed ranks by). Per-node triangle incidence
  // comes from GraphOps.trianglesPerNode (the q87 wedge-close pipeline
  // with corners kept: same O(m^1.5) orientation bound, one extra
  // narrow explode); the coefficient is an exact integer per-mille. Top
  // 20 under the total order (coeff DESC, node ASC) via sort-limit —
  // distributed takeOrdered, never a global sort.
  private val q172 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val edges = GraphOps.coOccurrencePairs(li, "o", "p").localCheckpoint()
      // already distinct/canonical — skip the operator's no-op dedup
      val tri = GraphOps.trianglesPerNode(edges, "u", "v", canonical = true)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2L)
        .join(tri, Seq("node"), "left")
        .withColumn("tri", coalesce(col("tri"), lit(0L)))
        .withColumn("coeff_permille",
          expr("(2000 * tri) div (deg * (deg - 1))"))
        .orderBy(col("coeff_permille").desc, col("node").asc)
        .limit(20)
        .orderBy(col("coeff_permille").desc, col("node").asc)
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS u, b.p AS v
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      deg AS (SELECT n, count(*) AS d FROM (
                SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
              GROUP BY 1),
      o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                        THEN e.u ELSE e.v END AS s,
                   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                        THEN e.v ELSE e.u END AS t
            FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
      w AS (SELECT o1.s AS a, o1.t AS m, o2.t AS c
            FROM o o1 JOIN o o2 ON o2.s = o1.t),
      tc AS (SELECT w.a, w.m, w.c FROM w JOIN o ON o.s = w.a AND o.t = w.c),
      tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
               SELECT a AS node FROM tc
               UNION ALL SELECT m FROM tc
               UNION ALL SELECT c FROM tc)
             GROUP BY 1),
      res AS (SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS deg,
                     COALESCE(tn.tri, CAST(0 AS BIGINT)) AS tri,
                     (2000 * COALESCE(tn.tri, 0)) // (deg.d * (deg.d - 1))
                       AS coeff_permille
              FROM deg LEFT JOIN tn ON tn.node = deg.n
              WHERE deg.d >= 2)
      SELECT node, deg, tri, coeff_permille
      FROM res
      ORDER BY coeff_permille DESC, node ASC
      LIMIT 20"""))

  // --- q174: actuarial life table for repeat purchase (survival) ---------
  // The churn question q162's gap quantiles don't answer: of customers
  // entering week w since their FIRST order, what fraction convert to a
  // repeat order IN that week (the discrete hazard), and how many are
  // still at risk? Kaplan-Meier's life-table form with right censoring
  // at the observation horizon (the dataset's max order date). The
  // event is the first strictly-later order DAY (two orders on the
  // first day are not a repeat); customers without one are censored at
  // the horizon. Hazard is an integer per-mille — the float-free subset
  // of KM (the survival product is the one float quantity, and it is
  // derivable from the hazards downstream).
  //
  // Scale shape: per-customer first/repeat dates are two hash
  // aggregates; the week histogram is |weeks| rows; the at-risk count
  // n_enter(w) = N − cum(<w) comes from the [[Prefix]] bucket-digest
  // scan, not a global window. Nothing after the per-customer aggregate
  // scales with row count.
  private val q174 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey").as("c"), col("o_orderdate").cast("date").as("d"))
      val span = o.agg(max(col("d")).as("dmax"))
      val firsts = o.groupBy(col("c")).agg(min(col("d")).as("d1"))
      val repeats = o.join(firsts, Seq("c")).filter(col("d") > col("d1"))
        .groupBy(col("c")).agg(min(col("d")).as("d2"))
      val times = firsts.join(repeats, Seq("c"), "left")
        .crossJoin(broadcast(span))
        .select(
          when(col("d2").isNotNull, datediff(col("d2"), col("d1")))
            .otherwise(datediff(col("dmax"), col("d1"))).cast("long").as("t"),
          when(col("d2").isNotNull, 1L).otherwise(0L).as("ev"))
        .select(expr("t div 7").as("week"), col("ev"))
      val hist = times.groupBy(col("week"))
        .agg(count(lit(1)).as("n"), sum(col("ev")).as("n_event"))
        .withColumn("n_censored", col("n") - col("n_event"))
      val tot = hist.agg(sum(col("n")).as("n_total"))
      Prefix.scanSums(hist, "week", Seq("n"), bucketWidth = 32L)
        .crossJoin(broadcast(tot))
        .select(col("week"),
          (col("n_total") - col("cum_n") + col("n")).as("n_enter"),
          col("n_event"), col("n_censored"))
        .withColumn("hazard_permille",
          expr("(1000 * n_event) div n_enter"))
        .orderBy(col("week").asc)
    },
    Some("""
      WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d
                 FROM orders),
      span AS (SELECT max(d) AS dmax FROM o),
      firsts AS (SELECT c, min(d) AS d1 FROM o GROUP BY 1),
      rep AS (SELECT o.c, min(o.d) AS d2
              FROM o JOIN firsts f ON f.c = o.c AND o.d > f.d1
              GROUP BY 1),
      times AS (
        SELECT CAST(CASE WHEN r.d2 IS NOT NULL THEN r.d2 - f.d1
                         ELSE s.dmax - f.d1 END AS BIGINT) AS t,
               CASE WHEN r.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM firsts f LEFT JOIN rep r ON r.c = f.c CROSS JOIN span s),
      h AS (SELECT t // 7 AS week, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ev) AS BIGINT) AS n_event
            FROM times GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM h),
      cum AS (SELECT week, n, n_event, n - n_event AS n_censored,
                     CAST(sum(n) OVER (ORDER BY week ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
              FROM h)
      SELECT week, t.n_total - cum_n + n AS n_enter, n_event, n_censored,
             (1000 * n_event) // (t.n_total - cum_n + n) AS hazard_permille
      FROM cum, tot t
      ORDER BY week ASC"""))

  // --- q177: grouped OLS — price/quantity slope per brand ----------------
  // q98 fits ONE series' trend; the demand-curve question is GROUPED:
  // for every brand, the OLS slope of order quantity against catalog
  // price (the elasticity screen a pricing team runs across the whole
  // catalog at once). Slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with
  // x = retail-price cents, y = quantity units — the four moment sums
  // are exact integers from ONE map-side-combined aggregate after a
  // broadcast part→lineitem join, and the slope itself is a SINGLE
  // IEEE division of two exact longs (bit-identical across engines; no
  // integer floor here because slopes can be negative and Spark's `div`
  // truncates while DuckDB's `//` floors). Long envelope: ΣxΣy per
  // brand is exact to ~10⁸ rows/brand at catalog prices; decimal
  // accumulators past that.
  private val q177 = Q(
    (spark, dir) => {
      val pr = Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"),
          Exact.quantize(col("p_retailprice")).as("x"))
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), Exact.quantize(col("l_quantity"), 0).as("y"))
      li.join(broadcast(pr), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("p_brand"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
        .withColumn("slope",
          when(col("slope_den") =!= 0L,
            col("slope_num").cast("double") / col("slope_den").cast("double")))
        .orderBy(col("p_brand").asc)
    },
    Some("""
      WITH j AS (
        SELECT p.p_brand,
               CAST(round(p.p_retailprice * 100.0) AS BIGINT) AS x,
               CAST(round(l.l_quantity) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM j GROUP BY 1)
      SELECT p_brand, n,
             n * sxy - sx * sy AS slope_num,
             n * sxx - sx * sx AS slope_den,
             CASE WHEN n * sxx - sx * sx <> 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
             END AS slope
      FROM m
      ORDER BY p_brand ASC NULLS FIRST"""))

  // --- q178: period-over-period revenue bridge (waterfall) ---------------
  // The board-deck artifact behind every "why did revenue move?"
  // meeting: Δrevenue 1996→1997 decomposed by driver category at part
  // grain — revenue from NEW parts (unsold in y1), minus LOST parts
  // (unsold in y2), plus growth/decline among parts sold in both. Every
  // component is an exact signed cent total and the waterfall closes by
  // construction: start + new − lost + grown − shrunk = end (asserted
  // by the reader, not rounded into place). Per-line revenue quantizes
  // the discounted price ONCE with the identical formula on both
  // engines.
  //
  // Scale shape: one (part, year) hash aggregate over the filtered
  // scan, pivoted by a conditional sum (two years — no wide pivot), a
  // part-grain classification, and a 6-row rollup. The only shuffle is
  // the part-keyed aggregate.
  private val BridgeY1 = 1996
  private val BridgeY2 = 1997
  private val q178 = Q(
    (spark, dir) => {
      val rev = Tables.lineitem(spark, dir)
        .filter(year(col("l_shipdate")).isin(BridgeY1, BridgeY2))
        .select(col("l_partkey").as("p"), year(col("l_shipdate")).as("y"),
          Exact.quantize(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("cents"))
        .groupBy(col("p"))
        .agg(sum(when(col("y") === BridgeY1, col("cents")).otherwise(0L)).as("r1"),
          sum(when(col("y") === BridgeY2, col("cents")).otherwise(0L)).as("r2"))
      val classed = rev.select(col("r1"), col("r2"),
        when(col("r1") === 0L, "new_parts")
          .when(col("r2") === 0L, "lost_parts")
          .when(col("r2") > col("r1"), "grown_parts")
          .otherwise("shrunk_parts").as("component"))
      val parts = classed.groupBy(col("component"))
        .agg(count(lit(1)).as("n_parts"), sum(col("r2") - col("r1")).as("cents"))
      val ends = classed.agg(sum(col("r1")).as("s"), sum(col("r2")).as("e"))
      val startEnd = ends
        .select(lit("1_start_y1").as("component"), lit(0L).as("n_parts"),
          col("s").as("cents"))
        .unionByName(ends.select(lit("7_end_y2").as("component"),
          lit(0L).as("n_parts"), col("e").as("cents")))
      val order = when(col("component") === "new_parts", "2_new_parts")
        .when(col("component") === "grown_parts", "3_grown_parts")
        .when(col("component") === "shrunk_parts", "4_shrunk_parts")
        .when(col("component") === "lost_parts", "5_lost_parts")
        .otherwise(col("component"))
      parts.select(order.as("component"), col("n_parts"), col("cents"))
        .unionByName(startEnd)
        .orderBy(col("component").asc)
    },
    Some(s"""
      WITH li AS (
        SELECT l_partkey AS p, year(l_shipdate) AS y,
               CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                 AS BIGINT) AS cents
        FROM lineitem WHERE year(l_shipdate) IN ($BridgeY1, $BridgeY2)),
      rev AS (SELECT p,
                CAST(sum(CASE WHEN y = $BridgeY1 THEN cents ELSE 0 END) AS BIGINT) AS r1,
                CAST(sum(CASE WHEN y = $BridgeY2 THEN cents ELSE 0 END) AS BIGINT) AS r2
              FROM li GROUP BY 1),
      cl AS (SELECT r1, r2,
               CASE WHEN r1 = 0 THEN '2_new_parts'
                    WHEN r2 = 0 THEN '5_lost_parts'
                    WHEN r2 > r1 THEN '3_grown_parts'
                    ELSE '4_shrunk_parts' END AS component
             FROM rev),
      p AS (SELECT component, CAST(count(*) AS BIGINT) AS n_parts,
                   CAST(sum(r2 - r1) AS BIGINT) AS cents
            FROM cl GROUP BY 1),
      se AS (SELECT '1_start_y1' AS component, CAST(0 AS BIGINT) AS n_parts,
                    CAST(sum(r1) AS BIGINT) AS cents FROM cl
             UNION ALL
             SELECT '7_end_y2', CAST(0 AS BIGINT),
                    CAST(sum(r2) AS BIGINT) FROM cl)
      SELECT component, n_parts, cents FROM p
      UNION ALL SELECT component, n_parts, cents FROM se
      ORDER BY component ASC NULLS FIRST"""))

  // --- q179: ABC (Pareto) classification of parts by revenue -------------
  // The inventory-policy cut: rank parts by revenue descending and
  // split at 80% / 95% of cumulative revenue — class A carries the
  // first 80 cents of every revenue dollar, B the next 15, C the tail.
  // Thresholds are integer cross-multiplications (100·cum ≤ 80·total),
  // no percentage floats. Rank comes from Ranking.rankInGroup's range
  // exchange (descending revenue via ascending negation, partkey
  // tiebreak); the cumulative revenue at each rank comes from the
  // [[Prefix]] bucket-digest scan over the rank axis — at 10⁹ parts
  // neither step windows over the corpus.
  private val q179 = Q(
    (spark, dir) => {
      val rev = Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey").as("p"))
        .agg(sum(Exact.quantize(col("l_extendedprice"))).as("rev"))
        .withColumn("negrev", -col("rev"))
        .withColumn("g", lit(0))
      val ranked = Ranking.rankInGroup(rev, "g", Seq("negrev", "p"))
        .select(col("p"), col("rev"), col("rk"))
      val cum = Prefix.scanSums(ranked, "rk", Seq("rev"), bucketWidth = 1024L)
      val tot = cum.agg(max(col("cum_rev")).as("total"))
      cum.crossJoin(broadcast(tot))
        .select(col("rev"),
          when(lit(100L) * col("cum_rev") <= lit(80L) * col("total"), "A")
            .when(lit(100L) * col("cum_rev") <= lit(95L) * col("total"), "B")
            .otherwise("C").as("abc_class"),
          col("total"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"),
          max(col("total")).as("t"))
        .select(col("abc_class"), col("n_parts"), col("revenue_cents"),
          expr("(1000 * revenue_cents) div t").as("revenue_permille"))
        .orderBy(col("abc_class").asc)
    },
    Some("""
      WITH rev AS (
        SELECT l_partkey AS p,
               CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT))
                 AS BIGINT) AS rev
        FROM lineitem GROUP BY 1),
      rk AS (SELECT p, rev,
                    CAST(sum(rev) OVER (ORDER BY rev DESC, p ASC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                    (SELECT CAST(sum(rev) AS BIGINT) FROM rev) AS total
             FROM rev),
      cl AS (SELECT rev,
               CASE WHEN 100 * cum <= 80 * total THEN 'A'
                    WHEN 100 * cum <= 95 * total THEN 'B'
                    ELSE 'C' END AS abc_class, total
             FROM rk)
      SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(rev) AS BIGINT) AS revenue_cents,
             (1000 * CAST(sum(rev) AS BIGINT)) // max(total) AS revenue_permille
      FROM cl GROUP BY 1
      ORDER BY abc_class ASC NULLS FIRST"""))

  // --- q182: churn-model feature assembly (per-customer feature row) -----
  // The feature-store build every churn/LTV model starts from: one row
  // per customer with recency (days since last order, vs the dataset
  // horizon), frequency, tenure, monetary total, and mean inter-order
  // gap. The gap mean needs NO window: consecutive-gap days telescope
  // to tenure/(n−1) exactly, so the whole feature row falls out of one
  // per-customer aggregate plus a broadcast dim join — the cheapest
  // possible shape, and the one that still holds at 10⁹ customers. All
  // features are integers except mean_gap_days, a single IEEE division
  // of two exact longs (null for single-order customers, stated not
  // imputed).
  private val q182 = Q(
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey").as("c"), col("o_orderdate").cast("date").as("d"),
          Exact.quantize(col("o_totalprice")).as("cents"))
      val span = o.agg(max(col("d")).as("dmax"))
      val feat = o.groupBy(col("c"))
        .agg(count(lit(1)).as("n_orders"), min(col("d")).as("first_d"),
          max(col("d")).as("last_d"), sum(col("cents")).as("monetary_cents"))
      feat.crossJoin(broadcast(span))
        .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey").as("c"), col("c_mktsegment").as("segment"))),
          Seq("c"))
        .select(col("c").as("custkey"), col("segment"), col("n_orders"),
          datediff(col("dmax"), col("last_d")).cast("long").as("recency_days"),
          datediff(col("last_d"), col("first_d")).cast("long").as("tenure_days"),
          col("monetary_cents"),
          when(col("n_orders") > 1L,
            datediff(col("last_d"), col("first_d")).cast("double")
              / (col("n_orders") - 1L).cast("double")).as("mean_gap_days"))
        .orderBy(col("custkey").asc)
    },
    Some("""
      WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d,
                        CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
                 FROM orders),
      span AS (SELECT max(d) AS dmax FROM o),
      f AS (SELECT c, CAST(count(*) AS BIGINT) AS n_orders,
                   min(d) AS first_d, max(d) AS last_d,
                   CAST(sum(cents) AS BIGINT) AS monetary_cents
            FROM o GROUP BY 1)
      SELECT f.c AS custkey, cu.c_mktsegment AS segment, n_orders,
             CAST(s.dmax - last_d AS BIGINT) AS recency_days,
             CAST(last_d - first_d AS BIGINT) AS tenure_days,
             monetary_cents,
             CASE WHEN n_orders > 1
                  THEN CAST(last_d - first_d AS DOUBLE)
                       / CAST(n_orders - 1 AS DOUBLE)
             END AS mean_gap_days
      FROM f CROSS JOIN span s
      JOIN customer cu ON cu.c_custkey = f.c
      ORDER BY custkey ASC"""))

  // --- q184: cohort LTV triangle (cumulative revenue by cohort age) ------
  // q95 tracks WHO comes back; finance tracks WHAT they're worth: for
  // each acquisition cohort (quarter of first order), cumulative
  // revenue per original customer at every quarter of age — the LTV
  // triangle payback models are fit on. Cohort/age arithmetic is pure
  // integer quarter indices (year·4 + quarter); the cumulative runs in
  // a window PARTITIONED BY COHORT over the cohort×age DIGEST (≤ a few
  // hundred rows at any corpus size — never the order table); LTV is an
  // exact integer floor division of cents by cohort size.
  private val q184 = Q(
    (spark, dir) => {
      val qidx = (d: org.apache.spark.sql.Column) =>
        year(d) * 4 + quarter(d) - 1
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey").as("c"), col("o_orderdate").cast("date").as("d"),
          Exact.quantize(col("o_totalprice")).as("cents"))
      val firsts = o.groupBy(col("c")).agg(min(col("d")).as("d1"))
        .select(col("c"), qidx(col("d1")).as("cq"))
      val sizes = firsts.groupBy(col("cq")).agg(count(lit(1)).as("cohort_size"))
      val cells = o.join(firsts, Seq("c"))
        .select(col("cq"), (qidx(col("d")) - col("cq")).as("age_q"), col("cents"))
        .groupBy(col("cq"), col("age_q")).agg(sum(col("cents")).as("q_cents"))
      val wCum = Window.partitionBy(col("cq")).orderBy(col("age_q").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_cents", sum(col("q_cents")).over(wCum))
        .join(broadcast(sizes), Seq("cq"))
        .select(expr("cq div 4").as("cohort_year"),
          (pmod(col("cq"), lit(4)) + 1).as("cohort_quarter"),
          col("age_q"), col("cohort_size"), col("q_cents"), col("cum_cents"),
          expr("cum_cents div cohort_size").as("ltv_cents"))
        .orderBy(col("cohort_year").asc, col("cohort_quarter").asc,
          col("age_q").asc)
    },
    Some("""
      WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d,
                        CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
                 FROM orders),
      f AS (SELECT c, year(min(d)) * 4 + quarter(min(d)) - 1 AS cq
            FROM o GROUP BY 1),
      sz AS (SELECT cq, CAST(count(*) AS BIGINT) AS cohort_size
             FROM f GROUP BY 1),
      cells AS (
        SELECT f.cq, year(o.d) * 4 + quarter(o.d) - 1 - f.cq AS age_q,
               CAST(sum(o.cents) AS BIGINT) AS q_cents
        FROM o JOIN f ON f.c = o.c GROUP BY 1, 2),
      cum AS (
        SELECT cq, age_q, q_cents,
               CAST(sum(q_cents) OVER (PARTITION BY cq ORDER BY age_q ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM cells)
      SELECT CAST(cq // 4 AS INTEGER) AS cohort_year,
             CAST(cq % 4 + 1 AS INTEGER) AS cohort_quarter,
             CAST(age_q AS INTEGER) AS age_q,
             cohort_size, q_cents, cum_cents,
             cum_cents // cohort_size AS ltv_cents
      FROM cum JOIN sz USING (cq)
      ORDER BY cohort_year ASC, cohort_quarter ASC, age_q ASC"""))

  // --- q185: right-to-be-forgotten impact analysis ------------------------
  // Before a GDPR/LGPD erasure batch runs, ops needs the blast radius:
  // how many rows per table will the tombstones touch? Subjects are a
  // deterministic 1% md5 sample of customers (the q44/q135 hash-split
  // discipline — replayable, not random); impact cascades the FK chain
  // customer → orders → lineitem. The fact-table counts are semi-join
  // shaped (join on the key, count — no payload shuffle); at 100 TB
  // this is one broadcast of the subject set against each fact scan.
  private val q185 = Q(
    (spark, dir) => {
      val h = Sampling.hashBits("erase|", col("c_custkey"), 40)
      val subjects = Tables.customer(spark, dir)
        .filter(h < lit((1L << 40) / 100L))
        .select(col("c_custkey").as("c")).localCheckpoint()
      val o = Tables.orders(spark, dir)
        .join(broadcast(subjects), col("o_custkey") === col("c"))
        .select(col("o_orderkey")).localCheckpoint()
      val nC = subjects.agg(count(lit(1)).as("n"))
        .select(lit("1_customer").as("tbl"), col("n"))
      val nO = o.agg(count(lit(1)).as("n"))
        .select(lit("2_orders").as("tbl"), col("n"))
      val nL = Tables.lineitem(spark, dir)
        .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
        .select(lit("3_lineitem").as("tbl"), col("n"))
      nC.unionByName(nO).unionByName(nL).orderBy(col("tbl").asc)
    },
    Some(s"""
      WITH s AS (
        SELECT c_custkey AS c FROM customer
        WHERE CAST(('0x' || substr(md5('erase|' || CAST(c_custkey AS VARCHAR)),
                1, 10)) AS BIGINT) < ${(1L << 40) / 100L}),
      o AS (SELECT o_orderkey FROM orders JOIN s ON o_custkey = s.c)
      SELECT '1_customer' AS tbl, CAST(count(*) AS BIGINT) AS n FROM s
      UNION ALL
      SELECT '2_orders', CAST(count(*) AS BIGINT) FROM o
      UNION ALL
      SELECT '3_lineitem', CAST(count(*) AS BIGINT)
      FROM lineitem JOIN o ON l_orderkey = o.o_orderkey
      ORDER BY tbl ASC NULLS FIRST"""))

  // --- q188: trending-items burst detection ------------------------------
  // "What started moving THIS month?" — the demand-sensing screen every
  // merchandiser (and every trending-terms dashboard) runs: per item,
  // the rate in the most recent 4 weeks against its trailing baseline,
  // ranked by lift. Weeks are epoch-day div 7 (integer, engine-neutral —
  // never date_trunc('week'), whose week-start convention differs);
  // the lift is the exact integer cross-multiplication
  // (1000·recent·priorWeeks) div (recentWeeks·(prior+1)) — the +1 is
  // additive smoothing so new items (no baseline) rank by recent volume
  // without dividing by zero.
  //
  // Scale shape: ONE scan. (item, week) partial counts first (map-side
  // combine collapses the scan to at most items×weeks rows), then the
  // global week digest and the per-item recent/prior split both derive
  // from that digest — no second pass over the fact table. The 1-row
  // max-week and week-count digests ride broadcast nested-loop joins.
  private val TrendRecentWeeks = 4
  private val q188 = Q(
    (spark, dir) => {
      val b = Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT) div 7")
            .as("wk"))
        .groupBy(col("l_partkey"), col("wk"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // fans out 3x: max-week, week digest, item split
      val mx = b.agg(max(col("wk")).as("maxwk"))
      val bm = b.crossJoin(broadcast(mx))
        .withColumn("recent", col("wk") > col("maxwk") - TrendRecentWeeks)
      val ws = bm.agg(
        countDistinct(when(col("recent"), col("wk"))).as("rw"),
        countDistinct(when(!col("recent"), col("wk"))).as("pw"))
      bm.groupBy(col("l_partkey"))
        .agg(sum(when(col("recent"), col("c")).otherwise(0L)).as("recent_cnt"),
          sum(when(!col("recent"), col("c")).otherwise(0L)).as("prior_cnt"))
        .filter(col("recent_cnt") > 0L)
        .crossJoin(broadcast(ws))
        .select(col("l_partkey"), col("recent_cnt"), col("prior_cnt"),
          expr("(1000 * recent_cnt * pw) div (rw * (prior_cnt + 1))")
            .as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("recent_cnt").desc,
          col("l_partkey").asc)
        .limit(20)
    },
    Some(s"""
      WITH b AS (
        SELECT l_partkey,
               CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                 // 7 AS wk,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      mx AS (SELECT max(wk) AS maxwk FROM b),
      ws AS (SELECT
               CAST(count(DISTINCT CASE WHEN wk > maxwk - $TrendRecentWeeks
                                        THEN wk END) AS BIGINT) AS rw,
               CAST(count(DISTINCT CASE WHEN wk <= maxwk - $TrendRecentWeeks
                                        THEN wk END) AS BIGINT) AS pw
             FROM b, mx),
      p AS (SELECT l_partkey,
              CAST(sum(CASE WHEN wk > maxwk - $TrendRecentWeeks
                            THEN c ELSE 0 END) AS BIGINT) AS recent_cnt,
              CAST(sum(CASE WHEN wk <= maxwk - $TrendRecentWeeks
                            THEN c ELSE 0 END) AS BIGINT) AS prior_cnt
            FROM b, mx GROUP BY 1)
      SELECT l_partkey, recent_cnt, prior_cnt,
             (1000 * recent_cnt * pw) // (rw * (prior_cnt + 1)) AS lift_milli
      FROM p, ws
      WHERE recent_cnt > 0
      ORDER BY lift_milli DESC, recent_cnt DESC, l_partkey ASC
      LIMIT 20"""))

  // --- q194: order-to-ship SLA latency by priority ------------------------
  // The fulfillment KPI every operations dashboard leads with: how long
  // from order to FIRST shipment, by order priority — median and p90
  // latency plus the share shipped within the 7-day SLA. Latency is an
  // integer day difference; the quantiles come from the q162/q122
  // bounded-domain discipline (a per-priority latency HISTOGRAM and a
  // cumulative scan — never a corpus-sized percentile window), and the
  // SLA share is an exact per-mille integer division.
  //
  // Scale shape: one orderkey-keyed aggregate (min shipdate per order,
  // map-side combinable) joined to orders co-keyed on the same key,
  // then a (priority, latency-day) histogram — bounded by the latency
  // domain, not the order count — carries the cumulative windows.
  private val SlaDays = 7
  private val q194 = Q(
    (spark, dir) => {
      val firstShip = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate").cast("date")).as("first_ship"))
      val lat = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          col("o_orderdate").cast("date").as("od"))
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("priority"),
          datediff(col("first_ship"), col("od")).cast("long").as("lat"))
      val h = lat.groupBy(col("priority"), col("lat"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("priority")).orderBy(col("lat").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("priority"))))
        .withColumn("n_sla", sum(when(col("lat") <= SlaDays, col("c"))
          .otherwise(0L)).over(Window.partitionBy(col("priority"))))
        .groupBy(col("priority"), col("n"), col("n_sla"))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("lat")))
            .as("p50_days"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("lat")))
            .as("p90_days"))
        .select(col("priority"), col("n").as("n_orders"),
          col("p50_days"), col("p90_days"),
          expr("(1000 * n_sla) div n").as("within_sla_permille"))
        .orderBy(col("priority").asc)
    },
    Some(s"""
      WITH fs AS (SELECT l_orderkey,
                         min(CAST(l_shipdate AS DATE)) AS first_ship
                  FROM lineitem GROUP BY 1),
      lat AS (SELECT o_orderpriority AS priority,
                     CAST(first_ship - CAST(o_orderdate AS DATE) AS BIGINT)
                       AS lat
              FROM orders JOIN fs ON o_orderkey = l_orderkey),
      h AS (SELECT priority, lat, CAST(count(*) AS BIGINT) AS c
            FROM lat GROUP BY 1, 2),
      cum AS (SELECT *,
                CAST(sum(c) OVER (PARTITION BY priority ORDER BY lat ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n,
                CAST(sum(CASE WHEN lat <= $SlaDays THEN c ELSE 0 END)
                     OVER (PARTITION BY priority) AS BIGINT) AS n_sla
              FROM h)
      SELECT priority, n AS n_orders,
             min(CASE WHEN cum >= (n + 1) // 2 THEN lat END) AS p50_days,
             min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lat END) AS p90_days,
             (1000 * n_sla) // n AS within_sla_permille
      FROM cum
      GROUP BY priority, n, n_sla
      ORDER BY priority ASC"""))

  // --- q195: declarative data-quality expectation suite -------------------
  // The Deequ-shaped contract check a lakehouse runs before promoting a
  // table: a named list of expectations over lineitem — completeness,
  // value ranges, a categorical domain, key uniqueness, and referential
  // integrity — each reporting its violation count and a pass flag.
  // This is the ORACLE-CHECKED sibling of pipeline/Quality's gate (which
  // guards the ETL run itself): same single-pass philosophy, but as a
  // queryable report.
  //
  // Scale shape: the five row-local checks fold into ONE aggregate scan
  // (sums of CASEs, map-side combinable); uniqueness adds one key-grain
  // aggregate (count > 1 groups summed); referential integrity is a
  // key-distinct LEFT ANTI join against orders — the q128 shape, key
  // domain not row domain. Output is one row per check, constant size.
  private val q195 = Q(
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val rowChecks = li.agg(
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
          .as("c1_shipdate_complete"),
        sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
          .otherwise(0L)).as("c2_quantity_range"),
        sum(when(col("l_extendedprice") <= 0.0, 1L).otherwise(0L))
          .as("c3_price_positive"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)).as("c4_returnflag_domain"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("c5_discount_range"))
      val uniq = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1L, col("c") - 1L).otherwise(0L))
          .as("c6_key_unique"))
      val refi = li.select(col("l_orderkey")).distinct()
        .join(Tables.orders(spark, dir).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("c7_orderkey_fk"))
      rowChecks.crossJoin(uniq).crossJoin(refi)
        .select(expr(
          """stack(7,
             'c1_shipdate_complete',  c1_shipdate_complete,
             'c2_quantity_range',     c2_quantity_range,
             'c3_price_positive',     c3_price_positive,
             'c4_returnflag_domain',  c4_returnflag_domain,
             'c5_discount_range',     c5_discount_range,
             'c6_key_unique',         c6_key_unique,
             'c7_orderkey_fk',        c7_orderkey_fk)
             AS (check_name, violations)"""))
        .select(col("check_name"),
          coalesce(col("violations"), lit(0L)).as("violations"))
        .withColumn("pass", when(col("violations") === 0L, 1).otherwise(0))
        .orderBy(col("check_name").asc)
    },
    Some("""
      WITH rowchecks AS (
        SELECT
          CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS c1_shipdate_complete,
          CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                        THEN 1 ELSE 0 END) AS BIGINT) AS c2_quantity_range,
          CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS c3_price_positive,
          CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        THEN 1 ELSE 0 END) AS BIGINT) AS c4_returnflag_domain,
          CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                        THEN 1 ELSE 0 END) AS BIGINT) AS c5_discount_range
        FROM lineitem),
      uniq AS (
        SELECT CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
                 AS c6_key_unique
        FROM (SELECT count(*) AS c FROM lineitem
              GROUP BY l_orderkey, l_linenumber)),
      refi AS (
        SELECT CAST(count(*) AS BIGINT) AS c7_orderkey_fk
        FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      checks AS (
        SELECT 'c1_shipdate_complete' AS check_name,
               c1_shipdate_complete AS violations FROM rowchecks
        UNION ALL SELECT 'c2_quantity_range', c2_quantity_range FROM rowchecks
        UNION ALL SELECT 'c3_price_positive', c3_price_positive FROM rowchecks
        UNION ALL SELECT 'c4_returnflag_domain', c4_returnflag_domain FROM rowchecks
        UNION ALL SELECT 'c5_discount_range', c5_discount_range FROM rowchecks
        UNION ALL SELECT 'c6_key_unique', c6_key_unique FROM uniq
        UNION ALL SELECT 'c7_orderkey_fk', c7_orderkey_fk FROM refi)
      SELECT check_name, coalesce(violations, 0) AS violations,
             CASE WHEN coalesce(violations, 0) = 0 THEN 1 ELSE 0 END AS pass
      FROM checks
      ORDER BY check_name ASC"""))

  val all: Seq[(String, Q)] = Seq(
    "q116_sssp" -> q116,
    "q117_exact_select" -> q117,
    "q118_pivot" -> q118,
    "q119_unpivot" -> q119,
    "q120_rfm" -> q120,
    "q121_snapshot_diff" -> q121,
    "q122_group_quantiles" -> q122,
    "q125_topk_group" -> q125,
    "q128_fk_audit" -> q128,
    "q130_equidepth" -> q130,
    "q133_assoc_rules" -> q133,
    "q137_label_prop" -> q137,
    "q145_link_predict" -> q145,
    "q147_group_moments" -> q147,
    "q152_assortativity" -> q152,
    "q156_hits" -> q156,
    "q158_freq_triples" -> q158,
    "q162_order_gaps" -> q162,
    "q165_mannwhitney" -> q165,
    "q166_ks_drift" -> q166,
    "q167_gini" -> q167,
    "q171_bootstrap_ci" -> q171,
    "q172_local_clustering" -> q172,
    "q174_life_table" -> q174,
    "q177_grouped_ols" -> q177,
    "q178_revenue_bridge" -> q178,
    "q179_abc_class" -> q179,
    "q182_churn_features" -> q182,
    "q184_cohort_ltv" -> q184,
    "q185_erasure_impact" -> q185,
    "q188_trending_items" -> q188,
    "q194_ship_sla" -> q194,
    "q195_dq_expectations" -> q195)
}
