package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Small-graph operators needed by dedup pipelines: near-dup PAIRS are
  * only half the job — survivors come from connected COMPONENTS of the
  * pair graph (a,b and b,c must collapse into one cluster even when
  * (a,c) was never emitted as a pair).
  */
object GraphOps {

  /** Connected components by min-label propagation WITH pointer jumping:
    * each iteration every node adopts the smallest label among itself
    * and its neighbors, then shortcuts to its label's label (path
    * halving). The unique fixpoint labels each component with its
    * minimum node id (deterministic regardless of execution order).
    *
    * Scale: two equi-joins + a hash agg per iteration, and the jumping
    * step makes the iteration count O(log diameter) — a million-node
    * chain converges in ~20 rounds where plain propagation would need a
    * million. Lineage is cut with a localCheckpoint per iteration, the
    * standard guard for iterative DataFrame algorithms.
    *
    * Driver synchronization is ONE job per iteration: the checkpoint is
    * lazy and is materialized by the same aggregate that computes the
    * convergence signal. The signal is sum(lbl): labels only ever
    * DECREASE, so the label sum strictly decreases until the fixpoint —
    * equal consecutive sums IS convergence, no changed-flag join or
    * separate isEmpty scan needed. (Exact even under 64-bit wrap-around
    * as long as n * max_id < 2^64: a genuine decrease is then never a
    * multiple of 2^64, so wrapped sums can only be equal at the
    * fixpoint.)
    *
    * The identity-label initialization is folded into the edge set as
    * self-loops, so iteration 1 is a plain groupBy-min over edges — no
    * init job and no left-join-with-coalesce on the hot path.
    *
    * Input: one row per undirected edge (a, b). Output: (node,
    * cluster_id) for every node that appears in an edge.
    */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIter: Int = 40): DataFrame = {
    // Materialize the pair pipeline ONCE before fanning it out: the
    // edge set references `pairs` four times (both directions + two
    // self-loop branches), and Spark plans each union branch
    // independently — without this checkpoint an expensive upstream
    // (e.g. the full MinHash+LSH candidate generation feeding q39/q43)
    // would execute four times inside the edges job.
    val p = pairs.select(col(a).as("s"), col(b).as("t")).localCheckpoint()
    // Both directions + self-loops: min over "neighbors" then includes
    // the node's own label for free (replaces labels.join + coalesce).
    val edges = p
      .unionByName(p.select(col("t").as("s"), col("s").as("t")))
      .unionByName(p.select(col("s"), col("s").as("t")))
      .unionByName(p.select(col("t").as("s"), col("t")))
      .distinct()
      // lazy: round 1's signal job materializes it (every reference
      // inside one round sits under the dedup Exchange, which
      // ReuseExchange shares, so lazy first-run is single-compute)
      .localCheckpoint(false)
    val (labels, converged) = sumFixpoint("lbl", maxIter, "connectedComponents",
        "remap ids to a dense range") { prev =>
      // min label among self + neighbors (self-loops make this total);
      // iteration 1 reads edge targets directly — label(t) = t initially
      val nmin = prev match {
        case None =>
          edges.groupBy(col("s").as("node")).agg(min(col("t")).as("lbl"))
        case Some(labels) =>
          edges
            .join(labels.select(col("node").as("t"), col("lbl").as("tlbl")), Seq("t"))
            .groupBy(col("s").as("node"))
            .agg(min(col("tlbl")).as("lbl"))
      }
      // pointer jump on the FRESH labels: follow my label's label (path
      // halving) — jumping the newer mapping shortcuts further per round
      nmin
        .join(nmin.select(col("node").as("lbl"), col("lbl").as("ll")), Seq("lbl"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl"))
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    labels.get.select(col("node"), col("lbl").as("cluster_id"))
  }

  /** The sum-signal fixpoint loop shared by [[connectedComponents]] and
    * [[ssspInt]]: `step` maps the previous round's table (None in round
    * 1) to the next one, whose column `v` only ever decreases per row
    * while rows are only ever added — so equal consecutive (sum(v),
    * count) signals IS the fixpoint. Each round's table is checkpointed
    * lazily and ONE action materializes it AND reads the signal.
    * max|v| rides along to ENFORCE the wrap-exactness precondition
    * (n * max|v| < 2^63, see [[connectedComponents]]) on every round:
    * callers with huge ids get a loud error instead of a silent
    * premature fixpoint. `nonNegative` also rejects a negative maximum
    * (a key space a shift/mask decode cannot read back). Returns the
    * last round's table (None when `maxIter` < 1) and whether the
    * fixpoint was reached within `maxIter` rounds. */
  private def sumFixpoint(v: String, maxIter: Int, what: String, remedy: String,
                          nonNegative: Boolean = false)
                         (step: Option[DataFrame] => DataFrame)
      : (Option[DataFrame], Boolean) = {
    var cur: Option[DataFrame] = None
    var prevSig: Option[(Long, Long)] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = step(cur).localCheckpoint(false) // lazy: materialized by the signal job
      val row = next.agg(sum(col(v)), count(lit(1)), max(abs(col(v))), max(col(v))).head()
      val sig = if (row.isNullAt(0)) (0L, 0L) else (row.getLong(0), row.getLong(1))
      if (!row.isNullAt(2)) {
        require(!nonNegative || row.getLong(3) >= 0,
          s"$what needs non-negative keys (max($v)=${row.getLong(3)}); $remedy")
        require(row.getLong(2).toDouble * sig._2 < 9.2e18,
          s"$what sum-convergence needs n * max|$v| < 2^63 " +
            s"(n=${sig._2}, max|$v|=${row.getLong(2)}); $remedy")
      }
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      cur = Some(next)
      i += 1
    }
    (cur, converged)
  }

  /** PageRank with a FIXED iteration count, entirely in integer space so
    * the result is deterministic on any cluster layout and bit-replayable
    * by the DuckDB oracle (q76 unrolls the same iterations in SQL).
    *
    * Ranks are BIGINTs at `scale` (1e6 = micro-ranks). Per iteration:
    *
    *   contrib(e)   = rank(src) div outdeg(src)          (exact floor div)
    *   rank'(node)  = (15*scale) div 100
    *                + (85 * sum(contrib over in-edges)) div 100
    *
    * — the standard 0.85-damped update with every division a single
    * integer floor (both engines truncate identically on non-negative
    * operands). The floor truncation loses < 1 micro-rank per term, so
    * ordering is the same as float PageRank except for genuine near-ties.
    *
    * PRECONDITION: every node must appear as a source (no dangling
    * nodes) — callers with directed graphs add reverse edges or drop
    * sinks first; nodes with no IN-edges still get the teleport mass via
    * the left join. Overflow bound: 85 * Σ contrib ≤ 85 * n_nodes * scale
    * must stay < 2^63 — n_nodes < ~10^11 at scale 1e6, checked cheaply
    * here via the node count.
    *
    * Scale shape: per iteration, one shuffle join of edges with ranks on
    * src (deg is pre-joined once, outside the loop) and one hash agg on
    * dst — the Pregel superstep shape. Iteration count is a constant
    * (default 3): total work is `iters` scans of the edge list, no
    * convergence driver loop. Lineage is cut per iteration with a lazy
    * localCheckpoint materialized by the next iteration's job.
    */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
                  iters: Int = 3, scale: Long = 1000000L,
                  seeds: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col(src).as("s"), col(dst).as("d")).distinct()
      .localCheckpoint() // eager: scanned `iters` times + deg + nodes
    val deg0 = e.groupBy(col("s")).agg(count(lit(1)).as("od"))
    // PERSONALIZED variant: with a seed set, initial mass and the
    // teleport term land only on seeds (sf = 1) — ranks become seed
    // affinity instead of global centrality. The uniform case is
    // sf = 1 everywhere, reproducing classic PageRank bit-for-bit.
    val deg = (seeds match {
      case Some(sd) => deg0.join(
          sd.toDF("s").withColumn("__sf", lit(1L)), Seq("s"), "left")
        .select(col("s"), col("od"), coalesce(col("__sf"), lit(0L)).as("sf"))
      case None => deg0.select(col("s"), col("od"), lit(1L).as("sf"))
    }).localCheckpoint() // eager: joined every iteration
    // deg's key set IS the node set (no-dangling precondition): carry
    // out-degree with the rank vector so the loop joins ranks once.
    var ranks = deg.select(col("s").as("node"),
      (lit(scale) * col("sf")).as("rank"), col("od"))
    val n = ranks.count()
    require(85L * n * scale > 0 && n < Long.MaxValue / (100L * scale),
      s"pageRankInt overflow bound: n=$n nodes at scale=$scale")
    val teleport = (15L * scale) / 100L
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "s"), Seq("s"))
        .select(col("d"), Sampling.ldiv(col("rank"), col("od")).as("c"))
        .groupBy(col("d")).agg(sum(col("c")).as("inmass"))
      ranks = deg
        .join(contrib.withColumnRenamed("d", "s"), Seq("s"), "left")
        .select(col("s").as("node"),
          (lit(teleport) * col("sf") +
            Sampling.ldiv(lit(85L) * coalesce(col("inmass"), lit(0L)), lit(100L)))
            .as("rank"),
          col("od"))
        .localCheckpoint(false)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Distinct undirected co-occurrence pairs (u < v): two items are
    * linked when they appear under the same group key (same order, same
    * document, same session). The naive form is the GROUP-KEYED
    * self-join `a JOIN b ON a.g = b.g AND a.item < b.item`; this
    * instead aggregates each group's distinct item set ONCE
    * (map-side-combined collect_set) and explodes the i<j pairs
    * map-side from the sorted array -- one shuffle of the input plus
    * one shuffle to dedup the pair stream, with no join. Pair count is
    * sum(|group|^2) either way -- quadratic in the largest group -- so
    * the group cardinality (orders: a few items; sessions: bounded by
    * activity) is the scale contract, exactly as for the self-join.
    *
    * Reference analog: the co-purchase graph queries derive edges this
    * way from lineitem (see q87/q112/q116).
    */
  def coOccurrencePairs(df: DataFrame, group: String, item: String)
      : DataFrame =
    coOccurrenceRaw(df, group, item).distinct()

  /** Co-occurrence pairs WITH multiplicity: (u, v, m) where m = number
    * of distinct groups containing both items. Same one-aggregate
    * derivation as [[coOccurrencePairs]]; the dedup shuffle becomes a
    * count aggregate (map-side combined).
    */
  def coOccurrenceCounts(df: DataFrame, group: String, item: String)
      : DataFrame =
    coOccurrenceRaw(df, group, item)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("m"))

  // one row per (group, unordered item pair): each group's distinct
  // item set is aggregated once and the i<j pairs explode map-side
  private def coOccurrenceRaw(df: DataFrame, group: String, item: String)
      : DataFrame = {
    df.groupBy(col(group))
      .agg(sort_array(collect_set(col(item))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("u"), explode(slice(col("ps"), col("i") + 2,
        greatest(size(col("ps")) - col("i") - 1, lit(0)))).as("v"))
  }

  /** FUSED multi-k k-core peeling: repeatedly delete every node of
    * degree < k (and its edges) until none remains -- the unique
    * maximal subgraph with all degrees >= k (Seidman 1983; the
    * distributed formulation is the synchronous-round peeling of
    * Montresor et al., "Distributed k-core decomposition"). The
    * curation workhorse for graph-shaped corpora: spam/boilerplate
    * link farms live in the shallow shells, dense communities in the
    * deep cores.
    *
    * All requested k values cascade in ONE tagged peel: the degree
    * table carries a k column, every round computes each k's bad set,
    * routes decrements through a shared adjacency table, and updates
    * all k's degrees in a single materialization. Wall-clock is
    * max-cascade-depth rounds instead of sum-of-per-k rounds -- round
    * count is what dominates iterative graph work on a cluster (each
    * round is one small shuffle; the latency is the scheduling, not
    * the data). The edge set is NEVER rewritten: degrees live in the
    * (k, n) table, decrements are one join of the adjacency table
    * against the round's bad set. Every k starts from the FULL graph
    * -- for converged ks that is indistinguishable from nested peeling
    * (cores are nested), and in the round-capped non-converged regime
    * it is exactly the semantics a SQL oracle replays by unrolling R
    * rounds from the original edge set.
    *
    * Returns (final degree table (k, n, d) -- one row per node never
    * peeled for that k, d = its count of surviving neighbors -- and a
    * per-k converged flag). Core stats follow without touching edges
    * again: n_edges = sum(d)/2, core nodes are the d > 0 rows (a d = 0
    * survivor lost all neighbors in the final capped round and sits in
    * no surviving edge). `converged = false` still returns a
    * well-defined result -- exactly `maxIter` peeling rounds.
    */
  def kCoreDegrees(pairs: DataFrame, a: String, b: String, ks: Seq[Int],
                   maxIter: Int = 12, canonical: Boolean = false)
      : (DataFrame, Map[Int, Boolean]) = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad k list: $ks")
    val e = undirected(pairs, a, b, canonical)
      .localCheckpoint() // eager: read twice by the adjacency build
    // Adjacency as (n, neighbor array): per round the decrement join
    // scans NODE-count rows instead of 2x edge-count rows. Arrays are
    // per-node degree-sized -- the same sum(deg) footprint as the edge
    // set itself, so no new skew exposure beyond what the degree table
    // already commits to.
    val adj = e.select(col("u").as("n"), col("v").as("nb"))
      .unionByName(e.select(col("v").as("n"), col("u").as("nb")))
      .groupBy(col("n")).agg(collect_list(col("nb")).as("nbs"))
      .localCheckpoint(false) // lazy: round 1's signal job materializes it
    val kArr = array(ks.map(k => lit(k.toLong)): _*)
    var deg = adj.select(col("n"), size(col("nbs")).cast("long").as("d"))
      .crossJoin(e.sparkSession.range(0, ks.length).toDF("ki"))
      .select(element_at(kArr, col("ki").cast("int") + 1).as("k"),
        col("n"), col("d"))
      .localCheckpoint(false) // lazy: materialized by round 1's signal job
    val converged = scala.collection.mutable.Map(ks.map(_ -> false): _*)
    var done = 0
    var live = true
    while (live && done < maxIter) {
      // TWO peel rounds per driver round-trip (r14; r13 got this loop
      // to one job per round, and the profile showed the remaining cost
      // was the per-round-trip scheduling itself — 108 jobs / 2.3 s of
      // driver gap at sf0.1). Both rounds are built lazily and ONE
      // collect reads both rounds' per-k peel counts; a speculative
      // second round built past the fixpoint is an exact identity
      // (empty peel set ⇒ empty decrement set ⇒ unchanged degrees), so
      // batching never changes the result — only the flags/`done`
      // bookkeeping walks the counts round by round. The peel set is a
      // plain filter over the (checkpointed) degree blocks — cheap to
      // re-evaluate per consumer, so it no longer gets its own
      // checkpoint job. A k whose peel set is empty has hit its
      // fixpoint (its rows no-op through every later round).
      val batch = math.min(2, maxIter - done)
      var d = deg
      val roundBad = (0 until batch).map { r =>
        val bad = d.filter(col("d") < col("k")).select(col("k"), col("n"))
        // decrements to ALIVE endpoints of edges that just lost their
        // other endpoint; decrements landing on this round's own bad
        // nodes vanish with their rows in the survivor filter below
        // (both-bad edges self-cancel). AQE broadcasts the bad side
        // when small and falls back to a shuffle join when a round
        // peels en masse.
        val dec = adj.join(bad, Seq("n"))
          .select(col("k"), explode(col("nbs")).as("n"))
          .groupBy(col("k"), col("n")).agg(count(lit(1)).as("cut"))
        // survivors are d's rows with d >= k — the same predicate that
        // defines `bad`, so "drop this round's peeled nodes" is a plain
        // FILTER, not the left_anti self-join this loop used to pay
        // (one broadcast build + join stage per round, r14); decrements
        // landing on peeled nodes vanish with their rows in the filter
        d = d.filter(col("d") >= col("k"))
          .join(dec, Seq("k", "n"), "left")
          .select(col("k"), col("n"),
            (col("d") - coalesce(col("cut"), lit(0L))).as("d"))
          .localCheckpoint(false) // lazy: the next round's peel filter,
                                  // the next batch's signal job, or the
                                  // caller's first action materializes it
        bad.groupBy(col("k")).agg(count(lit(1)).as("c"))
          .select(lit(r).as("r"), col("k"), col("c"))
      }
      val counts = roundBad.reduce(_ unionByName _).collect()
        .map(row => (row.getInt(0), row.getLong(1)) -> row.getLong(2)).toMap
      var r = 0
      while (live && r < batch) {
        val roundTotal = ks.map(k => counts.getOrElse((r, k.toLong), 0L)).sum
        ks.foreach { k =>
          if (counts.getOrElse((r, k.toLong), 0L) == 0L) converged(k) = true
        }
        if (roundTotal == 0L) live = false else done += 1
        r += 1
      }
      deg = d // identity past the fixpoint, so always safe to adopt
    }
    (deg, converged.toMap)
  }

  /** Single-k core EDGE SET (canonicalized u < v) + converged flag --
    * the edge-materializing wrapper over [[kCoreDegrees]]: an edge
    * survives iff both endpoints were never peeled.
    */
  def kCore(pairs: DataFrame, a: String, b: String, k: Int,
            maxIter: Int = 12): (DataFrame, Boolean) = {
    val e = undirected(pairs, a, b, canonical = false)
    val (deg, conv) = kCoreDegrees(pairs, a, b, Seq(k), maxIter)
    val surv = deg.select(col("n"))
    val core = e
      .join(surv.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(surv.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      .select(col("u"), col("v")) // USING-joins move the key first; re-pin
      .localCheckpoint() // eager: callers fan out over the core
    (core, conv(k))
  }

  /** One row per undirected edge as (u, v) with u < v: self-loops
    * dropped, reversed duplicates canonicalized map-side (least/greatest)
    * before the dedup. `canonical = true` asserts the caller's pairs are
    * already distinct, self-loop-free and u < v oriented (true for every
    * coOccurrence* output) — skipping a full no-op exchange + dedup of
    * the edge set. UNCHECKED caller contract (ADVICE r13): passing
    * non-canonical edges with the flag set silently corrupts degrees/
    * triangles/communities — set it ONLY for coOccurrencePairs/Counts
    * outputs (or inputs with the same proven invariant), never to "save"
    * the dedup on raw edge lists. */
  private def undirected(pairs: DataFrame, a: String, b: String,
                         canonical: Boolean): DataFrame =
    if (canonical) pairs.select(col(a).as("u"), col(b).as("v"))
    else pairs.filter(col(a) =!= col(b))
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .distinct()

  /** Orient every canonical edge (u, v) from its lower-(degree, id)
    * endpoint s to the higher one t — a total order, so the result is a
    * DAG whose out-degrees are O(√m). Eagerly checkpointed: the sole
    * pass over `e`, reused by the caller's adjacency build. */
  private def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val toLower = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    toLower.select(
      when(fwd, col("u")).otherwise(col("v")).as("s"),
      when(fwd, col("v")).otherwise(col("u")).as("t"))
      // Pin the checkpoint's parallelism: the adjacency explode after it
      // AMPLIFIES (input m rows, output Σ outdeg² array elements),
      // which AQE cannot see when it coalesces by INPUT size — a
      // ~20 MB oriented table otherwise collapses to one partition and
      // the close stage builds serially on a single task. Hash-by-s
      // also makes the adjacency groupBy exchange-free.
      .repartition(col("s"))
      .localCheckpoint(true)
  }

  /** Exact triangle count by DEGREE ORIENTATION (the classic
    * O(m^1.5) algorithm; Chiba-Nishizeki / Schank-Wagner): orient
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one — a total order, so the oriented graph is a DAG and
    * every triangle becomes exactly ONE length-2 path s→m→t plus the
    * closing edge s→t. Returns one row:
    * (n_edges, n_wedges, n_triangles, max_outdeg).
    *
    * Why orientation is the 100 TB shape: counting wedges on the
    * UNDIRECTED graph does Σ deg² work — a single celebrity hub with
    * 10^6 neighbors contributes 10^12 wedges. Orientation bounds every
    * out-degree by O(√m), so wedge work is Σ outdeg² = O(m^1.5)
    * regardless of hubs; max_outdeg is emitted so the bound is
    * observable in the result. All joins are equi-joins on node ids;
    * n_wedges itself comes from the degree tables
    * (Σ_m indeg(m)·outdeg(m)), not from re-materializing the wedge
    * stream.
    *
    * `edges` is one row per undirected edge in either direction;
    * reversed duplicates are canonicalized map-side (least/greatest)
    * before the dedup, and self-loops are dropped.
    */
  def triangleStats(edges: DataFrame, u: String, v: String,
                    canonical: Boolean = false): DataFrame = {
    val oriented = orientByDegree(undirected(edges, u, v, canonical))
    // Degree-ordered adjacency-array intersection (r14; guide §2.4/§8):
    // the DAG orientation gives every triangle a unique (source s,
    // middle t, sink c) with edges s→t, s→c, t→c, so
    //   n_triangles = Σ_{(s,t) ∈ oriented} |N+(s) ∩ N+(t)|
    // — counted by attaching both endpoints' out-neighbor ARRAYS to
    // each edge and intersecting map-side, instead of exploding the
    // Σ outdeg² wedge stream and closing it with a join. The one
    // remaining exchange moves m rows whose sn arrays total Σ outdeg²
    // ids — the same byte volume the wedge shuffle carried, in ~m rows
    // instead of Σ outdeg² rows, with no 49M-row hash-join build/probe
    // (r13 profile: the wedge-close was q87's single 1.8-2.7 s job).
    // Per-row intersect work is O(outdeg(s) + outdeg(t)) = O(√m) by
    // the orientation bound, so no giant rows and no single-key skew.
    val adj = oriented.groupBy(col("s")).agg(collect_list(col("t")).as("ts"))
      // eager: read three ways below (sn explode, tn join side, outd);
      // exchange-free references would otherwise re-aggregate each time
      .localCheckpoint(true)
    // oriented ⋈ N+(s) without a join: explode each source's own array
    val withSn = adj.select(col("ts").as("sn"), explode(col("ts")).as("t"))
    // inner join: an edge whose t has no out-neighbors closes nothing.
    // shuffle_hash builds on the node-count adjacency side; SMJ would
    // sort the array-carrying edge stream, the one thing the
    // orientation bound cannot shrink.
    val closed = withSn.join(
      adj.select(col("s").as("t"), col("ts").as("tn")).hint("shuffle_hash"),
      Seq("t"))
    val tri = closed.agg(coalesce(
      sum(size(array_intersect(col("sn"), col("tn"))).cast("long")), lit(0L))
      .as("n_triangles"))
    val outd = adj.select(col("s"), size(col("ts")).cast("long").as("od"))
    val ind = oriented.groupBy(col("t")).agg(count(lit(1)).as("id"))
    val nEdges = oriented.agg(count(lit(1)).as("n_edges"))
    val nWedges = ind.join(outd, col("t") === col("s"))
      .agg(coalesce(sum(col("id") * col("od")), lit(0L)).as("n_wedges"))
    val maxOut = outd.agg(coalesce(max(col("od")), lit(0L)).as("max_outdeg"))
    nEdges.crossJoin(nWedges).crossJoin(tri).crossJoin(maxOut)
  }

  /** Per-node triangle counts — the [[triangleStats]] adjacency-array
    * intersection with the triangle CORNERS kept: each oriented edge
    * (s, t) with common out-neighbors cs closes |cs| triangles touching
    * exactly {s, t} ∪ cs, so a weighted map-side explode of the
    * intersect output followed by one hash aggregate yields every
    * node's triangle incidence. Same orientation bound (out-degrees
    * O(√m), intersect work O(m^1.5)), same repartition-by-s checkpoint
    * (see orientByDegree for why AQE's input-sized coalesce must not see
    * the amplifying explode) — no new shuffle shape.
    *
    * Input: one row per undirected edge (u, v); self-loops dropped,
    * duplicates deduped. Output: (node, tri) for nodes in ≥1 triangle —
    * left-join and coalesce to 0 for the rest. */
  def trianglesPerNode(edges: DataFrame, u: String, v: String,
                       canonical: Boolean = false): DataFrame = {
    val oriented = orientByDegree(undirected(edges, u, v, canonical))
    // Same adjacency-array intersection as triangleStats (r14), with
    // the triangle CORNERS kept: the oriented edge (s, t) closes
    // |cs| = |N+(s) ∩ N+(t)| triangles, each touching {s, t, c} — so s
    // and t are each emitted once with weight |cs| and every common
    // neighbor c once with weight 1, then one hash aggregate sums the
    // per-node incidence. Emits 2·(closed edges) + n_triangles weighted
    // rows instead of 3·n_triangles corner rows from a wedge-close.
    val adj = oriented.groupBy(col("s")).agg(collect_list(col("t")).as("ts"))
      .localCheckpoint(true) // eager: read twice below
    val withSn = adj.select(col("s"), col("ts").as("sn"),
      explode(col("ts")).as("t"))
    val closed = withSn.join(
        adj.select(col("s").as("t"), col("ts").as("tn")).hint("shuffle_hash"),
        Seq("t"))
      .select(col("s"), col("t"),
        array_intersect(col("sn"), col("tn")).as("cs"))
      .filter(size(col("cs")) > 0)
    closed
      .select(explode(concat(
        array(
          struct(col("s").as("n"), size(col("cs")).cast("long").as("w")),
          struct(col("t").as("n"), size(col("cs")).cast("long").as("w"))),
        transform(col("cs"), c => struct(c.as("n"), lit(1L).as("w"))))).as("x"))
      .groupBy(col("x.n").as("node")).agg(sum(col("x.w")).as("tri"))
  }

  /** Synchronous majority label propagation (Raghavan et al. 2007) with
    * a FIXED round count — community detection, the modularity-shaped
    * sibling of [[connectedComponents]] (min-label propagation finds
    * components; MAJORITY voting finds dense regions inside one
    * component). Every node starts labeled with its own id; each round,
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — a total deterministic
    * order, so the result is layout-independent and a SQL oracle can
    * replay the rounds as unrolled CTEs (the q76/q112/q116 fixed-R
    * discipline). Synchronous update (not the paper's asynchronous
    * sweep) is the only variant with an engine-independent result; its
    * known oscillation modes on bipartite structures are bounded by the
    * fixed round count — the caller sees exactly R rounds, converged or
    * not.
    *
    * Round 1 folds the init: labels are node ids, so distinct neighbors
    * vote with distinct labels and majority-with-min-tie degenerates to
    * min(neighbor) — one aggregate over the edge list, no join.
    *
    * Scale shape: per round, one shuffle join (edges ⋈ labels on src) +
    * two hash aggregates (vote counts, then per-node argmax via a
    * packed struct min — no window, no per-node sort). Lineage cut with
    * a lazy localCheckpoint materialized by the next round's job.
    *
    * Input: one row per undirected edge (a, b); self-loops dropped,
    * duplicates deduped. Output: (node, lbl) for every node in an edge.
    */
  def labelPropagate(pairs: DataFrame, a: String, b: String,
                     iters: Int = 4, canonical: Boolean = false): DataFrame = {
    require(iters >= 1, s"labelPropagate needs >= 1 round, got $iters")
    val p = undirected(pairs, a, b, canonical)
    // both directions via ONE map-side explode — a self-union would
    // evaluate p's upstream twice when p carries no reusable exchange
    // (the canonical path strips the dedup shuffle)
    val e = p.select(explode(array(
        struct(col("u").as("s"), col("v").as("t")),
        struct(col("v").as("s"), col("u").as("t")))).as("x"))
      .select(col("x.s").as("s"), col("x.t").as("t"))
      .localCheckpoint() // eager: re-read every round
    var labels = e.groupBy(col("t").as("node")).agg(min(col("s")).as("lbl"))
      .localCheckpoint(false)
    for (_ <- 2 to iters) {
      val votes = e
        .join(labels.select(col("node").as("s"), col("lbl")), Seq("s"))
        .groupBy(col("t"), col("lbl")).agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy(col("t").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
        .localCheckpoint(false) // lazy: materialized by the next round
    }
    labels
  }

  /** Hops fit in 20 bits of the packed SSSP label; distances take the
    * rest. maxIter (and therefore hops) must stay far below 2^20. */
  val HopPack: Long = 1L << 20

  /** Multi-source shortest paths with non-negative integer weights by
    * synchronous Bellman-Ford relaxation — entirely in integer space so
    * both engines agree bit-for-bit and a SQL oracle can replay the
    * rounds as unrolled CTEs (the q76/q112 fixed-R discipline).
    *
    * Each node label is ONE packed long `dist * HopPack + hops`: taking
    * `min` over packed labels is a lexicographic min over (dist, hops)
    * because hops < HopPack, so ties in distance resolve to the
    * fewest-hop path — deterministic on any cluster layout, no
    * struct-ordering or min_by semantics to align across engines. A
    * relaxation over edge (s→t, w) is `label(s) + w*HopPack + 1`.
    *
    * Scale shape: one equi-join (labels ⋈ edges on src) + one hash
    * aggregate (min per node) per round — the Pregel iteration
    * expressed as DataFrames, each round a single shuffle bounded by
    * |frontier-adjacent edges|, never all-pairs. Rounds = hop diameter
    * of the reached subgraph (synchronous relaxation reaches every
    * node at its hop distance, then only improves weights), which for
    * the near-scale-free co-purchase/similarity graphs this engine
    * builds is O(log n) — the 100 TB cost is diameter × (join+agg),
    * not n × anything. Lineage is cut with a lazy localCheckpoint per
    * round, materialized by the SAME action that reads the convergence
    * signal (one job per round, the connectedComponents discipline):
    * labels only decrease and nodes are only added, so the signal pair
    * (count, sum) repeats iff the round was a no-op.
    *
    * `edges` is DIRECTED (callers with undirected graphs pass both
    * orientations); `sources` is one column of seed node ids (dist 0).
    * Weights must be >= 0; the overflow guard below rejects label
    * spaces where the wrap-exactness precondition of the sum signal
    * could fail. Early-breaks at the fixpoint; `converged = false`
    * still returns exactly `maxIter` rounds — the fixed-R semantics an
    * oracle replays.
    *
    * Output: (node, dist, hops) for every REACHED node, plus the
    * converged flag.
    */
  def ssspInt(edges: DataFrame, src: String, dst: String, w: String,
              sources: DataFrame, maxIter: Int = 12): (DataFrame, Boolean) = {
    require(maxIter < (HopPack >> 1), s"maxIter $maxIter too large for hop packing")
    val e = edges.select(col(src).as("s"), col(dst).as("t"),
        (col(w).cast("long") * HopPack + 1L).as("step"))
      .localCheckpoint() // eager: re-read every round
    val init = sources.toDF("node").select(col("node"), lit(0L).as("key"))
      .localCheckpoint()
    val (last, converged) = sumFixpoint("key", maxIter, "ssspInt",
        "shrink weights or remap ids", nonNegative = true) { prev =>
      val labels = prev.getOrElse(init)
      val relaxed = labels
        .join(e, labels("node") === e("s"))
        .select(col("t").as("node"), (col("key") + col("step")).as("key"))
      labels.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("key")).as("key"))
    }
    val labels = last.getOrElse(init)
    // keys are non-negative, so shift/mask == floor-div/mod — integer
    // space end to end (Spark's `/` on longs would return DOUBLE)
    (labels.select(col("node"), shiftright(col("key"), 20).as("dist"),
      col("key").bitwiseAND(lit(HopPack - 1)).as("hops")), converged)
  }

  /** Integer-scaled HITS (Kleinberg 1999) on a bipartite (group, item)
    * edge list: `iters` synchronous rounds of authority = Σ hub,
    * hub = Σ authority, each side MAX-normalized to `scale` by floor
    * division — the pageRankInt determinism discipline (engine-exact
    * integers, no float mass). Returns the authority table
    * (item, a) after the final round.
    *
    * Scale shape: per round, two equi-join + groupBy shuffles over the
    * edge list; each side's max is collected by the head() that
    * materializes that side's (lazily checkpointed) raw-score table —
    * one long of driver state per half-round, one scheduled job — and
    * is inlined into the normalize projection as a literal. Overflow envelope: raw scores are
    * ≤ maxdeg·scale and the normalize multiply is ≤ maxdeg·scale²
    * (1e6² · maxdeg) — holds to maxdeg ~9e6 at the default scale;
    * shrink `scale` for hub-ier graphs.
    */
  def hitsInt(edges: DataFrame, group: String, item: String,
              iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(col(group).as("o"), col(item).as("p")).distinct()
      .localCheckpoint() // eager: scanned twice per round
    var h = e.select(col("o")).distinct().withColumn("h", lit(scale))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      // ONE job per half-round (r13, measured: the old shape — a
      // single-row max BROADCAST crossJoined back, plus an eager
      // normalize checkpoint — ran 38 jobs / 2.6 s of driver gap for 3
      // rounds; job-count, not compute, dominated q156): the raw score
      // table is checkpointed lazily, the max is COLLECTED by the same
      // head() that materializes it (one long of driver state — the
      // KMeans-init bounded-collect discipline), and the normalize is a
      // plain projection over the checkpointed RDD with the max inlined
      // as a literal — no broadcast build, no second materialization,
      // identical integer arithmetic.
      a = maxNormalize(e.join(h, Seq("o")).groupBy(col("p")).agg(sum(col("h")).as("ar")),
        "p", "ar", "a", scale)
      h = maxNormalize(e.join(a, Seq("p")).groupBy(col("o")).agg(sum(col("a")).as("hr")),
        "o", "hr", "h", scale)
    }
    a
  }

  /** One HITS half-round's normalize: (key, raw) → (key, out) with
    * out = raw·scale div max(raw). The raw table is checkpointed lazily
    * and materialized by the head() that collects its max. */
  private def maxNormalize(raw: DataFrame, key: String, score: String, out: String,
                           scale: Long): DataFrame = {
    val r = raw.localCheckpoint(false)
    val mRow = r.agg(max(col(score))).head
    // empty edge set ⇒ raw empty ⇒ result empty: the divisor is then
    // never evaluated, any non-zero literal keeps the plan valid
    val m = if (mRow.isNullAt(0)) 1L else mRow.getLong(0)
    r.select(col(key), Sampling.ldiv(col(score) * lit(scale), lit(m)).as(out))
  }
}
