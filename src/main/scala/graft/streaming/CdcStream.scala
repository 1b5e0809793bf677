package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset}

/** Streaming CDC reconciliation — the incremental twin of q121's batch
  * snapshot diff. The closed baseline snapshot loads as INITIAL state
  * (Structured Streaming's initial-state hook — the first stream twin
  * here to exercise it), the new period's feed folds in per key, and
  * every touched key reports its live change classification: the
  * "what changed since the last close" answer maintained continuously
  * instead of recomputed by q121's two-snapshot outer join.
  *
  * State per key is four longs (baseline n/cents + incremental
  * n/cents) — O(keys) total, O(1) per event. Unlike the in-order twins
  * ([[StateFold.inOrder]]) the fold is COMMUTATIVE
  * (count + exact integer cents sum), so there is NO arrival-order
  * contract: any order, any micro-batching — [[CdcStreamSpec]] proves
  * stream == q121-style batch classification across random splits and
  * a ScalaCheck permutation/split law on the kernel. Exactly-once
  * folding is the engine's checkpointed-state guarantee, as for any
  * streaming aggregate.
  *
  * `removed` cannot occur under an append-only feed (q121 states the
  * same). Initial-state keys are invoked on the FIRST micro-batch even
  * with no data (engine semantics), so untouched baseline keys emit
  * one explicit `unchanged` row up front and then stay silent until
  * touched — a full opening reconciliation for free.
  */
object CdcStream {

  /** Per-key state: the frozen baseline aggregate + the incremental
    * aggregate folded from the stream. */
  final case class CdcState(baseN: Long, baseCents: Long,
                            addN: Long, addCents: Long)

  /** Output per touched key: (key, kind, delta orders, delta cents). */
  type Out = (Long, String, Long, Long)

  /** Pure commutative kernel: fold a slice of cents amounts. */
  def foldSlice(cents: Seq[Long], state: Option[CdcState]): CdcState = {
    val st = state.getOrElse(CdcState(0L, 0L, 0L, 0L))
    st.copy(addN = st.addN + cents.size, addCents = st.addCents + cents.sum)
  }

  /** q121's classification over the live state. */
  def classify(st: CdcState): String =
    if (st.baseN == 0L) "added"
    else if (st.addN > 0L) "changed"
    else "unchanged"

  /** rows: (key, cents). `baseline`: the closed snapshot (key → state
    * with addN = addCents = 0), loaded once as initial state. */
  def reconcile(rows: Dataset[(Long, Long)],
                baseline: KeyValueGroupedDataset[Long, CdcState])
      : Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (Long, Long))._1, initial = Some(baseline)) {
      (key: Long, slice: Seq[(Long, Long)], stored: Option[CdcState]) =>
        val st = foldSlice(slice.map(_._2), stored)
        (Some(st), Seq((key, classify(st), st.addN, st.addCents)))
    }
  }

  /** Batch reference the spec holds the stream to: baseline + full
    * increment feed, classified the q121 way (outer join of the two
    * snapshots collapsed to base-vs-base+delta). */
  def batchClassify(baseline: DataFrame, feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val inc = feed.groupBy(col("key"))
      .agg(count(lit(1)).as("add_n"), sum(col("cents")).as("add_cents"))
    baseline.join(inc, Seq("key"), "full_outer")
      .select(col("key"),
        when(coalesce(col("base_n"), lit(0L)) === 0L, "added")
          .when(coalesce(col("add_n"), lit(0L)) > 0L, "changed")
          .otherwise("unchanged").as("kind"),
        coalesce(col("add_n"), lit(0L)).as("d_orders"),
        coalesce(col("add_cents"), lit(0L)).as("d_cents"))
  }
}
