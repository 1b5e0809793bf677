package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming LOCF gap-fill — the incremental twin of q97's batch
  * calendar regularization: per series, observations arrive in
  * day order and the stream maintains the forward-fill accounting
  * (observed days, gap days, observed total, carried-forward total)
  * with state of ONE fixed-size record per series.
  *
  * Why this shape matters at scale: the batch form re-materializes the
  * dense calendar and re-runs the fill window over the whole span on
  * every refresh; this twin folds each new observation in O(1) —
  * a gap of g days between consecutive observations contributes
  * `g * lastCents` to the carried total WITHOUT materializing g rows,
  * so a live dashboard over millions of series pays O(batch) per
  * update, state O(series), and NOTHING scales with the calendar.
  *
  * Span semantics: the fold covers each series' OWN [first..last]
  * observation span. q97's batch accounting additionally pads every
  * series to the global corpus span (leading NULL-fill days and
  * trailing carried days); [[SeriesFillStreamSpec]] proves stream ==
  * batch against the same own-span batch pipeline
  * ([[batchAccounting]]) — the global padding is a presentation join
  * the caller can add from the one-row global span.
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (day, cents)):
  * a series' observations must arrive in day order ACROSS batches
  * (one observation per (series, day) — pre-aggregate the day first);
  * within a batch any order is fine, the group fold re-sorts.
  */
object SeriesFillStream {

  /** Per-series fill state: span endpoints, last value, and the
    * running accounting. All fixed-size — O(series) total state. */
  final case class FillState(firstDay: Int, lastDay: Int, lastCents: Long,
                             nObs: Long, gapDays: Long,
                             observedCents: Long, carriedCents: Long)

  /** One output accounting row per touched series:
    * (series, n_days, n_obs_days, n_gap_days, observed_cents,
    *  carried_cents). */
  type Out = (String, Long, Long, Long, Long, Long)

  /** Pure shared kernel: fold one in-order slice of (day, cents)
    * observations into the state.
    *
    * At-least-once redelivery: re-folding the EXACT already-folded
    * observation (day == lastDay && cents == lastCents — e.g. the last
    * micro-batch replayed after a sink-side failure) is an idempotent
    * no-op, so a replay is never a restart-loop poison pill. Anything
    * genuinely contradictory — an older day, or the same day with a
    * DIFFERENT value — still fails loudly (a silent skip would desync
    * stream and batch). */
  def foldSlice(obs: Seq[(Int, Long)], state: Option[FillState]): FillState =
    StateFold.inOrder(obs, state)(identity,
      (_: Option[FillState]).map(st => (st.lastDay, st.lastCents))) {
      case (None, (day, cents)) => Some(FillState(day, day, cents, 1L, 0L, cents, 0L))
      case (Some(st), (day, cents)) =>
        val gap = (day - st.lastDay - 1).toLong
        Some(FillState(st.firstDay, day, cents,
          st.nObs + 1L, st.gapDays + gap,
          st.observedCents + cents,
          st.carriedCents + gap * st.lastCents))
    }(Ordering.by(_._1)).orNull

  def accountingOf(series: String, st: FillState): Out = {
    val span = (st.lastDay - st.firstDay + 1).toLong
    (series, span, st.nObs, st.gapDays, st.observedCents, st.carriedCents)
  }

  /** rows: (series, epochDay, cents). Emits the UPDATED accounting row
    * for every series touched by the batch (Update-mode semantics: the
    * latest row per series is the current answer). */
  def fill(rows: Dataset[(String, Int, Long)]): Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (String, Int, Long))._1) {
      (series: String, slice: Seq[(String, Int, Long)], stored: Option[FillState]) =>
        val st = foldSlice(slice.map(r => (r._2, r._3)), stored)
        (Some(st), Seq(accountingOf(series, st)))
    }
  }

  /** The batch reference the spec holds the stream to: the q97 fill
    * pipeline (dense calendar + last-value-ignore-nulls window +
    * accounting agg) over each series' own span. */
  def batchAccounting(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spans = daily.groupBy(col("series"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cal = spans.select(col("series"),
      explode(expr("sequence(d0, d1, 1)")).as("day"))
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("series", "day"), "left")
      .withColumn("ffill", last(col("cents"), ignoreNulls = true).over(w))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        count(col("cents")).as("n_obs_days"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_gap_days"),
        sum(col("cents")).as("observed_cents"),
        coalesce(sum(when(col("cents").isNull, col("ffill"))), lit(0L))
          .as("carried_cents"))
  }
}
