package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming telemetry debounce — the incremental twin of q127's
  * session-window form: per (user, event_type), events chaining closer
  * than the gap are one burst and only the burst's FIRST event is
  * kept. State per key is TWO longs (last event time + running
  * kept/total counts) — the chain rule needs only the previous event's
  * time, so a g-event burst folds in O(1) per event with no session
  * buffer at all (the batch session_window materializes the window;
  * the stream never has to).
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (time,
  * event_id)): a key's events arrive in (time, event_id) order across
  * batches; within a batch any order is fine (the fold re-sorts). Exact
  * redelivery of the last-folded event is an idempotent skip; an older
  * or contradictory event fails loudly. [[DebounceStreamSpec]] proves
  * stream == the batch session-window accounting across splits —
  * including a split INSIDE a burst, where the chain must continue
  * across the state boundary.
  */
object DebounceStream {

  /** Per-key state: last folded (micros, event_id) + accounting. */
  final case class DebounceState(lastUs: Long, lastId: Long,
                                 nEvents: Long, nKept: Long)

  /** Output per touched key: (user, type, n_events, n_kept). */
  type Out = (Long, String, Long, Long)

  /** Pure shared kernel: fold one in-order slice of (micros, event_id).
    * An event starts a new burst iff it is the key's first or arrives
    * MORE than `gapUs` after the previous event (the q30/q127 strict
    * boundary rule). */
  def foldSlice(obs: Seq[(Long, Long)], state: Option[DebounceState],
                gapUs: Long): DebounceState =
    StateFold.inOrder(obs, state.getOrElse(DebounceState(Long.MinValue, Long.MinValue, 0L, 0L)))(
      identity, st => if (st.nEvents == 0L) None else Some((st.lastUs, st.lastId))) {
      case (st, (us, id)) =>
        val newBurst = st.nEvents == 0L || us - st.lastUs > gapUs
        DebounceState(us, id, st.nEvents + 1L, st.nKept + (if (newBurst) 1L else 0L))
    }

  /** rows: (user, type, micros, event_id). Emits updated accounting per
    * touched key (Update-mode semantics). */
  def debounce(rows: Dataset[(Long, String, Long, Long)], gapUs: Long)
      : Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (r: (Long, String, Long, Long)) => (r._1, r._2)) {
      (key: (Long, String), slice: Seq[(Long, String, Long, Long)],
       stored: Option[DebounceState]) =>
        val st = foldSlice(slice.map(r => (r._3, r._4)), stored, gapUs)
        (Some(st), Seq((key._1, key._2, st.nEvents, st.nKept)))
    }
  }
}
