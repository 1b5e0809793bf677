package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming as-of enrichment — the third as-of form beside the
  * composed batch join (Relational.asofJoinLatest) and the native exec
  * (plans/AsofJoin): each LEFT event is paired with the latest RIGHT
  * value of its key at-or-before its event time, as the two sides
  * ARRIVE interleaved on one tagged stream.
  *
  * State per key is ONE (time, value) pair — the latest right row so
  * far — so total state is O(keys) regardless of stream length: the
  * bounded-state way to enrich a 100 TB/day event stream against a
  * slowly-changing quote/dimension feed (the batch forms re-join the
  * whole history instead).
  *
  * Tie rule matches the batch forms: a right row at exactly the left
  * row's time IS visible (<=; within a batch the fold orders right
  * before left at equal times, the union+window form's __side rule).
  *
  * In-order replay contract (the [[StateFold.inOrder]] rule on the
  * right row's time alone): a key's events — BOTH sides — must arrive
  * in event-time order across batches; within a batch any order is fine
  * (the group re-sorts). An event before the latest folded right row
  * raises: it is exactly the late arrival that would change an answer
  * (a left event would miss its match, a right one would move the state
  * back). AsofStreamSpec proves stream == batch across a mid-stream
  * split.
  *
  * Input rows: (key, time, side, id, value) with side 0 = right
  * (value carrier), side 1 = left (event to enrich; its `value` is
  * ignored). Emits one (id, key, time, matched, asofValue) per LEFT
  * event — matched=false means no right row was at-or-before it
  * (asofValue is 0.0 then; the flag is the null).
  */
object AsofStream {

  /** Pure shared kernel: fold one in-order slice of a key's events,
    * returning (outputs for left rows, final state). */
  def foldSlice(events: Seq[(Long, Long, Int, Long, Double)],
                state: Option[(Long, Double)])
      : (Seq[(Long, Long, Long, Boolean, Double)], Option[(Long, Double)]) = {
    var st = state
    val out = Seq.newBuilder[(Long, Long, Long, Boolean, Double)]
    // right (side 0) before left (side 1) at equal times: <= semantics
    events.sortBy(e => (e._2, e._3, e._4)).foreach { case (k, t, side, id, v) =>
      st.foreach { case (rt, _) =>
        require(t >= rt, s"late event at $t after the right row at $rt") }
      if (side == 0) st = Some((t, v)) // state only advances
      else out += (st match {
        case Some((_, rv)) => (id, k, t, true, rv)
        case None          => (id, k, t, false, 0.0)
      })
    }
    (out.result(), st)
  }

  /** rows: (key, time, side, id, value). Emits one enriched row per
    * left event. */
  def enrich(rows: Dataset[(Long, Long, Int, Long, Double)])
      : Dataset[(Long, Long, Long, Boolean, Double)] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (Long, Long, Int, Long, Double))._1, OutputMode.Append()) {
      (_: Long, slice: Seq[(Long, Long, Int, Long, Double)], stored: Option[(Long, Double)]) =>
        foldSlice(slice, stored).swap
    }
  }
}
