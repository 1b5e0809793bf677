package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming multi-touch attribution — the incremental twin of q124's
  * batch kernel (operators/Attribution.linearTotals): per user, touch
  * events buffer as PENDING; a purchase attributes its cents across
  * the pending touches (integer floor shares, remainder to the
  * earliest touch — the q124 rule verbatim), or to 'direct' when none
  * are pending, then clears the buffer.
  *
  * State per user: the pending channel list (bounded by
  * touches-per-conversion — the user's activity between purchases,
  * NOT history) plus six accumulated totals. The batch form needs the
  * reverse-cumulative window (a purchase claims PRECEDING touches, so
  * batch looks backward); the stream gets the same answer looking
  * forward because attribution happens exactly when the purchase
  * arrives — trailing pending touches attribute nothing, matching
  * q124's conv_seq >= 1 filter.
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (time,
  * event_id)): a user's events arrive in (time, event_id) order across
  * batches; within a batch any order is fine (the fold re-sorts). Exact
  * redelivery of the last-folded event is an idempotent skip; an
  * older or contradictory event fails loudly. [[AttributionStreamSpec]]
  * proves stream == batch per-channel totals across splits — including
  * a split BETWEEN a touch and its purchase, where the pending buffer
  * must survive the state boundary.
  */
object AttributionStream {

  /** Per-user state: pending touch channels (arrival order = earliest
    * first), accumulated per-channel totals, and the last folded
    * (micros, event_id) for the in-order contract. */
  final case class AttrState(pending: Seq[String],
                             viewN: Long, viewCents: Long,
                             clickN: Long, clickCents: Long,
                             directN: Long, directCents: Long,
                             lastUs: Long, lastId: Long)

  val Empty: AttrState =
    AttrState(Seq.empty, 0L, 0L, 0L, 0L, 0L, 0L, Long.MinValue, Long.MinValue)

  /** Output per touched user: (user, view_n, view_cents, click_n,
    * click_cents, direct_n, direct_cents). */
  type Out = (Long, Long, Long, Long, Long, Long, Long)

  /** Pure shared kernel: fold one in-order slice of
    * (micros, event_id, event_type, cents). */
  def foldSlice(obs: Seq[(Long, Long, String, Long)],
                state: Option[AttrState]): AttrState =
    StateFold.inOrder(obs, state.getOrElse(Empty))(o => (o._1, o._2),
      st => if (st == Empty) None else Some((st.lastUs, st.lastId))) {
      case (st, (us, id, tpe, cents)) => (tpe, cents) match {
        case (_, c) if c < 0L => st.copy(lastUs = us, lastId = id) // q124 drops
        case ("purchase", c) =>
          val m = st.pending.size.toLong
          if (m == 0L)
            st.copy(directN = st.directN + 1L,
              directCents = st.directCents + c, lastUs = us, lastId = id)
          else {
            val share = c / m
            val rem = c - share * m // pinned to the EARLIEST touch
            var (vn, vc, cn, cc) = (st.viewN, st.viewCents, st.clickN, st.clickCents)
            st.pending.zipWithIndex.foreach { case (ch, i) =>
              val amt = share + (if (i == 0) rem else 0L)
              if (ch == "view") { vn += 1L; vc += amt }
              else { cn += 1L; cc += amt }
            }
            AttrState(Seq.empty, vn, vc, cn, cc,
              st.directN, st.directCents, us, id)
          }
        case (t, _) if t == "view" || t == "click" =>
          st.copy(pending = st.pending :+ t, lastUs = us, lastId = id)
        case _ => st.copy(lastUs = us, lastId = id) // non-attribution types
      }
    }

  /** rows: (user, micros, event_id, event_type, cents). */
  def attribute(rows: Dataset[(Long, Long, Long, String, Long)])
      : Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (Long, Long, Long, String, Long))._1) {
      (user: Long, slice: Seq[(Long, Long, Long, String, Long)], stored: Option[AttrState]) =>
        val st = foldSlice(slice.map(r => (r._2, r._3, r._4, r._5)), stored)
        (Some(st), Seq((user, st.viewN, st.viewCents, st.clickN, st.clickCents,
          st.directN, st.directCents)))
    }
  }
}
