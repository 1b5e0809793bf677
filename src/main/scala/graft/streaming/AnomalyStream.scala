package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming twin of q79's rolling z-score anomaly detection
  * (EventQueries): each event is scored against its user's trailing
  * window of the previous [[Frame]] quantized values. The flag kernel
  * is the SAME integer test as the batch query — (n·v − s)² >
  * Thresh²·(n·ssq − s²) with BigInt squares mirroring the batch
  * DECIMAL(38,0)/HUGEINT arithmetic — so stream == batch exactly
  * (AnomalyStreamSpec proves flag-set equality across a mid-stream
  * batch split).
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (tus,
  * event_id)): a user's events must arrive in (tus, event_id) order
  * ACROSS batches; within a batch any order is fine (the group
  * re-sorts). An exact redelivery of the last folded event adds no row;
  * an older event raises (scored against a window that already holds
  * later events, it would also corrupt the ring). State per user is a
  * bounded ring of [[Frame]] longs plus the last folded mark — O(users)
  * state total, no growth with stream length.
  */
object AnomalyStream {

  /** Trailing-window length (q79's ZFrame). */
  val Frame = 10

  /** Minimum trailing count before an event can be flagged (ZMinN). */
  val MinN = 5

  /** z threshold (ZThresh): anomaly iff z² > Thresh². */
  val Thresh = 3

  /** Pure shared kernel: is `vq` anomalous against the trailing window
    * `prev` (oldest first)? Exact integer arithmetic — BigInt plays the
    * batch side's DECIMAL(38,0). */
  def isAnomaly(prev: Seq[Long], vq: Long): Boolean = {
    val n = prev.size
    if (n < MinN) return false
    val s = prev.foldLeft(BigInt(0))(_ + _)
    val ssq = prev.foldLeft(BigInt(0))((a, v) => a + BigInt(v) * v)
    val d = BigInt(n) * vq - s
    val c = BigInt(n) * ssq - s * s
    c > 0 && d * d > BigInt(Thresh * Thresh) * c
  }

  /** Per-user state: the trailing window (oldest first) and the last
    * folded (tus, event_id). */
  final case class AnomalyState(ring: Seq[Long], lastUs: Long, lastId: Long)

  /** rows: (user_id, tus_micros, event_id, vq). Emits one
    * (user_id, event_id, anom) per folded event. */
  def anomalies(rows: Dataset[(Long, Long, Long, Long)]): Dataset[(Long, Long, Boolean)] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (Long, Long, Long, Long))._1, OutputMode.Append()) {
      (user: Long, slice: Seq[(Long, Long, Long, Long)], stored: Option[AnomalyState]) =>
        val out = Seq.newBuilder[(Long, Long, Boolean)]
        val st = StateFold.inOrder(slice, stored)(r => (r._2, r._3),
          (_: Option[AnomalyState]).map(s => (s.lastUs, s.lastId))) {
          case (prev, (_, tus, eventId, vq)) =>
            val ring = prev.fold(Seq.empty[Long])(_.ring)
            out += ((user, eventId, isAnomaly(ring, vq)))
            Some(AnomalyState((ring :+ vq).takeRight(Frame), tus, eventId))
        }
        (st, out.result())
    }
  }
}
