package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming bounded top-k per group — the incremental twin of q125's
  * native aggregate (plans/TopKPairs): per group, keep the k best
  * (value, id) pairs under (value DESC, id ASC) as they arrive.
  *
  * State per group is ≤ k pairs — O(groups x k) total, O(log k) per
  * event. "k best under a total order" is a pure function of the input
  * SET, so insertion order, micro-batching, and duplicate redelivery
  * of any event are ALL absorbed by construction (idempotent insert,
  * commutative fold) — the strongest replay posture in the twin suite
  * (Bloom's idempotence plus an eviction bound). [[TopKStreamSpec]]
  * proves stream == the batch aggregate across random splits, shuffled
  * arrival, and replays, plus a ScalaCheck permutation/split law on
  * the shared kernel.
  */
object TopKStream {

  /** Best-first: value DESC, then id ASC. */
  private def better(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  /** Pure shared kernel: fold a slice of pairs into a best-first
    * bounded list. Deterministic for any arrival order / batching. */
  def foldSlice(pairs: Seq[(Long, Long)], state: Seq[(Long, Long)],
                k: Int): Seq[(Long, Long)] =
    (state ++ pairs).distinct
      .sortWith(better)
      .take(k)

  /** Per-group state: the current top-k, best first. */
  final case class TopState(pairs: Seq[(Long, Long)])

  /** Output per touched group: (group, best-first values, ids). */
  type Out = (String, Seq[Long], Seq[Long])

  /** rows: (group, value, id). Emits the updated top-k per touched
    * group (Update-mode semantics). */
  def topK(rows: Dataset[(String, Long, Long)], k: Int): Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (String, Long, Long))._1) {
      (g: String, slice: Seq[(String, Long, Long)], stored: Option[TopState]) =>
        val st = TopState(foldSlice(slice.map(r => (r._2, r._3)),
          stored.map(_.pairs).getOrElse(Seq.empty), k))
        (Some(st), Seq((g, st.pairs.map(_._1), st.pairs.map(_._2))))
    }
  }
}
