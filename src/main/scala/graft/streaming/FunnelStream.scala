package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming ordered-funnel progression — the incremental twin of
  * q94's batch conversion funnel: per user, track the earliest
  * IN-ORDER completion time of each stage (stage k counts only
  * strictly after the user's earliest stage k-1 completion), as
  * events arrive.
  *
  * State per user is ONE fixed-size record (k stage timestamps), so a
  * live funnel over a 100 TB/day event stream holds O(users) state
  * and each event folds in O(k); the batch form re-runs its
  * aggregate-join chain over the whole history instead. Because a
  * stage timestamp only ever moves EARLIER-never (it is set once,
  * first in-order hit wins, and events arrive in time order), each
  * update is monotone — which is exactly why stream == batch for any
  * micro-batching.
  *
  * Replay contract (set semantics in [[StateFold]], not
  * [[StateFold.inOrder]]): a user's events must arrive in event-time
  * order ACROSS batches; within a batch any order is fine (the fold
  * re-sorts), and a redelivered event changes no slot. Ties: an
  * event at EXACTLY the previous stage's time does not advance the
  * funnel (strict `>`, q94's rule). Equal-time events within a stage
  * are harmless — only the first sets the slot.
  */
object FunnelStream {

  /** Stage names in funnel order. Shared default = q94's stages. */
  val Stages: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** Per-user state: earliest in-order completion micros per stage
    * index; -1 = not reached. `lastTs` = latest event time folded so
    * far, used to ENFORCE the in-order-across-batches contract (before
    * round 7 this contract was documented but unenforced, so a late
    * event silently corrupted state). Fixed size k+1 — O(users) total. */
  final case class FunnelState(t: Seq[Long], lastTs: Long)

  /** Output row per touched user: (user, deepest stage reached
    * 0..k, completion time of that stage; 0 when depth = 0). */
  type Out = (Long, Int, Long)

  /** Pure shared kernel: fold one in-order slice of (ts, stageIdx)
    * events into the stage-times vector.
    *
    * Monotone-arrival enforcement: a slice whose earliest event is
    * STRICTLY before the state's `lastTs` violates the in-order replay
    * contract and fails loudly. Events AT `lastTs` are accepted —
    * exact at-least-once redelivery of the last micro-batch is then
    * naturally idempotent (a slot is set once; a replayed event either
    * finds its slot already set or is rejected by the same strict->
    * rule it was rejected by originally), and a genuine equal-time
    * event split across batches folds exactly as it would have in one
    * batch (the slot conditions depend only on ts, not on arrival
    * batch). */
  def foldSlice(events: Seq[(Long, Int)], state: Option[FunnelState],
                k: Int): FunnelState = {
    val t = state.map(_.t.toArray).getOrElse(Array.fill(k)(-1L))
    var lastTs = state.map(_.lastTs).getOrElse(Long.MinValue)
    // sort by time; at equal times process later stages first so a
    // same-instant (signup, view) pair does NOT chain (strict-> rule:
    // the view needs ts > signup time, which equal times fail)
    val sorted = events.sortBy { case (ts, s) => (ts, -s) }
    sorted.headOption.foreach { case (ts, _) =>
      require(ts >= lastTs,
        s"late event at $ts after already-folded time $lastTs")
    }
    sorted.foreach { case (ts, s) =>
      if (t(s) < 0 && (s == 0 || (t(s - 1) >= 0 && ts > t(s - 1)))) t(s) = ts
      if (ts > lastTs) lastTs = ts
    }
    FunnelState(t.toSeq, lastTs)
  }

  def depthOf(st: FunnelState): (Int, Long) = {
    val d = st.t.takeWhile(_ >= 0).length
    (d, if (d == 0) 0L else st.t(d - 1))
  }

  /** rows: (user, tsMicros, stageIdx in [0, k)). Emits the updated
    * (user, depth, depthTs) for every user touched by the batch
    * (Update-mode semantics). */
  def progress(rows: Dataset[(Long, Long, Int)], k: Int = Stages.length)
      : Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (Long, Long, Int))._1) {
      (user: Long, slice: Seq[(Long, Long, Int)], stored: Option[FunnelState]) =>
        val st = foldSlice(slice.map(r => (r._2, r._3)), stored, k)
        val (d, ts) = depthOf(st)
        (Some(st), Seq((user, d, ts)))
    }
  }

  /** Batch reference the spec holds the stream to: q94's chained
    * conditional-min aggregates, returning each user's funnel depth. */
  def batchDepths(events: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // events: (user, ts, stage)
    val stage0 = events.filter(col("stage") === 0)
      .groupBy(col("user")).agg(min(col("ts")).as("t"))
    val stages = (1 until k).scanLeft(stage0) { (prev, s) =>
      events.filter(col("stage") === s)
        .join(prev.select(col("user"), col("t").as("tp")), Seq("user"))
        .filter(col("ts") > col("tp"))
        .groupBy(col("user")).agg(min(col("ts")).as("t"))
    }
    stages.zipWithIndex.map { case (df, i) =>
      df.select(col("user"), lit(i + 1).as("depth"), col("t"))
    }.reduce(_.unionByName(_))
      .groupBy(col("user"))
      .agg(max(struct(col("depth"), col("t"))).as("m"))
      .select(col("user"), col("m.depth").as("depth"), col("m.t").as("t"))
  }
}
