package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming one-sided CUSUM — the fixed-target form of q102's batch
  * changepoint detector, folded incrementally: per series, maintain
  * S_t = Σ (x_i − target), its running minimum, and the maximal
  * upward excursion C_t = S_t − min_{i≤t} S_i with the day it peaked.
  * Six fixed-size fields of state per series — O(series) total, O(1)
  * per observation.
  *
  * Why a FIXED target: q102's batch form self-centers against the
  * series' own mean (dev = x·n − Σx), which needs the WHOLE series —
  * exactly what a stream cannot have. The standard sequential CUSUM
  * (Page 1954) takes the in-control target as a parameter; stream and
  * batch then agree for any micro-batching because every state
  * component is a prefix fold ([[CusumStreamSpec]] proves it against
  * the same-target batch window pipeline, and a ScalaCheck law proves
  * split invariance of the kernel).
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (day, x)): a
  * series' observations arrive in day order across batches; within a
  * batch any order is fine (the fold re-sorts). Ties on C keep the
  * EARLIEST peak day (q102's rule).
  */
object CusumStream {

  /** Per-series state: prefix sum, running min, peak excursion + day,
    * plus the last-folded (day, x) pair, the mark of the in-order
    * replay contract (before round 7 the contract was documented but
    * unenforced, so a late or duplicate day silently double-folded
    * into the prefix sum). */
  final case class CusumState(s: Long, minS: Long, maxC: Long, maxCDay: Int,
                              lastDay: Int, lastX: Long)

  /** Output per touched series: (series, maxC, peak day; day = -1
    * until any observation arrives). */
  type Out = (String, Long, Int)

  /** Pure shared kernel: fold one in-order slice of (day, x). Exact
    * redelivery of the already-folded (day, x) is an idempotent skip;
    * an older day, or the same day with a DIFFERENT value, fails
    * loudly. */
  def foldSlice(obs: Seq[(Int, Long)], state: Option[CusumState],
                target: Long): CusumState =
    StateFold.inOrder(obs, state.getOrElse(CusumState(0L, 0L, -1L, -1, Int.MinValue, 0L)))(
      identity, st => if (st.maxC < 0L) None else Some((st.lastDay, st.lastX))) {
      case (st, (day, x)) =>
        val s = st.s + (x - target)
        val minS = math.min(st.minS, s)
        val c = s - minS
        // strictly-greater keeps the earliest peak day on C ties
        if (c > st.maxC) CusumState(s, minS, c, day, day, x)
        else CusumState(s, minS, st.maxC, st.maxCDay, day, x)
    }(Ordering.by(_._1))

  /** rows: (series, epochDay, x). Emits the updated peak per touched
    * series (Update-mode semantics). */
  def detect(rows: Dataset[(String, Int, Long)], target: Long): Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (String, Int, Long))._1) {
      (series: String, slice: Seq[(String, Int, Long)], stored: Option[CusumState]) =>
        val st = foldSlice(slice.map(r => (r._2, r._3)), stored, target)
        (Some(st), Seq((series, st.maxC, st.maxCDay)))
    }
  }

  /** Batch reference the spec holds the stream to: the q102 window
    * pipeline with the SAME fixed target. */
  def batchPeaks(daily: org.apache.spark.sql.DataFrame, target: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ordered = Window.partitionBy(col("series")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byS = Window.partitionBy(col("series"))
    daily
      .withColumn("s", sum(col("x") - lit(target)).over(ordered))
      .withColumn("c", col("s") - least(min(col("s")).over(ordered), lit(0L)))
      .withColumn("mx", max(col("c")).over(byS))
      .groupBy(col("series"))
      .agg(max(col("mx")).as("max_c"),
        min(when(col("c") === col("mx"), col("day"))).as("peak_day"))
  }
}
