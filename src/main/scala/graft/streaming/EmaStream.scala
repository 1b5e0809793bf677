package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming exponential moving average — the incremental twin of
  * q140's batch 16-lag window: per series, keep a ring of the last
  * [[Window]] observations and re-fold the exact integer weights
  * (2^(W-1-j), newest heaviest) on every arrival. O(W) fixed state per
  * series, O(W) work per observation — no unbounded history, and the
  * emitted (num, den) pair is bit-identical to the batch window's
  * because both sides fold THE SAME weights over THE SAME last-W slice
  * ([[EmaStreamSpec]] proves stream == batch across random splits).
  *
  * Why not the classic float recurrence s' = a*x + (1-a)*s: it carries
  * the entire history at fading weights, so stream and batch could only
  * agree approximately and the result would depend on arrival layout.
  * The finite-window integer form makes agreement exact — the q140
  * determinism discipline carried into state.
  *
  * In-order replay contract ([[StateFold.inOrder]], marks (day, x)):
  * observations per series arrive in day order across batches; within a
  * batch any order is fine (the fold re-sorts). Exact redelivery of the
  * already-folded (day, x) pair is an idempotent skip; an older day or
  * a contradictory value fails loudly.
  */
object EmaStream {

  /** Observation window — shared with q140 so batch and stream cannot
    * drift on the geometry. */
  val Window = 16

  /** Per-series state: the last <= W observations oldest-first, plus
    * the replay-contract cursor. */
  final case class EmaState(ring: Seq[Long], lastDay: Int, lastX: Long)

  /** Output per touched series: (series, day, emaNum, emaDen). */
  type Out = (String, Int, Long, Long)

  /** Weighted fold of an oldest-first slice of at most W values:
    * newest value takes weight 2^(W-1). */
  def weigh(ring: Seq[Long]): (Long, Long) = {
    var num = 0L
    var den = 0L
    val n = ring.length
    var j = 0
    while (j < n) {
      val wgt = 1L << (Window - n + j)
      num += ring(j) * wgt
      den += wgt
      j += 1
    }
    (num, den)
  }

  /** Pure shared kernel: fold one in-order slice of (day, x). */
  def foldSlice(obs: Seq[(Int, Long)], state: Option[EmaState]): EmaState =
    StateFold.inOrder(obs, state.getOrElse(EmaState(Vector.empty, Int.MinValue, 0L)))(
      identity, st => if (st.ring.isEmpty) None else Some((st.lastDay, st.lastX))) {
      case (st, (day, x)) => EmaState((st.ring :+ x).takeRight(Window), day, x)
    }(Ordering.by(_._1))

  /** rows: (series, epochDay, xCents). Emits the latest EMA per touched
    * series (Update-mode semantics; day = Int.MinValue until any
    * observation arrives). */
  def smooth(rows: Dataset[(String, Int, Long)]): Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (String, Int, Long))._1) {
      (series: String, slice: Seq[(String, Int, Long)], stored: Option[EmaState]) =>
        val st = foldSlice(slice.map(r => (r._2, r._3)), stored)
        val (num, den) = weigh(st.ring)
        (Some(st), Seq((series, st.lastDay, num, den)))
    }
  }

  /** Batch reference the spec holds the stream to: q140's 16-lag window
    * form, reduced to the latest row per series. */
  def batchLatest(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val w = W.partitionBy(col("series")).orderBy(col("day"))
    val num = (0 until Window).map { j =>
      coalesce(lag(col("x"), j).over(w), lit(0L)) * lit(1L << (Window - 1 - j))
    }.reduce(_ + _)
    val den = (0 until Window).map { j =>
      when(lag(col("x"), j).over(w).isNotNull, lit(1L << (Window - 1 - j)))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    daily
      .withColumn("ema_num", num)
      .withColumn("ema_den", den)
      .withColumn("rn", row_number().over(
        W.partitionBy(col("series")).orderBy(col("day").desc)))
      .filter(col("rn") === 1)
      .select(col("series"), col("day"), col("ema_num"), col("ema_den"))
  }
}
