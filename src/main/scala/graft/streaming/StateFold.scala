package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.pipeline.Pipeline

/** The fold rules of the stream operators, each written once.
  *
  * Parquet-state folds ([[fold]]): an operator says how a batch merges
  * into its state; this harness owns the rest:
  *   1. read the state ([[Pipeline.pathExists]] first heals a swap that
  *      a crash interrupted);
  *   2. require the parameters stamped on the state to be the caller's;
  *   3. for an ADDITIVE fold only, skip a batch at or below the recorded
  *      high-water;
  *   4. merge, stamp the parameters and the high-water on every row, and
  *      publish with one [[Pipeline.swapWrite]].
  *
  * Step 3 is the mergeable-summary split. An IDEMPOTENT state (max, OR,
  * set union, keyed upsert) absorbs a re-delivered batch by its algebra
  * and needs no guard. An ADDITIVE state (counts, sums) would count a
  * re-delivered batch twice, so it names a high-water column. That
  * column lives in the state table itself, so the one swap publishes
  * state and high-water together: a crash leaves both old or both new.
  *
  * A state with no rows (from an empty first batch) carries no
  * parameters and no high-water, and merges as if there were no state.
  *
  * Per-key folds ([[keyed]]) keep one state per key in Spark's state
  * store, which checkpoints it with the offsets, so a replayed batch
  * restarts from the state before it. What such a fold must still absorb
  * is a redelivered or late observation, and its algebra decides how:
  *   - COMMUTATIVE (Cdc's counts, running totals): any order and any
  *     micro-batching give the same state;
  *   - SET SEMANTICS (TopK's best-k set, Postings' doc-id cursor,
  *     Funnel's earliest stage times): a redelivered observation is
  *     already in the state and changes nothing.
  * These two are their own replay rule and use [[keyed]] alone. A fold
  * that is neither, a prefix fold over positions (Ema, Cusum,
  * SeriesFill, Debounce, Attribution, Anomaly), folds through
  * [[inOrder]]: an exact redelivery of the last folded observation is
  * skipped, any other observation at or before it raises.
  */
object StateFold {

  /** Run `fold` on each micro-batch of `stream` with its batch id — the
    * one `foreachBatch` site of the stream operators. */
  def start(stream: DataFrame, checkpointDir: String, outputMode: String = "append")
           (fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) => fold(b.toDF(), id) }
      .start()

  /** The table at `path`, or an empty one with `like`'s schema when
    * nothing has been published there yet. */
  def stored(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    if (Pipeline.pathExists(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], like.schema)

  /** The values stamped in columns `cols` of a state (the same on every
    * row), or None for a state with no rows. */
  def stamp(st: DataFrame, cols: Seq[String]): Option[Row] = {
    val r = st.agg(max(col(cols.head)), cols.tail.map(c => max(col(c))): _*).first()
    if (r.isNullAt(0)) None else Some(r)
  }

  /** Fold one micro-batch into the state at `path`.
    *
    * @param op     operator name, for the parameter-drift message
    * @param params parameters the state must have been built with
    * @param hi     additive folds only: (high-water column, batch id)
    * @param merge  the new state, unstamped, from the stored one without
    *               its stamped columns (None when there is none) */
  def fold(spark: SparkSession, path: String, op: String,
           params: Seq[(String, Int)] = Nil, hi: Option[(String, Long)] = None)
          (merge: Option[DataFrame] => DataFrame): Unit = {
    val (names, wanted) = params.unzip
    val stamped = names ++ hi.map(_._1)
    val stored =
      if (Pipeline.pathExists(spark, path)) Some(spark.read.parquet(path)) else None
    val head = if (stamped.isEmpty) None else stored.flatMap(stamp(_, stamped))
    head.foreach { r =>
      val built = names.indices.map(r.getInt)
      def show(vs: Seq[Int]) = names.zip(vs).map { case (n, v) => s"$n=$v" }.mkString(",")
      require(built == wanted,
        s"$op state at $path was built with ${show(built)}, not ${show(wanted)}")
    }
    val replay = hi.exists { case (_, batchId) =>
      head.exists(r => batchId <= r.getLong(names.size)) }
    if (!replay) {
      val state = if (stamped.nonEmpty && head.isEmpty) None
        else stored.map(_.drop(stamped: _*))
      val stamps = params.map { case (c, v) => c -> lit(v) } ++
        hi.map { case (c, id) => c -> lit(id) }
      Pipeline.swapWrite(spark,
        stamps.foldLeft(merge(state)) { case (d, (c, v)) => d.withColumn(c, v) }, path)
    }
  }

  /** Group `rows` by `key` and fold each key's slice of a micro-batch
    * into its stored state: `fold(key, slice, stored)` returns the state
    * to store and the rows to emit. The state is None only while a key
    * has nothing to keep (an as-of key that has seen no right row yet);
    * the stored state is then left as it is. The one `*GroupsWithState`
    * site of the stream operators.
    *
    * @param mode    Update for the one-row-per-key operators, Append for
    *                those that emit per event
    * @param initial state loaded for its keys before the first batch */
  def keyed[R, K: Encoder, S: Encoder, O: Encoder](
      rows: Dataset[R], key: R => K, mode: OutputMode = OutputMode.Update(),
      initial: Option[KeyValueGroupedDataset[K, S]] = None)
      (fold: (K, Seq[R], Option[S]) => (Option[S], Seq[O])): Dataset[O] = {
    val step = (k: K, it: Iterator[R], state: GroupState[S]) => {
      val (next, out) = fold(k, it.toSeq, state.getOption)
      next.foreach(state.update)
      out.iterator
    }
    val grouped = rows.groupByKey(key)
    initial.fold(grouped.flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout())(step))(
      init => grouped.flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout(), init)(step))
  }

  /** The in-order rule of the order-dependent per-key folds: fold the
    * slice `obs` into `state` in position order. An observation whose
    * mark equals the last folded one is an exact redelivery and is
    * skipped; any other observation must sit after the last folded
    * position, or the fold raises (a silent fold would make stream and
    * batch disagree).
    *
    * @param mark what a state remembers of an observation: equal marks
    *             are the same observation
    * @param last the last folded mark of a state, None before any
    * @param pos  the position order of marks
    * @param step fold one observation */
  def inOrder[A, M, S](obs: Seq[A], state: S)(mark: A => M, last: S => Option[M])
      (step: (S, A) => S)(implicit pos: Ordering[M]): S =
    obs.sortBy(mark).foldLeft(state) { (st, a) =>
      val m = mark(a)
      last(st) match {
        case Some(l) if l == m => st
        case l =>
          l.foreach(l => require(pos.gt(m, l), s"out-of-order or contradictory $m after $l"))
          step(st, a)
      }
    }
}
