package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Pipeline

/** The one micro-batch fold behind the stream operators. An operator
  * says how a batch merges into its state; this harness owns the rest:
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
}
