package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact-distinct bitmap maintenance — q149's daily user
  * bitmaps (bucket = id>>5, 32-bit words, codegen'd bit_or) folded
  * incrementally as events arrive. The EXACT companion to
  * [[HllStream]]'s estimate: same algebra class (bitwise OR is
  * idempotent, commutative, associative — a set-union homomorphism),
  * so stream == batch for ANY micro-batching and at-least-once
  * redelivery is absorbed with NO high-water guard
  * (BitmapStreamSpec's replay law).
  *
  * Scale posture: state is (day, bucket, word) rows — bounded by
  * days × max_id/32, independent of event volume; each batch is one
  * map pass + one hash aggregate + a word-table OR-merge. The dense
  * integer-id contract is q149's: dictionary-encode ids first at
  * 100 TB, or switch to HllStream when approximate suffices.
  */
object BitmapStream {

  /** Fold one micro-batch of (day DATE, user_id BIGINT, ...) rows into
    * the word state at `statePath` (an idempotent [[StateFold]]).
    * Exposed for direct testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   statePath: String): Unit = {
    val b = words(batch)
    StateFold.fold(spark, statePath, "BitmapStream")(_.fold(b)(merge(_, b)))
  }

  /** (day, bucket, w) word table of a (day, user_id) frame. */
  def words(df: DataFrame): DataFrame =
    df.groupBy(col("day"), shiftright(col("user_id"), 5).as("bucket"))
      .agg(expr(
        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id & 31 AS INT)))")
        .as("w"))

  /** OR-merge of two word tables — idempotent, so replay-safe. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("day"), col("bucket"))
      .agg(expr("bit_or(w)").as("w"))

  /** Exact distinct users per day from the persisted word state. */
  def currentDaily(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("day"))
      .agg(sum(bit_count(col("w"))).as("dau"))

  /** Wire a (day, user_id, ...) stream into the word state. */
  def start(stream: DataFrame, statePath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(stream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, statePath)
    }
}
