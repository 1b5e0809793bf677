package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Exact

/** Structured Streaming forms of the event-time operators (SURVEY §2.10,
  * §2.11 E6). The aggregation expressions are IDENTICAL to the batch
  * queries (EventQueries q29/q30) — `window` / `session_window` — so
  * batch and streaming stay semantically aligned; streaming adds the
  * watermark, which bounds state and admits late data up to the bound.
  *
  * At scale: both aggs shuffle by (window/session, key) with map-side
  * partials; state store size is O(open windows x keys), bounded by the
  * watermark horizon — the properties that survive a 1000-executor run.
  */
object EventStreams {

  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, tus TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** File-based streaming source over an arriving-parquet directory —
    * the production entry (`spark.readStream`). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling event-time windows with a lateness watermark. */
  def tumblingAgg(events: DataFrame, windowLength: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("tus", watermark)
      .groupBy(window(col("tus"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.exactSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup (E1's streaming form): drop repeat deliveries
    * of the same key within the watermark horizon — Spark keeps one
    * state entry per key and expires it past the watermark, so state
    * stays bounded (the at-least-once → exactly-once repair step of an
    * ingestion pipeline). */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("tus", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** STREAM-STREAM interval (attribution) join — q62's streaming form:
    * each click paired with the purchases the same user makes in the
    * following `horizon`. Both sides carry watermarks and the join
    * condition carries the time bound, which is what lets Spark expire
    * buffered rows (a click older than watermark + horizon can never
    * match a future purchase, so its state is dropped) — without the
    * bound, stream-stream join state grows forever. Output rows are
    * the raw (click_id, p_ts, value) pairs; the q62 aggregation is a
    * downstream concern (and needs its own watermark if streamed).
    *
    * The predicate is IDENTICAL to q62's batch join, so stream and
    * batch cannot drift (EventStreamsSpec proves pair-set equality).
    *
    * @param clicks    streaming (click_id, user_id, click_ts) rows
    * @param purchases streaming (p_user, p_ts, value) rows
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      horizon: String = "30 minutes",
                      watermark: String = "10 minutes"): DataFrame =
    clicks.withWatermark("click_ts", watermark)
      .join(purchases.withWatermark("p_ts", watermark),
        col("user_id") === col("p_user") &&
          col("p_ts") > col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("click_id"), col("user_id"), col("p_ts"), col("value"))

  /** Custom arbitrary-state streaming op (SURVEY §2.10 extension; a
    * commutative [[StateFold.keyed]] fold): running per-user
    * cumulative spend — state the built-in windows cannot express
    * (unbounded accumulation across batches, one state row per user,
    * emitted on every update). Input rows: (user_id, value). */
  def runningUserTotals(events: Dataset[(Long, Double)]): Dataset[(Long, Double, Long)] = {
    import events.sparkSession.implicits._
    StateFold.keyed(events, (_: (Long, Double))._1) {
      (user: Long, batch: Seq[(Long, Double)], stored: Option[(Double, Long)]) =>
        val (prevSum, prevN) = stored.getOrElse((0.0, 0L))
        val next = (prevSum + batch.map(_._2).sum, prevN + batch.size)
        (Some(next), Seq((user, next._1, next._2)))
    }
  }

  /** Exactly-once streaming load into a parquet warehouse table —
    * the `writeStream` half of E6 a production ingestion pipeline needs
    * (reference analog: load.py:23's "MERGE by keys").
    *
    * Exactly-once = at-least-once delivery (checkpointed offsets +
    * aggregation state; a killed query resumes from the checkpoint) x an
    * IDEMPOTENT merge: a micro-batch may be replayed after a crash,
    * and in update mode each trigger emits refreshed totals for touched
    * keys — both are absorbed because the merge is a keyed upsert
    * (anti-join out the old rows for the batch's keys, union the new),
    * so applying the same batch twice is a no-op. At scale the anti-join
    * is an equi-join on the merge keys and the rewrite goes through the
    * same temp-dir-and-swap as the batch pipeline (object-store safe);
    * with a transactional table format the same shape becomes a real
    * MERGE INTO, no code change above this seam.
    */
  def mergeSink(agg: DataFrame, tablePath: String, checkpointDir: String,
                keys: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(agg, checkpointDir, "update") { (b, _) =>
      mergeBatch(b.sparkSession, b, tablePath, keys)
    }

  /** One idempotent upsert of `batch` into the parquet table at `path`:
    * rows whose `keys` appear in the batch are replaced, everything else
    * is kept (an idempotent [[StateFold]]). Exposed for direct testing
    * (replay = no-op). */
  def mergeBatch(spark: SparkSession, batch: DataFrame, path: String,
                 keys: Seq[String]): Unit = {
    val fresh = batch.dropDuplicates(keys)
    StateFold.fold(spark, path, "EventStreams")(_.fold(fresh)(
      _.join(broadcast(fresh.select(keys.map(col): _*)), keys, "left_anti")
        .unionByName(fresh)))
  }

  /** Gap-based session windows with a lateness watermark. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("tus", watermark)
      .groupBy(session_window(col("tus"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Exact.exactSum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))
}
