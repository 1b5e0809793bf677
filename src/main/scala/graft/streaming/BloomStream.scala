package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bloom

/** Streaming Bloom-membership maintenance — the history sketch behind
  * q82's decontamination, folded incrementally as deliveries arrive:
  * an ingestion pipeline keeps ONE words-sized bitset state and probes
  * each incoming batch against everything that came before, without
  * ever re-scanning (or even retaining) the history.
  *
  * Why stream == batch, exactly: the sketch is a bit_or fold, which is
  * associative, commutative AND IDEMPOTENT — so any micro-batching
  * gives the batch sketch (BloomStreamSpec's union law), and unlike
  * the additive CMS ([[CmsStream]]'s batchId high-water guard) a
  * replayed batch re-ORs bits that are already set: replays are
  * absorbed by the algebra itself, no ledger needed. The word count is
  * stamped into the state and a mismatched caller fails loudly —
  * bit_or-merging words hashed under different widths corrupts the
  * membership answers silently otherwise.
  *
  * Scale posture: state is <= words rows regardless of history size;
  * each batch is one map pass + one bounded bit_or agg + a words-sized
  * merge.
  */
object BloomStream {

  /** Fold one micro-batch of keys into the sketch state at `statePath`
    * (an idempotent [[StateFold]] stamped with `words`). Exposed for
    * direct testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                   statePath: String, words: Int): Unit = {
    import spark.implicits._
    val b = Bloom.build(batch.select(col(keyCol)), keyCol, words)
    StateFold.fold(spark, statePath, "BloomStream", Seq("words" -> words)) { st =>
      // sentinel (word = -1) carries the width metadata even for an
      // all-empty state — same contract as CmsStream's sentinel
      st.fold(b)(wordRows(_).unionByName(b)
          .groupBy(col("word")).agg(bit_or(col("bits")).as("bits")))
        .unionByName(Seq((-1L, 0L)).toDF("word", "bits"))
    }
  }

  /** Real word rows of a persisted state (metadata sentinel filtered
    * out). */
  private def wordRows(st: DataFrame): DataFrame =
    st.filter(col("word") >= 0).select(col("word"), col("bits"))

  /** Probe `probes`' `keyCol` against the persisted sketch, using the
    * width RECORDED in the state. Adds boolean `maybeCol`. */
  def currentProbe(spark: SparkSession, statePath: String, probes: DataFrame,
                   keyCol: String, maybeCol: String): DataFrame = {
    val st = spark.read.parquet(statePath)
    val words = st.select(col("words")).first().getInt(0)
    Bloom.probe(probes, wordRows(st), keyCol, words, maybeCol)
  }

  /** Wire a keyed stream into the sketch state. */
  def start(stream: DataFrame, keyCol: String, statePath: String,
            checkpointDir: String, words: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(stream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, keyCol, statePath, words)
    }
}
