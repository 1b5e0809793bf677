package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hll, TextOps}

/** Streaming HyperLogLog maintenance — per-source distinct-5-gram
  * registers (q148, operators/Hll) folded incrementally as documents
  * arrive, joining the sketch tier's streaming twins (KMV →
  * VocabStream, frequency → CmsStream, quantiles → ProfileStream).
  *
  * Why stream == batch, exactly: registers are a MAX over the input
  * set, and max is idempotent, commutative and associative — so
  * merge(registers(A), registers(B)) = registers(A ∪ B) for ANY split
  * into micro-batches, and re-delivering a batch is a no-op. Unlike
  * CmsStream's additive counters, NO replay high-water guard is
  * needed: at-least-once delivery is absorbed by the algebra itself
  * (HllStreamSpec's replay law).
  *
  * Scale posture: state is ≤ m=256 register rows per source
  * (kilobytes, independent of corpus size); each batch contributes
  * one map pass + two bounded hash aggregates + a register-table
  * max-merge.
  */
object HllStream {

  /** Fold one micro-batch of (source, text, ...) document rows into
    * the register state at `statePath` (an idempotent [[StateFold]]).
    * Exposed for direct testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   statePath: String): Unit = {
    val g = batch.select(col("source"),
      explode(TextOps.gramHashes(TextOps.tokens(col("text")), 5)).as("hv"))
    val b = Hll.registers(g, "source", "hv")
    StateFold.fold(spark, statePath, "HllStream")(_.fold(b)(Hll.merge(_, b, "source")))
  }

  /** Per-source estimates from the persisted register state — same
    * columns as the batch q148 estimator (minus the exact baseline). */
  def currentEstimates(spark: SparkSession, statePath: String): DataFrame =
    Hll.estimate(spark.read.parquet(statePath), "source")

  /** Wire a (source, text, ...) document stream into the register
    * state. */
  def start(docsStream: DataFrame, statePath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, statePath)
    }
}
