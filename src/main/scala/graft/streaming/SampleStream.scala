package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Kmv, Sampling}

/** Streaming priority-sample maintenance — the weight-proportional
  * top-k-per-source sample (q74, operators/Sampling.priorityPacked) kept
  * current as documents ARRIVE. Completes the sampling tier's streaming
  * story: a training-mix curator can hold a live, reproducible sample of
  * an append-only feed without ever rescanning it.
  *
  * Why stream == batch, EXACTLY (not just statistically): the sample is
  * "the k largest packed priorities per source", and packed priority is
  * a pure row function — so the state is a bottom-k set-union sketch
  * over negated priorities, the same homomorphism as [[VocabStream]]
  * (merge(topk(A), topk(B)) = topk(A ∪ B), bit for bit, any batch
  * split). SampleStreamSpec proves the streamed state equals the q74
  * batch winners. Replays are absorbing (set union of already-present
  * values), so no batch-id ledger is needed.
  *
  * Monotone contract: the sample reflects everything EVER delivered;
  * re-delivering a changed document competes its new priority against
  * the old one (both versions' ids may appear if ids differ). For an
  * append-only corpus feed — the intended use — this is exact.
  *
  * Scale posture: state is ≤ k longs per source; each batch does one
  * map pass + one k-bounded aggregate + a per-source array merge.
  * Nothing corpus-sized is kept or shuffled.
  */
object SampleStream {

  val DefaultK = 20

  /** Batch-local winners: (source, topk ARRAY<BIGINT> — NEGATED packed
    * priorities, sorted ASC) on the exact q74 algebra. */
  def batchSample(docs: DataFrame, k: Int = DefaultK,
                  prefix: String = "prio|"): DataFrame =
    docs.select(col("source"),
      Sampling.priorityPacked(prefix, col("doc_id"), col("n_chars")).as("pk"))
      .select(col("source"), (-col("pk")).as("npk"))
      .groupBy(col("source"))
      .agg(Kmv.sketch(col("npk"), k).as("topk"))

  /** Fold batch winners into the persisted state: per source, bottom-k
    * of the union ([[Kmv.mergeArrays]] — same merge as the aggregate). */
  def mergeSamples(state: DataFrame, batch: DataFrame, k: Int): DataFrame =
    state.select(col("source"), col("topk").as("a"))
      .join(batch.select(col("source"), col("topk").as("b")), Seq("source"), "full_outer")
      .select(col("source"), Kmv.mergeArrays(col("a"), col("b"), k).as("topk"))

  /** Unpack a state into sample rows: (source, doc_id, priority),
    * ordered like q74's winner set. */
  def currentSample(state: DataFrame): DataFrame = {
    val packed = state.select(col("source"), explode(col("topk")).as("neg"))
      .select(col("source"), (-col("neg")).as("pk"))
    val (prio, did) = Sampling.unpackPriority(col("pk"))
    packed.select(col("source"), did.as("doc_id"), prio.as("priority"))
      .orderBy(col("source"), col("priority").desc_nulls_last, col("doc_id"))
  }

  /** Process one micro-batch of (doc_id, source, n_chars, ...) rows (an
    * idempotent [[StateFold]] stamped with k: a mismatched caller fails
    * loudly rather than trimming a wider sample). Exposed for direct
    * testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                   k: Int = DefaultK): Unit = {
    val b = batchSample(batch, k)
    StateFold.fold(spark, statePath, "SampleStream", Seq("k" -> k))(
      _.fold(b)(mergeSamples(_, b, k)))
  }

  /** Wire a (doc_id, source, n_chars) stream into the sample state. */
  def start(docsStream: DataFrame, statePath: String, checkpointDir: String,
            k: Int = DefaultK): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, statePath, k)
    }
}
