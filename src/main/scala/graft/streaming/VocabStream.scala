package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming vocabulary tracking — the KMV distinct sketch (q58,
  * plans/KmvSketchLong) maintained incrementally as documents ARRIVE.
  * The E4 sketch counterpart of [[NearDupStream]]'s band index: a
  * per-source state table holds the bottom-k token hashes seen so far;
  * each micro-batch folds its own batch-local sketch into it.
  *
  * Why stream == batch, exactly: a KMV sketch is "the k smallest
  * distinct values of the input SET" — a set-union homomorphism.
  * merge(sketch(A), sketch(B)) = sketch(A ∪ B), bit for bit, for ANY
  * split of the corpus into micro-batches, so the streamed state equals
  * the one-shot q58 aggregate over the same documents (proved in
  * VocabStreamSpec). The same property makes replays absorbing:
  * re-delivering a batch unions values already in the sketch — a no-op
  * — so the at-least-once micro-batch contract needs no dedup ledger.
  *
  * Monotone contract (stated, not hidden): a KMV sketch tracks the
  * distinct-token set of everything EVER seen. Re-delivering a CHANGED
  * document adds its new tokens but cannot retract the old version's —
  * no bottom-k sketch supports deletion. Downstream readers get "vocab
  * of the union of all delivered versions", which is the standard
  * sketch semantics (and the honest one for an append-only feed).
  *
  * Scale posture: state is ≤ k longs per source (2 KB at k=256) — the
  * whole table for a 10k-source catalog is ~20 MB, broadcastable into
  * the merge. Per batch the work is one map pass + one k-bounded agg;
  * nothing corpus-global is ever touched.
  */
object VocabStream {

  val DefaultK = 256

  /** Batch-local per-source sketch: (source, kmv ARRAY<BIGINT> sorted
    * ASC). Built on the SAME [[graft.operators.Kmv]] algebra as the
    * q58/q61 batch queries, so streamed sketches are comparable
    * against the batch query by construction. */
  def batchSketch(docs: DataFrame, k: Int = DefaultK): DataFrame =
    graft.operators.Kmv.sourceVocabSketch(docs, k)
      .select(col("source"), col("kmv"))

  /** Fold a batch-local sketch into the persisted state: per source,
    * union of the two bottom-k sets re-trimmed to bottom-k
    * ([[graft.operators.Kmv.mergeArrays]] — exactly the KmvSketchLong
    * merge semantics, as pure codegen-friendly built-ins). */
  def mergeSketches(state: DataFrame, batch: DataFrame, k: Int): DataFrame =
    state.select(col("source"), col("kmv").as("a"))
      .join(batch.select(col("source"), col("kmv").as("b")), Seq("source"), "full_outer")
      .select(col("source"),
        graft.operators.Kmv.mergeArrays(col("a"), col("b"), k).as("kmv"))

  /** Derive the distinct estimate from a sketch column — the shared
    * bottom-k formula. `k` MUST be the k the sketch was built with
    * (persisted state carries it; see [[currentEstimates]]). */
  def withEstimate(state: DataFrame, k: Int = DefaultK): DataFrame =
    state.select(col("source"),
      size(col("kmv")).cast("long").as("kmv_n"),
      element_at(col("kmv"), -1).as("kmv_kth"),
      graft.operators.Kmv.estimate(col("kmv"), k).as("est_distinct"))

  /** Estimates from a persisted state table, using the k RECORDED in
    * the state — a reader with a mismatched default k would otherwise
    * silently report a saturated sketch as an exact count. A state with
    * no rows records no k and has no estimates. */
  def currentEstimates(spark: SparkSession, statePath: String): DataFrame = {
    val st = spark.read.parquet(statePath)
    withEstimate(st.drop("k"),
      StateFold.stamp(st, Seq("k")).fold(DefaultK)(_.getInt(0)))
  }

  /** Process one micro-batch of (doc_id, text, source) rows, folding its
    * sketch into `statePath` (an idempotent [[StateFold]] stamped with
    * k: a mismatched caller fails loudly rather than merging
    * incompatible sketches). Exposed for direct testing; [[start]] runs
    * it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                   k: Int = DefaultK): Unit = {
    val b = batchSketch(batch, k)
    StateFold.fold(spark, statePath, "VocabStream", Seq("k" -> k))(
      _.fold(b)(mergeSketches(_, b, k)))
  }

  /** Wire a (doc_id, text, source) stream into the sketch state table. */
  def start(docsStream: DataFrame, statePath: String, checkpointDir: String,
            k: Int = DefaultK): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, statePath, k)
    }
}
