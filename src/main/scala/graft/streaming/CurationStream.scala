package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Streaming curation — the quality funnel + domain-mixture sampler
  * (TextQueries q48/q49's decision rules) applied to documents as they
  * ARRIVE, maintaining a persisted table of surviving documents. The
  * E4 counterpart of [[NearDupStream]] (E2) and
  * [[EventStreams.dedupStream]] (E1): batch and stream share one rule
  * implementation ([[Curation]]), so micro-batching cannot change WHAT
  * survives — only when it lands.
  *
  * Why this is exactly-once: every rule is a deterministic pure
  * function of the document row alone (no cross-document state, unlike
  * near-dup), and the persisted table stores a VERDICT row for every
  * document — kept or not — keyed by doc_id. A replayed micro-batch
  * (the at-least-once micro-batch contract after a crash) re-derives
  * identical verdicts (in-batch doc_id conflicts resolve by a
  * deterministic lexicographic-max rule, never partition order) and
  * [[EventStreams.mergeBatch]]'s keyed upsert absorbs them as a no-op.
  * Recording rejections matters for re-delivery: if a NEW version of a
  * document arrives later and fails the funnel, its verdict row flips
  * to kept=false — a survivors-only table could never un-keep it.
  * Last-writer-wins per doc_id across batches (standard CDC upsert
  * semantics); within a batch the winner is deterministic.
  *
  * Scale posture: per batch the work is O(batch) — one map-side pass
  * for token/stop counts plus the batch-local bigram agg; the merge
  * rewrites only the verdict table (on Delta/Iceberg it becomes a keyed
  * MERGE INTO through the same seam as [[EventStreams.mergeSink]]).
  */
object CurationStream {

  /** One-shot batch reference: the kept set the stream must converge to
    * on the same corpus (unique doc_ids), regardless of micro-batching. */
  def batchKept(docs: DataFrame): DataFrame = Curation.keptDocs(docs)

  /** Per-doc verdicts for one batch: (doc_id, source, p_funnel, kept) —
    * the funnel flag rides along separately so downstream consumers
    * (the streaming curated corpus's stage manifest) can attribute a
    * rejection to quality vs mixture. In-batch doc_id conflicts
    * (re-delivery landing in the same batch) resolve to the
    * lexicographically greatest (text, source) version — an arbitrary
    * but TOTAL rule, so replays derive identical verdicts regardless of
    * partition order. */
  def batchVerdicts(docs: DataFrame): DataFrame = {
    val one = docs.select(col("doc_id"), col("text"), col("source"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("text"), col("source"))).as("v"))
      .select(col("doc_id"), col("v.text").as("text"), col("v.source").as("source"))
    Curation.funnelFlags(one)
      .select(col("doc_id"), col("source"),
        (col("p_len") && col("p_rep") && col("p_stop")).as("p_funnel"),
        (col("p_len") && col("p_rep") && col("p_stop") &&
          Curation.mixtureKeep(col("doc_id"), col("source"))).as("kept"))
  }

  /** Process one micro-batch of (doc_id, text, source) rows, upserting
    * verdicts into `verdictPath`. Exposed for direct testing (replay =
    * no-op); [[start]] runs it on each batch through
    * [[StateFold.start]]. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   verdictPath: String): Unit =
    EventStreams.mergeBatch(spark, batchVerdicts(batch), verdictPath,
      keys = Seq("doc_id"))

  /** Wire a (doc_id, text, source) stream into the verdict table. */
  def start(docsStream: DataFrame, verdictPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, verdictPath)
    }
}
