package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{SigIndex, VectorOps}

/** Streaming sign-hash index ingestion — new vectors packed to their
  * 1-bit signatures as they ARRIVE and appended to the persisted
  * [[SigIndex]], so the serving index q203 probes stays current without
  * repacking the corpus (VERDICT r9 #5 — the last serving index gains
  * its streaming path; the IVF analog is [[IvfStream]], the lexical
  * analog is [[graft.operators.TextIndex.writeDelta]]'s foreachBatch
  * use).
  *
  * Why stream == batch, exactly: signature packing is a PER-ROW pure
  * function of the vector ([[VectorOps.signSig]] — no trained state,
  * not even centroids), so ANY split of the corpus into micro-batches
  * yields the identical (vid, sig, q, n2) set, and a probe of the
  * stream-built index answers bit-identically to one built in a single
  * batch (SigIndexSpec proves it across an arbitrary split).
  *
  * Replay discipline: each micro-batch becomes segment <batchId> via
  * [[SigIndex.writeDelta]] — per-segment overwrite makes a redelivered
  * batch rewrite its own segment with identical content, so
  * at-least-once delivery is absorbed BY IDEMPOTENCE, no ledger
  * (the TextIndex streaming discipline; replay no-op proved in
  * SigIndexSpec).
  *
  * Scale posture: per batch the work is one map-only codegen'd bit
  * fold over the batch's rows — no shuffle, no state read, no corpus
  * scan; segments accumulate until [[SigIndex.compactInPlace]] folds
  * them back to one through the tier commit (or
  * [[SigIndex.rebuildInPlace]] repacks a corpus snapshot). Compaction
  * of a stream-fed index runs only at a COMMITTED stream boundary —
  * see [[SigIndex.compactInPlace]]'s streaming order contract.
  */
object SigStream {

  /** Pack one micro-batch of (vec_id, embedding ARRAY<DOUBLE>) rows to
    * the quantized form the index stores — identical math to the batch
    * build's input (quantize → exact integer norm). */
  def quantizeBatch(batch: DataFrame): DataFrame =
    batch
      .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))

  /** Fold one micro-batch into persisted index `name` under `dir` as
    * segment `batchId`. Contract: vec_ids disjoint across batches
    * (append-only corpus), exactly [[SigIndex.appendDelta]]'s. */
  def processBatch(batch: DataFrame, name: String, dir: String,
                   meta: SigIndex.Meta, batchId: Long): Unit =
    SigIndex.writeDelta(batch.sparkSession, quantizeBatch(batch),
      name, dir, meta, segId = batchId)

  /** Wire a (vec_id, embedding) stream into the persisted index. */
  def start(vecStream: DataFrame, name: String, dir: String,
            meta: SigIndex.Meta, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(vecStream, checkpointDir) { (b, id) =>
      processBatch(b, name, dir, meta, id)
    }
}
