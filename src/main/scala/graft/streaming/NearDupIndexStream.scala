package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.NearDupIndex

/** Streaming ingestion into the persisted [[NearDupIndex]] — new
  * documents mined to their band postings + shingle sets as they
  * ARRIVE and appended as segments, so the serving index stays current
  * without re-mining the corpus (VERDICT r11 #1's streaming leg; the
  * vector analog is [[SigStream]], the lexical analog is
  * [[graft.operators.TextIndex.writeDelta]]'s foreachBatch use).
  *
  * Why stream == batch, exactly: band postings and shingle sets are
  * PER-DOCUMENT pure functions (no trained state, no cross-document
  * statistics), so ANY split of the corpus into micro-batches yields
  * the identical row set, and a probe of the stream-built index
  * answers bit-identically to one built in a single batch
  * (NearDupIndexSpec proves it across an arbitrary split).
  *
  * Replay discipline: each micro-batch becomes segment <batchId> via
  * [[NearDupIndex.writeDelta]] — per-segment overwrite makes a
  * redelivered batch rewrite its own segment with identical content,
  * so at-least-once delivery is absorbed BY IDEMPOTENCE, no ledger.
  * Contract: doc_ids disjoint across batches (append-only corpus; the
  * UPDATE-capable sibling is [[NearDupStream]]'s merge store).
  * Compaction of a stream-fed index runs only at a COMMITTED stream
  * boundary — see [[graft.operators.SigIndex.compactInPlace]]'s
  * streaming order contract, which applies verbatim.
  *
  * The serving flow this enables: probe the index with each incoming
  * batch BEFORE appending it ("is this batch a near-dup of history?"),
  * then append — incremental corpus dedup at ingest, answered from an
  * openable artifact.
  */
object NearDupIndexStream {

  /** Fold one micro-batch of (doc_id, text) rows into persisted index
    * `name` under `dir` as segment `batchId`. Exposed for direct
    * testing (replay = no-op); [[start]] runs it on each batch through
    * [[StateFold.start]]. */
  def processBatch(batch: DataFrame, name: String, dir: String,
                   meta: NearDupIndex.Meta, batchId: Long): Unit =
    NearDupIndex.writeDelta(batch.sparkSession,
      batch.select("doc_id", "text"), name, dir, meta, segId = batchId)

  /** Wire a (doc_id, text) stream into the persisted index. */
  def start(docsStream: DataFrame, name: String, dir: String,
            meta: NearDupIndex.Meta, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, id) =>
      processBatch(b, name, dir, meta, id)
    }

  /** The INGEST-ADMISSION sink (VERDICT r12 #5): q214's probe-then-
    * append composition inside one micro-batch fold — each batch is
    * admission-judged against everything indexed BEFORE it
    * ([[NearDupIndex.admission]]: 'new'/'dup' + best match per
    * document; an empty index admits the first batch wholesale), the
    * verdicts land at `<verdictsDir>/seg=<batchId>`, and only then is
    * the batch appended as segment <batchId>.
    *
    * Exactly-once under replay, the subtle case: a batch written but
    * not checkpoint-committed is REDELIVERED after restart — its own
    * segment already exists, so a naive re-probe would find the batch
    * matching ITSELF (or, for a late operator-driven re-run, matching
    * segments that landed AFTER it). It cannot here: the probe is
    * anchored to segments with id < batchId
    * ([[NearDupIndex.probeBefore]] — directory pruning on the `seg`
    * partition level), so a re-probe at ANY later time sees exactly
    * the history that preceded the batch, the verdicts recompute
    * bit-identically, and both writes are per-segment overwrites —
    * replay is a no-op end to end (AdmissionStreamSpec proves it, and
    * proves stream verdicts == the batch probe-then-append loop across
    * arbitrary splits — the incremental-ingest law q214 pins).
    * Contract: a FRESH index dir (segment ids are the batch ids);
    * compaction folds history into seg=0 and forfeits the anchor —
    * compact only at committed stream boundaries, like every
    * stream-fed index. */
  def processAdmissionBatch(batch: DataFrame, name: String, dir: String,
                            meta: NearDupIndex.Meta, verdictsDir: String,
                            batchId: Long): Unit = {
    val docs = batch.select("doc_id", "text")
    // history = segments STRICTLY BELOW this batch id (directory-
    // pruned): a replayed batch is judged against exactly the history
    // that preceded it even when later segments already landed — the
    // seg < batchId anchor, stronger than the doc-id anti-join alone
    NearDupIndex.admission(batch.sparkSession, name, dir, docs,
        maxSegExclusive = Some(batchId))
      .write.mode("overwrite").parquet(s"$verdictsDir/seg=$batchId")
    NearDupIndex.writeDelta(batch.sparkSession, docs, name, dir, meta,
      segId = batchId)
  }

  /** Wire a (doc_id, text) stream through admission into the index. */
  def startAdmission(docsStream: DataFrame, name: String, dir: String,
                     meta: NearDupIndex.Meta, verdictsDir: String,
                     checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, id) =>
      processAdmissionBatch(b, name, dir, meta, verdictsDir, id)
    }
}
