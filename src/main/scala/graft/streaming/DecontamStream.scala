package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.pipeline.Pipeline

/** Streaming eval-set decontamination — the incremental form of
  * TextQueries q45/q47 (the last of the curation rules to get a
  * streaming counterpart: funnel/mixture = [[CurationStream]],
  * near-dup = [[NearDupStream]], exact dedup = [[EventStreams]]).
  *
  * Documents arrive as a stream; each is either EVAL (the benchmark
  * slice, [[Curation.isEval]]) or TRAIN. The operator maintains three
  * persisted stores:
  *   - `train_grams`  (doc_id, h1, h2): each train doc's distinct
  *     md5-derived 5-gram keys (gram text never stored or shuffled);
  *   - `eval_grams`   (h1, h2): the distinct gram set of the eval
  *     corpus seen so far;
  *   - `counts`       (doc_id, n_grams, n_hits): per-train-doc overlap,
  *     ALWAYS equal to [[Curation.contaminationCounts]] over the
  *     documents delivered so far (the spec proves it for any
  *     micro-batching).
  *
  * The hard case this handles that a batch pass gets for free: an eval
  * document arriving AFTER a train document must flip the train doc's
  * verdict. Per batch, the only stored train docs rescored are those
  * holding at least one TRULY-NEW eval gram (an equi-join of the new
  * eval grams against the train-gram store) — everything else is
  * provably unchanged. The rescore itself is ABSOLUTE (recount against
  * the full eval store), never an increment, which is what makes every
  * merge idempotent under at-least-once micro-batch replays
  * regardless of where a crash lands:
  *   - counts are merged FIRST (the pairs-before-index discipline from
  *     [[NearDupStream]]): a crash before the gram stores admit the
  *     batch re-derives the same absolute counts on replay;
  *   - a replay after full commit finds no truly-new eval grams and
  *     rescores only the batch's own docs to identical values — no-op.
  *
  * Re-delivered CHANGED train documents are first-class (new-wins: the
  * doc's old gram rows are excluded from scoring and replaced in the
  * store, its counts row is recomputed from the new text). The EVAL
  * store, by contrast, is a MONOTONE gram set: an eval doc update can
  * add grams but never retract its old ones — retraction needs per-doc
  * gram provenance (refcounts), which is the transactional-table-format
  * upgrade step, not a rule change. State the contract: eval documents
  * are append-only/immutable.
  *
  * Scale posture: per batch the work is O(batch grams) + O(grams of
  * affected docs) — affected docs are found by one equi-join of the
  * (tiny) truly-new eval gram set against the hash-keyed train-gram
  * store, and at 100 TB the stores are hive-partitioned by a hash
  * prefix so that join prunes. Nothing ever rescans raw text: all
  * state is 16-byte keys.
  */
object DecontamStream {

  /** One-shot batch reference: the counts the stream must converge to
    * on the same corpus, regardless of micro-batching. */
  def batchCounts(docs: DataFrame): DataFrame = Curation.contaminationCounts(docs)

  /** Contaminated doc_ids from a counts table — q47's drop rule applied
    * to the streaming state. */
  def contaminatedIds(counts: DataFrame): DataFrame =
    counts.filter(Curation.contaminationDrop(col("n_grams"), col("n_hits")))
      .select(col("doc_id"))

  /** Process one micro-batch of (doc_id, text) rows against the stores
    * under `indexDir`, upserting per-train-doc counts into `countsPath`.
    * Exposed for direct testing; [[start]] runs it on each batch
    * through [[StateFold.start]]. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   indexDir: String, countsPath: String): Unit = {
    val trainGramsPath = s"$indexDir/train_grams.parquet"
    val evalGramsPath = s"$indexDir/eval_grams.parquet"

    // in-batch doc_id conflicts resolve to the lexicographically
    // greatest text (CurationStream's total-order rule), so replays
    // derive identical grams regardless of partition order
    val docsB = batch.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(max(col("text")).as("text"))
    val newTrainG = Curation.gramKeys(docsB.filter(!Curation.isEval(col("doc_id")))).persist()
    val newEvalG = Curation.gramKeys(docsB.filter(Curation.isEval(col("doc_id"))))
      .select(col("h1"), col("h2")).distinct().persist()
    try {
      val batchIds = docsB.select(col("doc_id"))
      // new-wins: a re-delivered train doc's OLD gram rows neither score
      // nor survive (replaced below); unchanged replays are unaffected
      val histTrain = StateFold.stored(spark, trainGramsPath, newTrainG)
        .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
      val allTrain = histTrain.unionByName(newTrainG)
      val storedEval = StateFold.stored(spark, evalGramsPath, newEvalG)
      val allEval = storedEval.unionByName(newEvalG).distinct()

      // only grams the eval store did NOT already hold can change a
      // stored doc's hit count — everything else is provably unchanged
      val trulyNewEval = newEvalG.join(storedEval, Seq("h1", "h2"), "left_anti")
      val affected = newTrainG.select(col("doc_id"))
        .unionByName(histTrain.join(broadcast(trulyNewEval), Seq("h1", "h2"), "left_semi")
          .select(col("doc_id")))
        .distinct()

      // ABSOLUTE rescore of affected docs against the full eval set —
      // idempotent by construction (replay recomputes the same values)
      val rescored = allTrain
        .join(broadcast(affected), Seq("doc_id"), "left_semi")
        .join(allEval.withColumn("__hit", lit(1L)), Seq("h1", "h2"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))

      // counts BEFORE the gram stores: a crash in between re-derives
      // the same counts on replay instead of missing the update
      EventStreams.mergeBatch(spark, rescored, countsPath, keys = Seq("doc_id"))
      // train grams: doc-level REPLACE (an upsert on (doc_id, h1, h2)
      // would leak a changed doc's stale gram rows)
      Pipeline.swapWrite(spark, histTrain.unionByName(newTrainG), trainGramsPath)
      EventStreams.mergeBatch(spark, newEvalG, evalGramsPath, keys = Seq("h1", "h2"))
    } finally {
      newTrainG.unpersist()
      newEvalG.unpersist()
    }
  }

  /** Wire a (doc_id, text) stream into the incremental index. */
  def start(docsStream: DataFrame, indexDir: String, countsPath: String,
            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, indexDir, countsPath)
    }
}
