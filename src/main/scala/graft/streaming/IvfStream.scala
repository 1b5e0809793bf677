package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfLifecycle, VectorOps}

/** Streaming IVF index maintenance — new vectors assigned to a TRAINED
  * centroid set as they ARRIVE, so the ANN index the batch queries
  * serve (q40/q54/q57/q59) stays current without retraining or
  * re-scanning the corpus. The E3 counterpart of [[NearDupStream]]'s
  * band index and [[VocabStream]]'s sketch state.
  *
  * Why stream == batch, exactly: cell assignment is a PER-ROW pure
  * function of (vector, centroid set) — the same codegen'd
  * [[VectorOps.cellArgMax]] pass the batch path runs, against the same
  * frozen centroids. Assignment of a batch is independent of every
  * other batch, so ANY split of the corpus into micro-batches yields
  * the identical (vec_id, cell) set (proved in IvfStreamSpec), and
  * re-delivering a batch rewrites the same rows — idempotent by
  * construction (the state upsert is keyed on vec_id).
  *
  * Centroids are FROZEN between retrains, which is the production IVF
  * contract (FAISS et al.): assignment must be a pure function or the
  * index silently fragments — drift is handled by periodic batch
  * retraining (KMeans.fit) followed by one reassignment pass, never by
  * mutating centroids mid-stream.
  *
  * Scale posture: the centroid set is k = ⌈√n⌉ rows (a few MB at 10⁹
  * vectors) — broadcast into every batch; per batch the work is one
  * map-only argmax pass over the batch's rows (no shuffle, no corpus
  * scan). State grows as one (vec_id, cell) row per vector — at real
  * scale the upsert is a MERGE INTO on a keyed table; this module's
  * read-union-dedup-swap is the same semantics on plain parquet.
  */
object IvfStream {

  /** Assign a batch of (vec_id, embedding ARRAY<DOUBLE>) rows to the
    * trained cells: quantize, then the batch index's own frozen-centroid
    * assignment ([[IvfLifecycle.assignCells]]). */
  def assignBatch(batch: DataFrame, cents: DataFrame): DataFrame =
    IvfLifecycle.assignCells(batch
      .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q"))), cents, col("vec_id"))

  /** Fold one micro-batch into the assignment state at `statePath` (an
    * idempotent [[StateFold]]). Re-delivered vec_ids overwrite with the
    * same value (assignment is deterministic), so at-least-once
    * delivery needs no ledger; a CHANGED embedding under a reused
    * vec_id resolves to the newest batch's assignment via the
    * deterministic keep-one. */
  def processBatch(spark: SparkSession, batch: DataFrame, centroidPath: String,
                   statePath: String): Unit = {
    val cents = spark.read.parquet(centroidPath)
    // a vec_id duplicated WITHIN one batch must resolve the same way
    // under any partitioning — min cell is a pure function of the
    // duplicate set (micro-batch row order is not a meaningful
    // "newest" signal; order-sensitive upserts need a sequence column)
    val assigned = assignBatch(batch, cents)
      .groupBy(col("vec_id")).agg(min(col("cell")).as("cell"))
    // newest assignment wins per vec_id; ties (replays) are identical
    // rows, so min_by on (priority) is a pure dedup
    StateFold.fold(spark, statePath, "IvfStream")(_.fold(assigned)(st =>
      assigned.withColumn("__pri", lit(0)).unionByName(st.withColumn("__pri", lit(1)))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cell"), col("__pri")).as("cell"))))
  }

  /** Per-cell occupancy of the maintained index — the fragmentation /
    * skew signal a retrain decision reads (and the capCells input). */
  def cellStats(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell"))

  /** Wire a (vec_id, embedding) stream into the assignment state. */
  def start(vecStream: DataFrame, centroidPath: String, statePath: String,
            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(vecStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, centroidPath, statePath)
    }
}
