package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Profile

/** Streaming table profiling — [[Profile]]'s per-column statistics
  * maintained incrementally over an arriving feed. Works because every
  * statistic in the sketch profile MERGES associatively: row/null
  * counts add, min/max combine with least/greatest, and the KMV sketch
  * unions-and-trims (the [[VocabStream]] homomorphism). The streamed
  * state therefore equals the one-shot batch profile of everything
  * delivered, for any micro-batching (ProfileStreamSpec).
  *
  * Exactly-once for the COUNTS (which, unlike the KMV union, are not
  * replay-absorbing — re-adding a batch double-counts) comes from
  * [[StateFold]]'s additive replay rule: the state table stores the
  * last applied `batchId` in column `batch_id`, and a replayed
  * micro-batch (the at-least-once crash contract, which re-delivers
  * the SAME batch content under the same id) is skipped as a no-op.
  * Structured Streaming guarantees batch-content determinism per id
  * for replayable sources, which is exactly the precondition this
  * needs.
  *
  * Scale posture: state is one row per COLUMN (k longs + 4 scalars) —
  * constant in the corpus; per batch the work is Profile's one
  * aggregation pass over the batch.
  */
object ProfileStream {

  /** Fold a batch's sketch profile into the persisted state. */
  def mergeProfiles(state: DataFrame, batch: DataFrame, k: Int): DataFrame = {
    def nz(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
    // Fail fast on dtype drift between batches (schema evolution):
    // sketches built under different hash normalizations (quantized-
    // double vs plain-string) must never merge silently — the distinct
    // estimate would corrupt under the coalesced dtype.
    val dtype = when(
      col("dt_a").isNotNull && col("dt_b").isNotNull && col("dt_a") =!= col("dt_b"),
      raise_error(concat(lit("ProfileStream dtype drift for column "),
        col("column_name"), lit(": state has "), col("dt_a"),
        lit(", batch has "), col("dt_b"))))
      .otherwise(coalesce(col("dt_a"), col("dt_b")))
    state.select(col("column_name"), col("dtype").as("dt_a"),
      col("n_rows").as("r_a"), col("n_nulls").as("u_a"),
      col("kmv").as("k_a"), col("qsk").as("q_a"),
      col("min_num").as("mn_a"), col("max_num").as("mx_a"))
      .join(batch.select(col("column_name"), col("dtype").as("dt_b"),
        col("n_rows").as("r_b"), col("n_nulls").as("u_b"),
        col("kmv").as("k_b"), col("qsk").as("q_b"),
        col("min_num").as("mn_b"), col("max_num").as("mx_b")),
        Seq("column_name"), "full_outer")
      .select(col("column_name"),
        dtype.as("dtype"),
        (nz(col("r_a")) + nz(col("r_b"))).as("n_rows"),
        (nz(col("u_a")) + nz(col("u_b"))).as("n_nulls"),
        graft.operators.Kmv.mergeArrays(col("k_a"), col("k_b"), k).as("kmv"),
        // the pair sample only merges for numeric columns; non-numeric
        // stay null on both sides (mergePairs of two nulls is empty —
        // keep null instead so the schema contract is stable)
        when(col("q_a").isNull && col("q_b").isNull, lit(null)
            .cast("array<struct<hv:bigint,v:double>>"))
          .otherwise(graft.operators.QSketch.mergePairs(col("q_a"), col("q_b"), k))
          .as("qsk"),
        least(col("mn_a"), col("mn_b")).as("min_num"),
        greatest(col("mx_a"), col("mx_b")).as("max_num"))
  }

  /** Apply one micro-batch to `statePath` (an additive [[StateFold]]
    * stamped with k, high-water column `batch_id`). A batchId at or
    * below the recorded high-water mark is a crash replay — skipped
    * entirely, so the additive counts stay exact. Exposed for direct
    * testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, k: Int = Profile.DefaultK): Unit = {
    if (batch.isEmpty) return // an empty batch would seed NULL sums into state
    val b = Profile.sketchProfile(batch, k)
    StateFold.fold(spark, statePath, "ProfileStream", Seq("k" -> k),
        Some("batch_id" -> batchId))(_.fold(b)(s => mergeProfiles(upgraded(s), b, k)))
  }

  /** Reader-facing view of the state: the estimate-derived profile,
    * using the k RECORDED in the state — a reader with a mismatched
    * default k would otherwise silently report a saturated sketch as
    * an exact distinct count. */
  def currentProfile(spark: SparkSession, statePath: String): DataFrame = {
    val st = upgraded(spark.read.parquet(statePath))
    Profile.withEstimate(st.drop("batch_id", "k"),
      st.select(col("k")).first().getInt(0))
  }

  /** Schema upgrade shim: state persisted before the quantile-sketch
    * column existed gains a typed-null `qsk`, so a restart on new code
    * merges cleanly instead of dying on an unresolved column (the
    * quantile estimates then warm up from post-upgrade batches; counts
    * and KMV history are preserved). */
  private def upgraded(st: DataFrame): DataFrame =
    if (st.columns.contains("qsk")) st
    else st.withColumn("qsk",
      lit(null).cast("array<struct<hv:bigint,v:double>>"))

  /** Wire a row stream into the profile state table. */
  def start(rows: DataFrame, statePath: String, checkpointDir: String,
            k: Int = Profile.DefaultK): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(rows, checkpointDir) { (b, id) =>
      processBatch(b.sparkSession, b, id, statePath, k)
    }
}
