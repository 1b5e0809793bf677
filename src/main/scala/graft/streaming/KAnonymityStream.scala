package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous k-anonymity / l-diversity monitoring — q187's release
  * gate maintained incrementally as rows ARRIVE, so a privacy breach
  * (an equivalence class dipping under k, or collapsing to one
  * sensitive value) is visible at ingest time instead of at the next
  * batch audit. Completes the governance loop the way
  * [[PostingsStream]] completes q190's index economics.
  *
  * State per quasi-identifier class: the row count, plus the
  * BOTTOM-[[LCap]] (lexicographically smallest) distinct sensitive
  * values and a saturation flag. Why bottom-cap instead of an
  * arbitrary capped set: keep-the-smallest is the KMV discipline on
  * strings — bottomCap(A ∪ B) = bottomCap(bottomCap(A) ∪ bottomCap(B))
  * — a set-union homomorphism, so the streamed set is bit-identical
  * to the one-shot batch set for ANY micro-batching, not merely the
  * same size. Privacy audits only care whether l is SMALL; once the
  * class holds more than [[LCap]] distinct sensitive values the exact
  * count is irrelevant and the flag says "saturated".
  *
  * Why stream == batch, exactly: k is a sum (linear), the sensitive
  * set is the bottom-cap union homomorphism, and saturation is
  * "some value was ever dropped" = (raw union exceeded cap) OR either
  * side already saturated — all order-free. Counts are NOT absorbing
  * under replay, so the fold carries the same batchId high-water
  * guard as [[CmsStream]]/[[BootstrapStream]]: batches at or below
  * the recorded high-water are no-ops.
  *
  * Scale posture: state is one row per OCCUPIED quasi-identifier
  * class (bounded by the QI domain, not the data) with at most
  * [[LCap]] short strings each; per batch the work is one class-keyed
  * aggregate over the batch plus a state-table merge join.
  */
object KAnonymityStream {

  /** Shared with q187: a class is at risk below this row count. */
  val KThreshold = 5

  /** Bottom-cap on the tracked distinct sensitive values. */
  val LCap = 8

  private def emptySegs = array().cast("array<string>")

  /** q187's quasi-identifier prep for the customer table, shared so
    * the batch query and the monitor cannot drift: QI =
    * (nationkey, shifted integer cent band), sensitive = segment. */
  def customerClasses(customer: DataFrame): DataFrame =
    customer.select(col("c_nationkey").cast("int").as("nationkey"),
        graft.functions.Exact.quantize(col("c_acctbal")).as("cents"),
        col("c_mktsegment").as("segment"))
      .withColumn("band", expr("(cents + 1000000) div 100000"))
      .select(col("nationkey"), col("band"), col("segment"))

  /** Batch-local per-class digest of (nationkey, band, segment) rows. */
  def batchDigest(rows: DataFrame): DataFrame =
    rows.groupBy(col("nationkey"), col("band"))
      .agg(count(lit(1)).as("k_size"),
        array_sort(collect_set(col("segment"))).as("raw"))
      .select(col("nationkey"), col("band"), col("k_size"),
        slice(col("raw"), 1, LCap).as("segs"),
        (size(col("raw")) > LCap).as("saturated"))

  /** Fold a batch digest into the persisted one: k adds, the sensitive
    * sets merge under the bottom-cap homomorphism, saturation ORs. */
  def mergeDigests(state: DataFrame, batch: DataFrame): DataFrame = {
    val a = state.select(col("nationkey"), col("band"),
      col("k_size").as("ka"), col("segs").as("sa"), col("saturated").as("fa"))
    val b = batch.select(col("nationkey"), col("band"),
      col("k_size").as("kb"), col("segs").as("sb"), col("saturated").as("fb"))
    a.join(b, Seq("nationkey", "band"), "full_outer")
      .withColumn("raw", array_sort(array_distinct(concat(
        coalesce(col("sa"), emptySegs), coalesce(col("sb"), emptySegs)))))
      .select(col("nationkey"), col("band"),
        (coalesce(col("ka"), lit(0L)) + coalesce(col("kb"), lit(0L)))
          .as("k_size"),
        slice(col("raw"), 1, LCap).as("segs"),
        (coalesce(col("fa"), lit(false)) || coalesce(col("fb"), lit(false))
          || size(col("raw")) > LCap).as("saturated"))
  }

  /** Fold one micro-batch of (nationkey, band, segment) rows into the
    * class state at `statePath` (an additive [[StateFold]], high-water
    * column `hi`: a replayed batch is a no-op). Exposed for direct
    * testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String): Unit = {
    import spark.implicits._
    val b = batchDigest(batch)
    StateFold.fold(spark, statePath, "KAnonymityStream", hi = Some("hi" -> batchId)) { st =>
      // sentinel class (nationkey = -1) carries the high-water even for
      // an empty batch — losing it would re-enable double counting
      st.fold(b)(s => mergeDigests(classes(s), b)).unionByName(
        Seq((-1, -1L, 0L)).toDF("nationkey", "band", "k_size")
          .withColumn("segs", emptySegs)
          .withColumn("saturated", lit(false)))
    }
  }

  /** Real class rows of a persisted state (metadata sentinel dropped). */
  private def classes(st: DataFrame): DataFrame =
    st.filter(col("nationkey") >= 0).drop("hi")

  /** The audit view over the persisted state: per class, k, the
    * (capped) l-diversity, saturation, and q187's at-risk flag. */
  def report(spark: SparkSession, statePath: String): DataFrame =
    classes(spark.read.parquet(statePath))
      .select(col("nationkey"), col("band"), col("k_size"),
        size(col("segs")).cast("long").as("l_div"),
        col("saturated"),
        when(col("k_size") < KThreshold, 1).otherwise(0).as("at_risk"))

  /** One-shot batch reference the spec holds the stream to. */
  def batchReference(rows: DataFrame): DataFrame = batchDigest(rows)

  /** Wire a (nationkey, band, segment) stream into the class state. */
  def start(rowsStream: DataFrame, statePath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(rowsStream, checkpointDir) { (b, id) =>
      processBatch(b.sparkSession, b, id, statePath)
    }
}
