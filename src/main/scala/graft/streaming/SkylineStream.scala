package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Skyline

/** Streaming Pareto-frontier maintenance — the q111 skyline kept
  * incrementally as points arrive. A frontier is a pure function of the
  * input SET (dominance doesn't care about arrival order), and merging
  * an already-seen point is a no-op, so the fold is REPLAY-ABSORBING
  * like the set-union twins: no batchId high-water guard is needed —
  * at-least-once delivery converges to exactly the batch answer.
  * SkylineStreamSpec proves stream == batch across splits and replays.
  *
  * Scale posture: each micro-batch is first reduced to ITS OWN frontier
  * with the distributed operator (Skyline.frontier — bucketed prefix-
  * max, no global window), so the driver-side merge only ever sees
  * frontier-sized sets, never the raw batch. State is the frontier
  * itself (≤ one point per distinct cost value, typically tiny — the
  * running "best gain per budget" table), persisted via the suite's
  * atomic swap-write.
  */
object SkylineStream {

  /** Fold one micro-batch of (cost, gain) rows into the frontier state
    * at `statePath` (an idempotent [[StateFold]]). Exposed for direct
    * testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   statePath: String, bucketWidth: Long = 64L): Unit = {
    import spark.implicits._
    val batchFrontier = Skyline
      .frontier(batch.select(col("cost"), col("gain")),
        col("cost"), col("gain"), bucketWidth)
      .select(col("cost").cast("long"), col("gain").cast("long"))
      .distinct() // exact-tie duplicates collapse: frontier state is a SET
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    StateFold.fold(spark, statePath, "SkylineStream") { st =>
      val prev = st.toSeq.flatMap(_.collect().map(r => (r.getLong(0), r.getLong(1))))
      Skyline.mergeFrontier(prev, batchFrontier).toDF("cost", "gain")
    }
  }

  /** Current frontier, ordered by cost (gain is strictly decreasing as
    * cost decreases — the defining shape; ties collapsed). */
  def currentFrontier(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath).orderBy(col("cost").asc)

  /** Wire a (cost, gain) stream into the frontier state. */
  def start(points: DataFrame, statePath: String, checkpointDir: String,
            bucketWidth: Long = 64L): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(points, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, statePath, bucketWidth)
    }
}
