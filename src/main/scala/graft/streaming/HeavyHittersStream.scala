package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming heavy-hitter candidate maintenance — the Misra-Gries
  * summary (q73, plans/MisraGriesTerms) folded incrementally as
  * documents arrive, with the token total alongside so a reader can
  * threshold candidates at any moment.
  *
  * Stream vs batch contract (weaker than the set-union twins, stated
  * honestly): an MG summary is NOT a function of the input set — the
  * candidate table depends on the batch split. What IS split-independent
  * is the GUARANTEE: after any sequence of folds covering N total
  * tokens, every term with true frequency > N/(k+1) is present
  * (Agarwal et al., "Mergeable Summaries", PODS '12 — each fold is
  * their merge: add counts, subtract the (k+1)-th largest, drop
  * non-positives). HeavyHittersStreamSpec proves the superset property
  * against the exact corpus counts across splits and replays. Exact
  * reporting still requires the q73 second pass over the corpus — the
  * stream maintains the bounded CANDIDATE set that makes that pass
  * cheap, not the final answer.
  *
  * Counts are additive, NOT replay-absorbing — re-delivering a batch
  * would inflate both counters and N — so folds are guarded by the same
  * batchId high-water contract as [[CmsStream]]/[[ProfileStream]].
  *
  * Scale posture: state is ≤ k (term, cnt) rows + one sentinel; each
  * batch contributes one map-side-combined count agg over ITS OWN
  * tokens and a merge whose driver share is one ≤ (k+1)-row collect
  * (the offset quantile — bounded by construction, like the KMeans
  * init collect).
  */
object HeavyHittersStream {

  val DefaultK = 64

  /** The Misra-Gries merge, relationally: union counts, and if more
    * than k terms survive, subtract the (k+1)-th largest count from
    * every term and keep the strictly-positive ones (≤ k by
    * construction). `state` and `batch` are (term, cnt) tables; the
    * batch side is exact per-batch counts (an error-0 MG summary). */
  def mgMerge(state: DataFrame, batch: DataFrame, k: Int): DataFrame = {
    val merged = state.unionByName(batch)
      .groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
    // ≤ k+1 rows to the driver: just enough order statistics to know
    // the offset. TakeOrderedAndProject, never a full sort.
    val top = merged.orderBy(col("cnt").desc, col("term")).limit(k + 1).collect()
    if (top.length <= k) merged
    else {
      val off = top.last.getLong(1)
      merged.filter(col("cnt") > off)
        .select(col("term"), (col("cnt") - off).as("cnt"))
    }
  }

  /** Fold one micro-batch of (doc_id, text, ...) rows into the state at
    * `statePath` (an additive [[StateFold]] stamped with k, high-water
    * column `hi`: a replayed batch is a no-op). Exposed for direct
    * testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, k: Int = DefaultK): Unit = {
    import spark.implicits._
    val bt = batch
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    StateFold.fold(spark, statePath, "HeavyHittersStream", Seq("k" -> k),
        Some("hi" -> batchId)) { st =>
      val batchTokens = bt.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
      val n = st.fold(0L)(_.select(col("n_total")).first().getLong(0))
      val prior = st.fold(spark.emptyDataset[(String, Long)].toDF("term", "cnt"))(candidates)
      // sentinel row (term NULL) carries k/hi/n_total even when the
      // summary itself is empty (possible: a merge can cancel everything)
      mgMerge(prior, bt, k).unionByName(Seq((null: String, 0L)).toDF("term", "cnt"))
        .withColumn("n_total", lit(n + batchTokens))
    }
  }

  /** Real summary rows of a persisted state (sentinel filtered out). */
  private def candidates(st: DataFrame): DataFrame =
    st.filter(col("term").isNotNull).select(col("term"), col("cnt"))

  /** Current candidate terms whose guaranteed-possible frequency can
    * exceed n_total/denom: every true heavy hitter at that threshold is
    * in here (never a false negative, possibly false positives — run
    * the exact pass to settle them). */
  def currentCandidates(spark: SparkSession, statePath: String): DataFrame = {
    val st = spark.read.parquet(statePath)
    candidates(st).crossJoin(broadcast(
      st.limit(1).select(col("n_total"))))
      .orderBy(col("cnt").desc_nulls_last, col("term"))
  }

  /** Wire a (doc_id, text) stream into the summary state. */
  def start(docsStream: DataFrame, statePath: String, checkpointDir: String,
            k: Int = DefaultK): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, id) =>
      processBatch(b.sparkSession, b, id, statePath, k)
    }
}
