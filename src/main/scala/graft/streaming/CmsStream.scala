package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cms

/** Streaming count-min maintenance — the frequency sketch (q72,
  * operators/Cms) folded incrementally as documents arrive, completing
  * the sketch tier's streaming twins (KMV → [[VocabStream]],
  * profile+quantiles → [[ProfileStream]], frequency → this).
  *
  * Why stream == batch, exactly: a CMS is a LINEAR sketch — counters
  * are sums over the input multiset, so merge(build(A), build(B)) =
  * build(A ⊎ B) elementwise for ANY split into micro-batches
  * (CmsSpec's additivity law). Unlike the set-union sketches, addition
  * is NOT absorbing under replay — re-delivering a batch would
  * double-count — so the fold is guarded by the same batchId
  * high-water contract as ProfileStream's additive counts: batches at
  * or below the recorded high-water are skipped.
  *
  * Scale posture: state is d×w counter rows regardless of corpus
  * (kilobytes); each batch contributes one map pass + one bounded agg
  * + a counter-table merge. The d/w geometry is stamped into the
  * state and a mismatched caller fails loudly — merging counters
  * hashed under different geometries corrupts silently otherwise.
  */
object CmsStream {

  /** Fold one micro-batch of (doc_id, text, ...) rows into the counter
    * state at `statePath` (an additive [[StateFold]] stamped with d/w,
    * high-water column `hi`: a replayed batch is a no-op). Exposed for
    * direct testing; [[start]] runs it on each batch. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, d: Int = Cms.DefaultDepth,
                   w: Int = Cms.DefaultWidth): Unit = {
    import spark.implicits._
    val toks = batch.select(
      explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
    val b = Cms.build(toks, "term", d, w)
    StateFold.fold(spark, statePath, "CmsStream", Seq("d" -> d, "w" -> w),
        Some("hi" -> batchId)) { st =>
      // the sentinel (j = -1) row carries the d/w/hi metadata even when
      // a batch contributed zero tokens — a 0-row state would carry no
      // replay high-water, silently re-enabling double counting
      st.fold(b)(s => Cms.merge(counters(s), b))
        .unionByName(Seq((-1, -1L, 0L)).toDF("j", "bucket", "n"))
    }
  }

  /** Real counter rows of a persisted state (the metadata sentinel
    * filtered out). */
  private def counters(st: DataFrame): DataFrame =
    st.filter(col("j") >= 0).select(col("j"), col("bucket"), col("n"))

  /** Estimate counts for `queries`' `tokenCol` from the persisted
    * state, using the geometry RECORDED in the state. */
  def currentEstimates(spark: SparkSession, statePath: String,
                       queries: DataFrame, tokenCol: String): DataFrame = {
    val st = spark.read.parquet(statePath)
    val r = st.select(col("d"), col("w")).first()
    Cms.estimate(counters(st), queries, tokenCol, r.getInt(0), r.getInt(1))
  }

  /** Wire a (doc_id, text, ...) stream into the counter state. */
  def start(docsStream: DataFrame, statePath: String, checkpointDir: String,
            d: Int = Cms.DefaultDepth, w: Int = Cms.DefaultWidth)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, id) =>
      processBatch(b.sparkSession, b, id, statePath, d, w)
    }
}
