package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Cms, TextOps}
import graft.streaming.CmsStream

/** Streaming CMS contracts: stream == batch for any micro-batching
  * (linearity), replay no-op via the batchId high-water guard, and a
  * loud failure on geometry drift. */
class CmsStreamSpec extends SparkSpec {
  import spark.implicits._

  private val D = 4
  private val W = 256

  private val corpus: Seq[(Long, String)] =
    (1L to 60L).map { i =>
      (i, (1 to 25).map(j => s"tok${(i * 13 + j * 5) % 150}").mkString(" "))
    }

  private def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  private def counters(spark: org.apache.spark.sql.SparkSession, path: String) =
    spark.read.parquet(path).filter(col("j") >= 0) // drop the metadata sentinel
      .select("j", "bucket", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("stream state equals the one-shot batch sketch for any micro-batching") {
    val root = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val batches = Seq(corpus.slice(0, 9), corpus.slice(9, 33), corpus.slice(33, 60))
    df(batches.head).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, text STRING"))
      .parquet(in)
    val q = CmsStream.start(stream, s"$root/state", s"$root/ckpt", D, W)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        df(b).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = counters(spark, s"$root/state")
    val oneShot = Cms.build(
      df(corpus).select(explode(TextOps.tokens(col("text"))).as("term")),
      "term", D, W)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == oneShot, "streamed counters must equal the one-shot build")
    // and estimates flow from the persisted geometry
    val est = CmsStream.currentEstimates(spark, s"$root/state",
      Seq("tok5").toDF("term"), "term").collect()
    assert(est.length == 1 && est(0).getLong(1) >= 0L)
  }

  test("replayed batchId is a no-op (additive counters need the high-water guard)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cms-replay").toString
    val state = s"$root/state"
    CmsStream.processBatch(spark, df(corpus.take(20)), 0L, state, D, W)
    val first = counters(spark, state)
    CmsStream.processBatch(spark, df(corpus.take(20)), 0L, state, D, W) // crash replay
    assert(counters(spark, state) == first, "replay must not double-count")
    CmsStream.processBatch(spark, df(corpus.slice(20, 40)), 1L, state, D, W)
    assert(counters(spark, state) != first, "a NEW batch must fold in")
  }

  test("an all-null-text first batch still records metadata (no crash, guard intact)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cms-empty").toString
    val state = s"$root/state"
    val nullDocs = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    CmsStream.processBatch(spark, nullDocs, 0L, state, D, W) // zero tokens
    assert(counters(spark, state).isEmpty)
    // the metadata sentinel survived: next batch reads d/w/hi fine...
    CmsStream.processBatch(spark, df(corpus.take(10)), 1L, state, D, W)
    val after = counters(spark, state)
    assert(after.nonEmpty)
    // ...and the high-water survived the empty batch: replaying batch 0
    // (now with content, the at-least-once redelivery shape) is skipped
    CmsStream.processBatch(spark, df(corpus.take(10)), 0L, state, D, W)
    assert(counters(spark, state) == after, "replay below high-water must be a no-op")
  }

  test("geometry drift fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-cms-geom").toString
    val state = s"$root/state"
    CmsStream.processBatch(spark, df(corpus.take(5)), 0L, state, D, W)
    val e = intercept[IllegalArgumentException] {
      CmsStream.processBatch(spark, df(corpus.slice(5, 10)), 1L, state, D, W * 2)
    }
    assert(e.getMessage.contains("w=256"))
  }

  /** Replays batch 1 after a crash inside its publish of `state`: the
    * new state is staged at the swap's tmp sibling (`withSuccess` says
    * whether the staged write completed) and the live state sits in the
    * graveyard. The counters must equal one application of each batch. */
  private def replayAfterCrashedPublish(withSuccess: Boolean): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-cms-crash").toString
    val (state, done) = (s"$root/state", s"$root/done")
    val (b0, b1) = (df(corpus.take(20)), df(corpus.slice(20, 40)))
    CmsStream.processBatch(spark, b0, 0L, state, D, W)
    // the state batch 1's publish was about to swap in
    CmsStream.processBatch(spark, b0, 0L, done, D, W)
    CmsStream.processBatch(spark, b1, 1L, done, D, W)
    graft.pipeline.TierCommit.stageDf(spark, spark.read.parquet(done), state)
    val tmp = java.nio.file.Paths.get(s"$state.__swap_tmp")
    if (!withSuccess) java.nio.file.Files.delete(tmp.resolve("_SUCCESS"))
    java.nio.file.Files.move(java.nio.file.Paths.get(state),
      java.nio.file.Paths.get(s"$state.__swap_old"))

    CmsStream.processBatch(spark, b1, 1L, state, D, W) // the replay
    val oneShot = Cms.build(
      df(corpus.take(40)).select(explode(TextOps.tokens(col("text"))).as("term")),
      "term", D, W)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(counters(spark, state) == oneShot, "each batch must count exactly once")
    assert(spark.read.parquet(state).select(max(col("hi"))).first().getLong(0) == 1L)
    assert(!java.nio.file.Files.exists(tmp))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$state.__swap_old")))
  }

  test("crash after the graveyard move, staged state complete: heal promotes it, replay skipped") {
    replayAfterCrashedPublish(withSuccess = true)
  }

  test("crash with the staged state incomplete: heal restores the old state, replay applies once") {
    replayAfterCrashedPublish(withSuccess = false)
  }
}
