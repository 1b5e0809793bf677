package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Kmv, Sampling}
import graft.streaming.SampleStream

/** Streaming priority-sample contracts: stream == batch EXACTLY for any
  * micro-batching (set-union homomorphism over packed priorities),
  * replay absorption without a ledger, and the k-drift guard. */
class SampleStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 10

  private val corpus: Seq[(Long, String, Long)] =
    (0L until 120L).map(i => (i, s"s${i % 3}", 40L + (i * 37) % 400))

  private def df(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("doc_id", "source", "n_chars")

  /** One-shot winners on the full corpus — the q74 algebra verbatim. */
  private def batchWinners(rows: Seq[(Long, String, Long)]): Set[(String, Long, Long)] =
    SampleStream.currentSample(
      SampleStream.batchSample(df(rows), K))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def streamedSample(statePath: String): Set[(String, Long, Long)] =
    SampleStream.currentSample(
      spark.read.parquet(statePath).drop("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("stream state equals the one-shot batch sample for any micro-batching") {
    val root = java.nio.file.Files.createTempDirectory("graft-samp").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val batches = Seq(corpus.slice(0, 17), corpus.slice(17, 60), corpus.slice(60, 120))
    df(batches.head).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, source STRING, n_chars BIGINT"))
      .parquet(in)
    val q = SampleStream.start(stream, s"$root/state", s"$root/ckpt", K)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        df(b).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(streamedSample(s"$root/state") == batchWinners(corpus),
      "streamed winners must equal the one-shot sample, bit for bit")
  }

  test("replay is absorbing: re-folding the same batch is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-samp-replay").toString
    val state = s"$root/state"
    SampleStream.processBatch(spark, df(corpus.take(50)), state, K)
    val first = streamedSample(state)
    SampleStream.processBatch(spark, df(corpus.take(50)), state, K) // crash replay
    assert(streamedSample(state) == first, "set union absorbs replays")
    SampleStream.processBatch(spark, df(corpus.drop(50)), state, K)
    assert(streamedSample(state) == batchWinners(corpus))
  }

  test("a k-drifted caller fails loudly instead of trimming the sample") {
    val root = java.nio.file.Files.createTempDirectory("graft-samp-k").toString
    val state = s"$root/state"
    SampleStream.processBatch(spark, df(corpus.take(30)), state, K)
    val e = intercept[IllegalArgumentException] {
      SampleStream.processBatch(spark, df(corpus.drop(30)), state, K + 5)
    }
    assert(e.getMessage.contains("built with k=10"))
  }

  test("per-source winner count is min(k, source size) and weights dominate") {
    // source s9 has 4 docs -> all 4 kept; huge-weight docs must appear
    val rows = (0L until 40L).map(i => (i, "s0", 50L)) ++
      Seq((100L, "s9", 60L), (101L, "s9", 61L), (102L, "s9", 62L), (103L, "s9", 63L)) ++
      Seq((200L, "s0", 30000L)) // weight 600x the rest: p(in top-10) ~ 1
    val state = SampleStream.batchSample(df(rows), K)
    val sample = SampleStream.currentSample(state).collect()
    assert(sample.count(_.getString(0) == "s9") == 4)
    assert(sample.count(_.getString(0) == "s0") == K)
    assert(sample.exists(r => r.getString(0) == "s0" && r.getLong(1) == 200L),
      "the dominant-weight doc is sampled")
    // merge algebra sanity: merging a state with itself is identity
    val twice = SampleStream.mergeSamples(state, state, K)
    assert(twice.select(col("source"), col("topk")).collect().toSet ==
      state.select(col("source"), col("topk")).collect().toSet)
  }

  test("a 0-row first batch, then a real one, equals the one-shot sample") {
    val root = java.nio.file.Files.createTempDirectory("graft-samp-empty").toString
    val state = s"$root/state"
    SampleStream.processBatch(spark, df(Nil), state, K)
    SampleStream.processBatch(spark, df(corpus), state, K)
    assert(streamedSample(state) == batchWinners(corpus))
  }
}
