package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.streaming.VocabStream

/** The streaming KMV vocabulary sketch's contracts: stream == batch for
  * any micro-batching (the set-union homomorphism), replay absorption,
  * and estimate parity with the one-shot aggregate. */
class VocabStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 32

  private val corpus: Seq[(Long, String, String)] =
    (1L to 60L).map { i =>
      val src = s"src${i % 3}"
      val text = (1 to 30).map(j => s"tok${(i * 31 + j * 7) % 400}").mkString(" ")
      (i, text, src)
    }

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")

  private def sketchMap(d: DataFrame): Map[String, Seq[Long]] =
    d.collect().map(r => r.getAs[String]("source") -> r.getSeq[Long](1)).toMap

  test("stream state equals the one-shot batch sketch for any micro-batching") {
    val root = java.nio.file.Files.createTempDirectory("graft-vocab").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val batches = Seq(corpus.slice(0, 7), corpus.slice(7, 40), corpus.slice(40, 60))
    df(batches.head).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, text STRING, source STRING"))
      .parquet(in)
    val q = VocabStream.start(stream, s"$root/state", s"$root/ckpt", k = K)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        df(b).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = sketchMap(spark.read.parquet(s"$root/state"))
    val oneShot = sketchMap(VocabStream.batchSketch(df(corpus), K))
    assert(streamed == oneShot,
      s"stream/batch sketch divergence on sources ${
        (streamed.keySet ++ oneShot.keySet).filter(s => streamed.get(s) != oneShot.get(s))}")
  }

  test("replayed micro-batch is absorbed (set-union idempotence)") {
    val root = java.nio.file.Files.createTempDirectory("graft-vocab-replay").toString
    val state = s"$root/state"
    VocabStream.processBatch(spark, df(corpus.take(20)), state, K)
    val first = sketchMap(spark.read.parquet(state))
    VocabStream.processBatch(spark, df(corpus.take(20)), state, K) // crash replay
    assert(sketchMap(spark.read.parquet(state)) == first)
  }

  test("state records k; a mismatched caller fails instead of merging junk") {
    val root = java.nio.file.Files.createTempDirectory("graft-vocab-k").toString
    val state = s"$root/state"
    VocabStream.processBatch(spark, df(corpus.take(10)), state, K)
    val e = intercept[IllegalArgumentException] {
      VocabStream.processBatch(spark, df(corpus.slice(10, 20)), state, k = 64)
    }
    assert(e.getMessage.contains(s"k=$K"))
    // and the recorded-k reader derives with the right k
    val est = VocabStream.currentEstimates(spark, state)
    assert(est.columns.toSeq ==
      Seq("source", "kmv_n", "kmv_kth", "est_distinct"))
  }

  test("merge of split sketches equals the sketch of the union") {
    val (lo, hi) = corpus.splitAt(25)
    val merged = sketchMap(VocabStream.mergeSketches(
      VocabStream.batchSketch(df(lo), K), VocabStream.batchSketch(df(hi), K), K))
    assert(merged == sketchMap(VocabStream.batchSketch(df(corpus), K)))
  }

  test("estimate derivation matches the q58 formula on the same sketch") {
    val est = VocabStream.withEstimate(VocabStream.batchSketch(df(corpus), K), K)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kmv_n"), r.getAs[Double]("est_distinct"))).toMap
    est.foreach { case (src, (n, e)) =>
      if (n < K) assert(e == n.toDouble, s"$src: exact branch below k")
      else assert(e > 0.0, s"$src: estimator positive at k")
    }
    // the corpus has ~400 shared distinct tokens per source; at k=32 the
    // estimate is rough (sigma ~ 18%) but must land in the right decade
    val perSource = corpus.groupBy(_._3).map { case (s, rows) =>
      s -> rows.flatMap(_._2.split(" ")).distinct.size
    }
    est.foreach { case (src, (_, e)) =>
      val truth = perSource(src)
      assert(math.abs(e - truth) / truth < 0.6, s"$src: est $e vs true $truth")
    }
  }

  test("an all-null-text first batch, then a real one, equals the one-shot sketch") {
    val root = java.nio.file.Files.createTempDirectory("graft-vocab-empty").toString
    val state = s"$root/state"
    val nullDocs = Seq((1L, Option.empty[String], "src0"))
      .toDF("doc_id", "text", "source")
    VocabStream.processBatch(spark, nullDocs, state, K)
    assert(VocabStream.currentEstimates(spark, state).count() == 0L)
    VocabStream.processBatch(spark, df(corpus), state, K)
    assert(sketchMap(spark.read.parquet(state)) ==
      sketchMap(VocabStream.batchSketch(df(corpus), K)))
  }
}
