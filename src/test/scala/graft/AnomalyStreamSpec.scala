package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.AnomalyStream

/** Stream == batch for the rolling z-score flags: the streaming ring
  * buffer must reproduce the batch window query's per-event anomaly
  * flags exactly, including across a mid-stream micro-batch split
  * (state carries the trailing window over the batch boundary). */
class AnomalyStreamSpec extends SparkSpec {
  import spark.implicits._

  // (user_id, tus_micros, event_id, vq): two users, one flat-ish series
  // with big spikes, one noisy series. vq plays already-quantized micros.
  private val rows: Seq[(Long, Long, Long, Long)] = {
    // spikes >Frame apart, so the second one's trailing window has
    // already evicted the first (which would otherwise inflate variance)
    val spiky = (0L until 30L).map { i =>
      val vq = if (i == 8L || i == 25L) 9000L else 100L + (i % 3)
      (1L, 1000L + i, i, vq)
    }
    val noisy = (0L until 25L).map { i =>
      (2L, 2000L + i, 100L + i, ((i * 37L) % 11L) * 50L)
    }
    spiky ++ noisy
  }

  /** Batch flags via the SAME window shape as q79. */
  private def batchFlags: Set[(Long, Long, Boolean)] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      .rowsBetween(-AnomalyStream.Frame, -1)
    val scored = rows.toDF("user_id", "tus", "event_id", "vq")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("vq")).over(w))
      .withColumn("ssq", sum(col("vq") * col("vq")).over(w))
    val d = col("n") * col("vq") - col("s")
    val a = d.cast("decimal(38,0)") * d.cast("decimal(38,0)")
    val cv = col("n").cast("decimal(38,0)") * col("ssq").cast("decimal(38,0)") -
      col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)")
    scored.select(col("user_id"), col("event_id"),
      (col("n") >= AnomalyStream.MinN && cv > lit(0) &&
        a > lit(AnomalyStream.Thresh * AnomalyStream.Thresh) * cv).as("anom"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
  }

  test("kernel flags an obvious spike and not the baseline") {
    val prev = Seq(100L, 101L, 102L, 100L, 101L, 102L, 100L)
    assert(AnomalyStream.isAnomaly(prev, 9000L))
    assert(!AnomalyStream.isAnomaly(prev, 101L))
    assert(!AnomalyStream.isAnomaly(Seq(100L, 101L), 9000L),
      "below MinN trailing events nothing is flagged")
    assert(!AnomalyStream.isAnomaly(Seq.fill(10)(100L), 9000L),
      "zero trailing variance never flags (var>0 guard)")
  }

  test("stream flags == batch flags across a mid-stream split") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)]
    val out = AnomalyStream.anomalies(input.toDS())
    val q = out.writeStream.format("memory").queryName("anoms")
      .outputMode("append").start()
    try {
      // split INSIDE user 1's series so the ring must carry over
      val (a, b) = rows.splitAt(20)
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      val got = spark.table("anoms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val want = batchFlags
      assert(got == want)
      assert(want.count(_._3) >= 2, "the spikes must actually be flagged")
      assert(want.exists { case (u, e, f) => u == 1L && e == 8L && f })
    } finally q.stop()
  }

  test("replaying the whole series in one batch gives the same flags") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)]
    val out = AnomalyStream.anomalies(input.toDS())
    val q = out.writeStream.format("memory").queryName("anoms1")
      .outputMode("append").start()
    try {
      input.addData(scala.util.Random.shuffle(rows): _*)
      q.processAllAvailable()
      val got = spark.table("anoms1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == batchFlags,
        "within-batch arrival order must not matter (group re-sorts)")
    } finally q.stop()
  }

  /** Feed `batches` to one anomaly query; the rows it emitted. */
  private def streamed(name: String, batches: Seq[Seq[(Long, Long, Long, Long)]])
      : Seq[(Long, Long, Boolean)] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = AnomalyStream.anomalies(input.toDS()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    } finally q.stop()
  }

  test("a late event in a second batch raises") {
    val (a, b) = rows.filter(_._1 == 1L).splitAt(20)
    val late = (1L, a(5)._2, 99L, 9000L) // before the last folded event
    val e = intercept[Exception](streamed("anoms_late", Seq(a, late +: b)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
  }

  test("an exact redelivery of the last event adds no row") {
    val (a, b) = rows.splitAt(20)
    val got = streamed("anoms_redeliver", Seq(a, Seq(a.last), b))
    assert(got.size == rows.size, "the redelivered event must not be scored twice")
    assert(got.toSet == batchFlags)
  }
}
