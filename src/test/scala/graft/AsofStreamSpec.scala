package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.streaming.AsofStream

/** Streaming as-of contracts: stream == the batch as-of join for any
  * micro-batching of an in-order feed (state carries the latest right
  * row across the split), tie visibility, and O(keys) state. */
class AsofStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)

  // Interleaved in-order feed per key: (key, time, side, id, value).
  // Right times are unique per key (exact right ties are sort-order-
  // dependent in every as-of form — documented contract).
  private val feed: Seq[(Long, Long, Int, Long, Double)] = {
    val rng = new scala.util.Random(5)
    val evs = for (i <- 1L to 240L) yield {
      val k = (i % 8) + 1
      if (i % 3 == 0) (k, i * 10, 0, 1000L + i, (rng.nextInt(900) + 100) / 10.0)
      else (k, i * 10 + (if (i % 7 == 0) 0 else 3), 1, i, 0.0)
    }
    evs
  }

  /** Batch reference through Relational.asofJoinLatest on the same data. */
  private def batchReference: Set[(Long, Boolean, Double)] = {
    val left = feed.filter(_._3 == 1)
      .map(e => (e._4, e._1, ts(e._2))).toDF("id", "k", "t")
    val right = feed.filter(_._3 == 0)
      .map(e => (e._1, ts(e._2), e._5)).toDF("k", "rt", "v")
    Relational.asofJoinLatest(left, right, Seq("k"), "t", "rt")
      .select(col("id"), col("asof_v"))
      .collect().map { r =>
        if (r.isNullAt(1)) (r.getLong(0), false, 0.0)
        else (r.getLong(0), true, r.getDouble(1))
      }.toSet
  }

  private def streamed(splits: Seq[Seq[(Long, Long, Int, Long, Double)]])
      : Set[(Long, Boolean, Double)] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, Long, Double)]
    val name = s"asof_out_${splits.size}_${splits.head.size}"
    val q = AsofStream.enrich(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      // output columns: _1=id, _2=k, _3=t, _4=matched, _5=value
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getBoolean(3), r.getDouble(4))).toSet
    } finally q.stop()
  }

  test("stream == batch across a mid-stream split (state carries the match)") {
    // split in time order so the in-order-per-key contract holds
    val ordered = feed.sortBy(e => (e._2, e._3))
    val got = streamed(Seq(ordered.take(100), ordered.drop(100)))
    assert(got == batchReference)
    assert(got.exists(_._2) && got.exists(!_._2),
      "fixture must exercise matched and unmatched left events")
  }

  test("single-batch replay gives the same answer (within-batch order-free)") {
    val shuffled = new scala.util.Random(3).shuffle(feed)
    val got = streamed(Seq(shuffled))
    assert(got == batchReference)
  }

  test("kernel: tie is visible, state only advances") {
    val (out1, st1) = AsofStream.foldSlice(
      Seq((1L, 10L, 0, 100L, 5.0), (1L, 10L, 1, 1L, 0.0)), None)
    assert(out1 == Seq((1L, 1L, 10L, true, 5.0)), "tr == tl must match")
    assert(st1.contains((10L, 5.0)))
    val (out2, _) = AsofStream.foldSlice(
      Seq((1L, 20L, 1, 2L, 0.0)), st1)
    assert(out2 == Seq((2L, 1L, 20L, true, 5.0)), "state carries across slices")
    val (out3, _) = AsofStream.foldSlice(Seq((2L, 5L, 1, 3L, 0.0)), None)
    assert(out3 == Seq((3L, 2L, 5L, false, 0.0)), "no right row yet -> unmatched")
  }

  test("a late event in a second batch raises") {
    // a left event before the folded right row would miss its match; a
    // right one would move the state back
    Seq((1L, 50L, 1, 2L, 0.0), (1L, 50L, 0, 3L, 7.0)).foreach { late =>
      val e = intercept[Exception](streamed(Seq(Seq((1L, 100L, 0, 1L, 5.0)), Seq(late))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    }
  }
}
