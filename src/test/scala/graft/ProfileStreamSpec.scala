package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.operators.Profile
import graft.streaming.ProfileStream

/** ProfileStream contracts: stream == batch profile for any
  * micro-batching, batchId-guarded replay exactness for the additive
  * counts, and estimate parity through the shared derivation. */
class ProfileStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 32

  private val rows: Seq[(Long, Option[Double], String)] =
    (1L to 90L).map { i =>
      (i, if (i % 9 == 0) None else Some((i % 13) + 0.25), s"cat${i % 5}")
    }

  private def df(rs: Seq[(Long, Option[Double], String)]): DataFrame =
    rs.toDF("id", "x", "cat")

  private def snap(d: DataFrame): Set[(String, Long, Long, Seq[Long],
      Seq[(Long, Double)], Option[Double], Option[Double])] =
    d.collect().map { r =>
      val qsk = Option(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("qsk")))
        .map(_.map(p => (p.getLong(0), p.getDouble(1))).toSeq).getOrElse(Seq.empty)
      (r.getAs[String]("column_name"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_nulls"), r.getSeq[Long](r.fieldIndex("kmv")), qsk,
        Option(r.getAs[java.lang.Double]("min_num")).map(_.doubleValue()),
        Option(r.getAs[java.lang.Double]("max_num")).map(_.doubleValue()))
    }.toSet

  test("streamed state equals the one-shot batch profile for any micro-batching") {
    val root = java.nio.file.Files.createTempDirectory("graft-profstream").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val batches = Seq(rows.slice(0, 11), rows.slice(11, 50), rows.slice(50, 90))
    df(batches.head).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema(StructType.fromDDL("id BIGINT, x DOUBLE, cat STRING"))
      .parquet(in)
    val q = ProfileStream.start(stream, s"$root/state", s"$root/ckpt", k = K)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        df(b).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = snap(spark.read.parquet(s"$root/state").drop("batch_id", "k"))
    val oneShot = snap(Profile.sketchProfile(df(rows), K))
    assert(streamed == oneShot)
    // and the reader-facing estimates come out identical — currentProfile
    // derives with the k RECORDED in the state, not a caller default
    val est = ProfileStream.currentProfile(spark, s"$root/state")
      .collect().map(r => r.getAs[String]("column_name") ->
        r.getAs[Double]("est_distinct")).toMap
    val bEst = Profile.profile(df(rows), K)
      .collect().map(r => r.getAs[String]("column_name") ->
        r.getAs[Double]("est_distinct")).toMap
    assert(est == bEst)
  }

  test("state records k; a mismatched caller fails instead of merging junk") {
    val root = java.nio.file.Files.createTempDirectory("graft-profk").toString
    val state = s"$root/state"
    ProfileStream.processBatch(spark, df(rows.take(10)), 0L, state, K)
    val e = intercept[IllegalArgumentException] {
      ProfileStream.processBatch(spark, df(rows.slice(10, 20)), 1L, state, k = 64)
    }
    assert(e.getMessage.contains("k=32"))
  }

  test("dtype drift between batches fails fast instead of merging junk") {
    val root = java.nio.file.Files.createTempDirectory("graft-profdrift").toString
    val state = s"$root/state"
    ProfileStream.processBatch(spark, df(rows.take(10)), 0L, state, K)
    // x arrives as STRING in batch 1: its sketch would be built under
    // the plain-string normalization, not the quantized-double one —
    // merging them silently would corrupt the distinct estimate
    val drifted = df(rows.slice(10, 20)).withColumn("x", col("x").cast("string"))
    val e = intercept[Exception] {
      ProfileStream.processBatch(spark, drifted, 1L, state, K)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("dtype drift"), s"want the drift error, got: $msgs")
  }

  test("replayed batchId is skipped — additive counts stay exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-profreplay").toString
    val state = s"$root/state"
    ProfileStream.processBatch(spark, df(rows.take(30)), 0L, state, K)
    val first = snap(spark.read.parquet(state).drop("batch_id"))
    ProfileStream.processBatch(spark, df(rows.take(30)), 0L, state, K) // crash replay
    assert(snap(spark.read.parquet(state).drop("batch_id")) == first,
      "same batchId must be a no-op")
    ProfileStream.processBatch(spark, df(rows.slice(30, 60)), 1L, state, K)
    val after = spark.read.parquet(state).drop("batch_id")
    assert(after.filter(col("column_name") === "id")
      .select(col("n_rows")).first().getLong(0) == 60L)
  }

  test("state persisted before the qsk column existed upgrades cleanly") {
    val root = java.nio.file.Files.createTempDirectory("graft-profupgrade").toString
    val state = s"$root/state"
    ProfileStream.processBatch(spark, df(rows.take(30)), 0L, state, K)
    // simulate a pre-quantile deployment: rewrite the state without qsk
    val old = spark.read.parquet(state).drop("qsk").collect()
    val oldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(old.toSeq),
      spark.read.parquet(state).drop("qsk").schema)
    graft.pipeline.Pipeline.swapWrite(spark, oldDf, state)
    // a restart on NEW code must merge, not die on an unresolved column
    ProfileStream.processBatch(spark, df(rows.slice(30, 60)), 1L, state, K)
    val st = spark.read.parquet(state)
    assert(st.columns.contains("qsk"))
    assert(st.filter(col("column_name") === "id")
      .select(col("n_rows")).first().getLong(0) == 60L, "counts history preserved")
    // reader path works too
    assert(ProfileStream.currentProfile(spark, state).count() == 3L)
  }

  test("a replayed batch under a drifted k raises before the replay rule skips it") {
    val root = java.nio.file.Files.createTempDirectory("graft-profk-replay").toString
    val state = s"$root/state"
    ProfileStream.processBatch(spark, df(rows.take(10)), 0L, state, K)
    val e = intercept[IllegalArgumentException] {
      ProfileStream.processBatch(spark, df(rows.take(10)), 0L, state, k = 64)
    }
    assert(e.getMessage.contains("k=32"))
  }
}
