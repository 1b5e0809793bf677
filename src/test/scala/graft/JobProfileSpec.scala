package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._

/** [[JobProfile]]: which jobs and tasks belong to a run, counted exactly
  * as soon as the run returns. */
class JobProfileSpec extends SparkSpec {

  private def profile = JobProfile(spark)

  private def action(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  private def aggregate(): Unit =
    spark.range(200000).groupBy((col("id") % 1000).as("k")).agg(sum(col("id"))).collect()

  test("a body of N sequential actions reports N jobs, every time, with no wait") {
    for (i <- 1 to 20) {
      val n = 1 + i % 4
      val (_, r) = profile.run(s"seq$i")((1 to n).foreach(_ => action()))
      assert(r.jobs.size == n, s"run $i: ${r.jobs}")
      assert(r.jobs.forall(_.ms >= 0), s"run $i: a job end was not seen")
    }
  }

  test("jobs submitted from a thread pool created inside the body count") {
    val (_, r) = profile.run("pool") {
      val pool = Executors.newFixedThreadPool(2)
      try (1 to 3).map(_ => pool.submit(() => action())).foreach(_.get())
      finally pool.shutdown()
    }
    assert(r.jobs.size == 3, s"${r.jobs}")
  }

  test("a concurrent job on a thread started outside the body does not count, nor do its tasks") {
    val (inRun, stop) = (new AtomicBoolean(false), new AtomicBoolean(false))
    val during = new CountDownLatch(2)
    val other = new Thread(() => while (!stop.get()) {
      aggregate()
      if (inRun.get()) during.countDown()
    })
    other.start()
    try {
      val (_, r) = profile.run("alone") {
        inRun.set(true)
        action()
        // the second aggregate counted here started after the body began
        assert(during.await(60, TimeUnit.SECONDS), "the other thread ran no job during the body")
      }
      assert(r.jobs.size == 1, s"${r.jobs}")
      assert(r.peakExecutionMemory == 0L)
    } finally {
      stop.set(true)
      other.join()
    }
  }

  test("an aggregate charges its peak memory to its own run, not to the next one") {
    val (_, agg) = profile.run("agg")(aggregate())
    assert(agg.peakExecutionMemory > 0L)
    val (_, tiny) = profile.run("tiny")(spark.range(1).collect())
    assert(tiny.peakExecutionMemory == 0L)
    assert(tiny.jobs.size == 1)
  }
}
