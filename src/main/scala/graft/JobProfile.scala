package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ScopeBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark jobs and tasks one block submits, and what they cost, read
  * from Spark's own listener events. One listener per SparkContext
  * ([[JobProfile.apply]]) serves every run.
  *
  * A run ([[run]]) sets the local property `graft.profile.run` while its
  * body runs; threads the body creates inherit it, and
  * [[graft.operators.IvfLifecycle.both]] copies it into pooled threads.
  *   - A job belongs to the run when its job-start properties carry the
  *     run's value; a job on another thread does not.
  *   - A stage belongs to the run its stage-submitted properties name, and
  *     every task end is charged to its stage's run: max
  *     peakExecutionMemory, sum of memory and disk spill. A task that
  *     ends late is charged to its own run, never to the next one.
  *   - After the body returns, the run waits for the listener bus to
  *     deliver every event posted so far, so the result is complete; a
  *     bus that does not drain within a minute raises.
  */
final class JobProfile private (private val sc: SparkContext) {
  import JobProfile._

  private val seq = new AtomicLong()
  // open runs by property value; their stages by id
  private val runs = new ConcurrentHashMap[String, Acc]()
  private val stages = new ConcurrentHashMap[Int, Acc]()

  private def runOf(props: java.util.Properties): Option[Acc] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(v => Option(runs.get(v)))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      runOf(js.properties).foreach(acc => acc.synchronized {
        acc.jobs(js.jobId) = (js.time, -1L, label(js)) })
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      runs.values.forEach(acc => acc.synchronized {
        acc.jobs.updateWith(je.jobId)(_.map(j => j.copy(_2 = je.time - j._1))) })
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      runOf(ss.properties).foreach(stages.put(ss.stageInfo.stageId, _))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      for (acc <- Option(stages.get(te.stageId)); m <- Option(te.taskMetrics))
        acc.synchronized {
          acc.peak = math.max(acc.peak, m.peakExecutionMemory)
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
  })

  /** Run `body` as one profiled run named `tag`: its result and what
    * its jobs and tasks cost. The wall time and the compile count cover
    * `body` alone; the wait for the listener bus comes after both. */
  def run[T](tag: String)(body: => T): (T, Result) = {
    val value = s"$tag#${seq.incrementAndGet()}"
    val acc = new Acc
    runs.put(value, acc)
    val outer = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, value)
      val compiled0 = ScopeBridge.codegenCompiles
      val t0 = System.nanoTime()
      val out = try body finally sc.setLocalProperty(Key, outer)
      val wall = (System.nanoTime() - t0) / 1e9
      val compiled = ScopeBridge.codegenCompiles - compiled0
      ScopeBridge.drainListenerBus(sc, DrainMillis)
      out -> acc.synchronized {
        Result(wall, acc.jobs.toSeq.sortBy(_._1).map { case (id, (_, ms, l)) => Job(id, ms, l) },
          acc.peak, acc.spill, compiled)
      }
    } finally {
      runs.remove(value)
      stages.values.removeIf(_ eq acc)
    }
  }
}

object JobProfile {

  /** The local property that marks a run's jobs and stages. */
  private val Key = "graft.profile.run"

  /** How long a run waits for the listener bus before it raises. */
  private val DrainMillis = 60000L

  /** One job of a run: its id, its time from start to end event (-1 when
    * it had not ended when the run returned) and [[label]]. */
  final case class Job(id: Int, ms: Long, label: String)

  /** A run's wall time in seconds, its jobs in id order, the max task
    * peakExecutionMemory and the total spill (memory plus disk) in bytes,
    * and the generated classes compiled by any thread of this JVM while
    * the body ran (0 when every codegen body was a cache hit). */
  final case class Result(wallS: Double, jobs: Seq[Job], peakExecutionMemory: Long,
                          spillBytes: Long, compiled: Long)

  private final class Acc {
    // job id -> (start time, ms, label)
    val jobs = collection.mutable.Map.empty[Int, (Long, Long, String)]
    var peak = 0L
    var spill = 0L
  }

  private var current: Option[JobProfile] = None

  /** The profile of `spark`'s SparkContext, registering its listener on
    * first use. */
  def apply(spark: SparkSession): JobProfile = synchronized {
    current = current.filter(_.sc eq spark.sparkContext)
      .orElse(Some(new JobProfile(spark.sparkContext)))
    current.get
  }

  /** A job is named by the plan part that ran it: the final stage's
    * operator scope (`WholeStageCodegen (n)`, `Exchange`) and the SQL
    * execution it belongs to; the call site only when no plan node built
    * the stage (schema inference, checkpoints). */
  private def label(js: SparkListenerJobStart): String = {
    val last = js.stageInfos.maxByOption(_.stageId)
    val exec = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    last.flatMap(ScopeBridge.planScope) match {
      case Some(scope) => exec.fold(scope)(e => s"exec $e: $scope")
      case None => last.map(_.name).getOrElse("")
    }
  }
}
