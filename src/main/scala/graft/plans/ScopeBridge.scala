package org.apache.spark.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.util.Utils

/** Reads what Spark keeps behind `private[spark]`: a stage's RDD
  * operation scopes (`RDDOperationScope`), a thread's local properties,
  * the generated-class compile count and the listener bus's drain. Like
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]], the adapter lives in
  * an org.apache.spark subpackage and modifies no Spark internals. */
object ScopeBridge {

  /** The physical-plan operators that built `stage`: for each of its
    * RDDs, newest first, the nearest scope named like a plan node
    * (`WholeStageCodegen (3)`, `Exchange`, `AQEShuffleRead`); the first
    * two distinct ones, as `<operator> <- <its input>`. RDD method
    * scopes (`mapPartitionsInternal`, ...) are lower-case and skipped;
    * None when no plan node built the stage. */
  def planScope(stage: StageInfo): Option[String] = {
    val ops = stage.rddInfos.sortBy(-_.id).iterator
      .flatMap(r => Iterator.iterate(r.scope)(_.flatMap(_.parent))
        .takeWhile(_.isDefined).map(_.get.name)
        .find(_.headOption.exists(_.isUpper)))
      .toSeq.distinct.take(2)
    if (ops.isEmpty) None else Some(ops.mkString(" <- "))
  }

  /** A copy of the calling thread's local properties and the active
    * SparkContext, for [[withLocalProperties]] on another thread; None
    * without an active context. */
  def localProperties(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc => sc -> Utils.cloneProperties(sc.getLocalProperties))

  /** Run `body` with `captured`'s local properties on this thread, then
    * put the thread's own back. A pooled thread keeps the properties of
    * the thread that created it, so jobs it submits for a caller would
    * otherwise miss the caller's job group, scheduler pool and tags. */
  def withLocalProperties[T](captured: Option[(SparkContext, Properties)])(body: => T): T =
    captured match {
      case None => body
      case Some((sc, props)) =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(Utils.cloneProperties(props))
        try body finally sc.setLocalProperties(own)
    }

  /** Generated classes compiled in this JVM so far (Janino compiles;
    * a codegen-cache hit compiles none). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Block until the listener bus of `sc` has delivered every event
    * posted so far; a `TimeoutException` after `timeoutMillis`. */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
