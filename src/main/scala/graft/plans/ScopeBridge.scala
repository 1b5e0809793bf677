package org.apache.spark.graftbridge

import org.apache.spark.scheduler.StageInfo

/** Reads a stage's RDD operation scopes, which Spark keeps behind
  * `private[spark]` (`RDDOperationScope`); like [[org.apache.spark.sql.graftbridge.ColumnBridge]],
  * the adapter lives in an org.apache.spark subpackage and modifies no
  * Spark internals. */
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
}
