package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query with an optional DuckDB oracle SQL equivalent.
  *
  * Determinism contract (BASELINE.md): every oracle-checked query
  *  - aggregates doubles in integer space (graft.functions.Exact) so the
  *    result is independent of partition/merge order and engine;
  *  - emits DATE (not TIMESTAMP) for date-like outputs, sidestepping
  *    parquet timestamp representation drift between engines;
  *  - ends in a total ORDER BY (full tiebreakers, explicit NULLS
  *    FIRST/LAST in the SQL to match Spark's defaults).
  */
final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Queries {
  /** All registered queries, in a stable order. Populated from the
    * thematic registries. */
  def all: Seq[(String, Q)] =
    RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      EventQueries.all ++ MultimodalQueries.all ++ CorpusQueries.all ++
      WarehouseQueries.all ++ AnalyticsQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) => n -> q.fn }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, Q(_, Some(sql))) => n -> sql }.toMap

  /** Probe-ONLY twins of the persisted-serving-index queries, keyed by
    * the registry query that builds the index (VERDICT r8 #5). The
    * bench materializes the index by running the builder query once
    * untimed, then times these — so BENCH carries the serving-path
    * (pruned index READ) latency separately from the honest one-shot
    * build+write the registry entry measures. */
  def probeOnly: Seq[(String, (SparkSession, String) => DataFrame)] =
    VectorQueries.probeOnly ++ CorpusQueries.probeOnly ++
      TextQueries.probeOnly

  /** (index name, index dir) of the persisted `kind` index over the
    * warehouse at `dir`: `<kind><role>_<|hash of dir|>` under
    * `<tmpdir>/graft-<kind>-index`. A builder query and its probe-only
    * twin open the same handle; `role` tells apart the indexes one kind
    * keeps side by side in one dir. */
  private[graft] def indexHandle(kind: String, dir: String, role: String = ""): (String, String) =
    (kind + role + "_" + math.abs(dir.hashCode).toString,
      sys.props("java.io.tmpdir") + "/graft-" + kind + "-index")
}
