package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.TopKPairs

/** Bounded top-k-per-group — the aggregate-shaped alternative to a
  * `row_number` window + filter (see plans/TopKPairs for the
  * 100 TB argument: k pairs of state per group per task, map-side
  * combine, no full-group sort).
  */
object TopK {

  /** ARRAY<STRUCT<v, id>> of the k best (value, id) pairs under
    * (value DESC, id ASC). Value BIGINT or DOUBLE (`v` keeps its type),
    * id BIGINT. */
  def topKPairs(value: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKPairs(ColumnBridge.expression(value),
        ColumnBridge.expression(id), k).toAggregateExpression())
}
