package graft.plans

import java.nio.ByteBuffer
import java.util.Comparator

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded TOP-K per group as a native Catalyst
  * [[TypedImperativeAggregate]]: keeps the k best (value, id) pairs
  * under the total order (value DESC, id ASC).
  *
  * Why this exists: the standard "top-3 rows per group" is a
  * `row_number` window + filter — which SORTS every group's full slice
  * (and with a low-cardinality group key funnels the corpus through
  * few partitions; the q63/q120 anti-pattern). The serving probes'
  * final top-k (IVF / IVF-PQ / sign-hash, ranked by an exact cosine)
  * had the same shape, with the per-qid window as the widest stage of
  * the serving path. This aggregate carries at most k 16-byte pairs per
  * group per task, combines MAP-SIDE like any partial aggregate, and
  * merges as a bounded ordered union — the shuffle moves |groups| x k
  * pairs, not the table. The id tiebreaker makes the result a pure
  * function of the input SET: deterministic on any partition layout,
  * replayable by a `row_number` oracle.
  *
  * `value` is BIGINT (`top_k_pairs_long`) or DOUBLE
  * (`top_k_pairs_double`); `id` is BIGINT. A DOUBLE value is held as
  * the order-preserving long key of [[TopKPairs.encodeDouble]], so one
  * buffer, comparator and serializer serve both: key order equals
  * `java.lang.Double.compare` (-0.0 below 0.0, NaN above +Infinity),
  * which is `desc_nulls_last` window order for non-null values.
  *
  * Returns a sorted ARRAY<STRUCT<v, id BIGINT>> with `v` of the value's
  * type (best first, size ≤ k); callers posexplode to (rank, value, id)
  * rows. Rows with a null value or id are ignored (SQL aggregate
  * semantics).
  */
case class TopKPairs(
    value: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Long, Long)]] {

  require(k >= 1, s"top-k needs k >= 1, got $k")

  override def children: Seq[Expression] = value :: id :: Nil

  override def nullable: Boolean = false

  private def isDouble: Boolean = value.dataType == DoubleType

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", value.dataType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (value.dataType, id.dataType) match {
      case (LongType | DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (BIGINT or DOUBLE, BIGINT) inputs, got $other")
    }

  // best-first order: value DESC, then id ASC — buffer.last() is the
  // current worst, so trimming keeps the k best (a named Serializable
  // comparator: the aggregate ships to executors inside task closures)
  private def ord: Comparator[(Long, Long)] = TopKPairs.BestFirst

  override def createAggregationBuffer(): java.util.TreeSet[(Long, Long)] =
    new java.util.TreeSet[(Long, Long)](ord)

  override def update(
      buffer: java.util.TreeSet[(Long, Long)],
      input: InternalRow): java.util.TreeSet[(Long, Long)] = {
    val v = value.eval(input)
    val i = id.eval(input)
    if (v != null && i != null) {
      val key = v match {
        case d: Double => TopKPairs.encodeDouble(d)
        case l => l.asInstanceOf[Long]
      }
      add(buffer, (key, i.asInstanceOf[Long]))
    }
    buffer
  }

  override def merge(
      buffer: java.util.TreeSet[(Long, Long)],
      other: java.util.TreeSet[(Long, Long)]): java.util.TreeSet[(Long, Long)] = {
    val it = other.iterator()
    while (it.hasNext) add(buffer, it.next())
    buffer
  }

  // Insert-if-competitive: only grows past k transiently, then drops
  // the worst — the buffer never holds more than k pairs after add().
  private def add(buffer: java.util.TreeSet[(Long, Long)], p: (Long, Long)): Unit = {
    if (buffer.size() < k) { buffer.add(p); () }
    else if (ord.compare(p, buffer.last()) < 0) {
      if (buffer.add(p)) { buffer.remove(buffer.last()); () }
    }
  }

  override def eval(buffer: java.util.TreeSet[(Long, Long)]): Any = {
    val double = isDouble
    val out = new Array[Any](buffer.size())
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) {
      val p = it.next()
      val v: Any = if (double) TopKPairs.decodeDouble(p._1) else p._1
      out(i) = new GenericInternalRow(Array[Any](v, p._2))
      i += 1
    }
    new GenericArrayData(out) // TreeSet iterates best-first by ord
  }

  override def serialize(buffer: java.util.TreeSet[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size())
    bb.putInt(buffer.size())
    val it = buffer.iterator()
    while (it.hasNext) { val p = it.next(); bb.putLong(p._1); bb.putLong(p._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buffer = createAggregationBuffer()
    var i = 0
    while (i < n) { buffer.add((bb.getLong, bb.getLong)); i += 1 }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), id = newChildren(1))

  // the SQL name of the value type; an unresolved value (Column API,
  // before analysis) has no type yet and prints as the BIGINT name
  override def prettyName: String =
    if (value.resolved && isDouble) "top_k_pairs_double" else "top_k_pairs_long"
}

object TopKPairs {
  object BestFirst extends Comparator[(Long, Long)] with Serializable {
    override def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val byV = java.lang.Long.compare(b._1, a._1)
      if (byV != 0) byV else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Long key whose signed order is `java.lang.Double.compare` order:
    * negative doubles get their 63 magnitude bits flipped. NaN is the
    * canonical `doubleToLongBits` NaN. */
  def encodeDouble(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  /** Inverse of [[encodeDouble]] (the flip keeps the sign bit, so it is
    * its own inverse). */
  def decodeDouble(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((key >> 63) & Long.MaxValue))
}
