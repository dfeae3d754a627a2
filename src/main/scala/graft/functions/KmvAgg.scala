package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al. 2002):
  * keep the k smallest DISTINCT hash values seen; if fewer than k exist the
  * count is exact, otherwise estimate (k−1) · 2³² / kth-smallest.
  *
  * Unlike HyperLogLog (`approx_count_distinct`), the estimate is a pure
  * function of the input hashes — deterministic and reproducible in plain
  * SQL — so the d20 query is ORACLE-GATED: DuckDB recomputes the identical
  * estimate from the same md5-derived 32-bit hashes (the deterministic-
  * sampling basis from d13). The operational properties match HLL where it
  * matters at scale: bounded state (k longs), map-side partial aggregation,
  * associative+commutative merge (union, trim to k).
  *
  * A `TypedImperativeAggregate` — the buffer is a real JVM TreeSet, the
  * path for aggregation state no expression tree can hold (ProductAgg
  * shows the declarative path; this shows the imperative one). Runs under
  * ObjectHashAggregateExec with sort-based fallback, so memory stays
  * bounded however many groups a partition holds.
  *
  * Input must be the 32-bit hash itself, [[TextFns.hash32]] over the value
  * cast to string, so the hashing step stays visible on both engines: the
  * DuckDB twin hashes with [[TextFns.hash32Sql]] over `CAST(x AS VARCHAR)`.
  */
case class KmvAgg(child: Expression, k: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[Long]]
    with UnaryLike[Expression] {

  require(k >= 2, s"kmv_distinct needs k >= 2, got $k")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  // reject non-bigint input at ANALYSIS time — update() casts to Long, and
  // without this a SQL call on the wrong type dies per-row with a raw
  // ClassCastException (AbstractDataType is private[sql] in Spark 4, so
  // checkInputDataTypes instead of ExpectsInputTypes)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"kmv_distinct expects a BIGINT hash column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  override def update(buf: java.util.TreeSet[Long],
                      input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buf.size < k) buf.add(h)
      else if (h < buf.last) { if (buf.add(h)) buf.pollLast() }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
                     other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (buf.size < k) buf.add(h)
      else if (h < buf.last) { if (buf.add(h)) buf.pollLast() }
      else return buf // other is sorted ascending: the rest can't qualify
    }
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any =
    if (buf.size < k) buf.size.toDouble
    else (k - 1).toDouble * 4294967296.0 / buf.last.toDouble

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.size)
    buf.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf.add(bb.getLong)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
}

object KmvAgg {
  /** Column form. `hash32` must hold values in [0, 2³²) — see scaladoc. */
  def kmvDistinct(hash32: Column, k: Int): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(hash32), k).toAggregateExpression())
}
