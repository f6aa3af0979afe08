package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** top_k_pairs(value, id, k) — native Catalyst aggregate keeping the k
  * largest (value, id) pairs per group, ties broken by smaller id.
  *
  * This is the scale-correct form of per-group top-k: the window
  * formulation (`row_number() OVER (PARTITION BY g ORDER BY v DESC)`)
  * shuffles EVERY row to its group's partition and fully sorts it; this
  * aggregate is partial-mergeable (ObjectHashAggregate), so each map
  * task forwards AT MOST k rows per group across the wire and no sort
  * ever happens — O(n·k) per partition, merge-order-invariant (the
  * top-k set under a total order is unique), hence deterministic on any
  * cluster layout.
  *
  * Buffer is a flat ArrayBuffer with linear worst-eviction: k is small
  * (single digits) — a heap would only add constant factors.
  */
case class TopKPairs(
    value: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(value, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "top_k_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_pairs value must be double, got ${value.dataType.simpleString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_pairs id must be bigint, got ${id.dataType.simpleString}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("top_k_pairs k must be an int literal")
    else TypeCheckResult.TypeCheckSuccess

  /** Strict preference order: higher value wins, then smaller id.
    * `Double.compare`, not `>`: NaN must order as the LARGEST double
    * (matching Spark's descending sort, hence the window/oracle
    * formulation) — with raw `>` every NaN comparison is false and the
    * order stops being total, making results merge-order-dependent. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: ArrayBuffer[(Double, Long)],
                     e: (Double, Long)): Unit = {
    buf += e
    if (buf.length > k) {
      var worst = 0
      var j = 1
      while (j < buf.length) {
        if (better(buf(worst), buf(j))) worst = j
        j += 1
      }
      buf.remove(worst)
    }
  }

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Double, Long)],
                      input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val v = value.eval(input)
    val i = id.eval(input)
    // Nulls are a contract violation, not data to skip: silently
    // dropping them can lose a group's rightful top-k rows (or whole
    // groups) with no signal. Callers must filter/coalesce nulls first.
    if (v == null || i == null)
      throw new IllegalArgumentException(
        "top_k_pairs: null value/id input row - filter or coalesce nulls " +
          "before aggregating (silently skipping would drop rows)")
    insert(buf, (v.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: ArrayBuffer[(Double, Long)],
                     other: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(
      buf.sortWith(better).iterator
        .map { case (v, i) => InternalRow(v, i) }.toArray[Any])

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (v, i) => out.writeDouble(v); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = ArrayBuffer.empty[(Double, Long)]
    var j = 0
    while (j < n) { buf += ((in.readDouble(), in.readLong())); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
