package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass strictly-prior prefix fold over [[Dist.prefix]]'s sorted
  * per-bucket totals array: `dist_fold(arr, g, c)` walks the
  * (group keys…, pid)-sorted array ONCE and emits, positionally aligned
  * with the input, each entry's strictly-prior-within-group offsets
  * plus its group total. Group-key changes reset the running
  * accumulators; with `g = 0` the whole array is one group, so every
  * entry's `gn` is the grand total. The cost is O(entries · fields) on
  * the 1-row scalar-subquery frame, once per action.
  *
  * Input element layout (positional contract with [[Dist.prefix]]):
  * fields 0..g-1 = group key columns (the tier's `part`), field g =
  * the bucket pid (unused by the fold — it orders the array), field
  * g+1 = the bucket row count (long), the next c fields = per-bucket
  * cum sums (long, non-null — the tier's exact-arithmetic contract),
  * and every remaining field = a per-bucket max (any orderable type,
  * nullable).
  *
  * Output: array<struct(cnt, c1..cc, m1..mm, gn)> — `arr(i).cnt` /
  * `c·` / `m·` are the sums/maxes over entries of the same group
  * strictly before i (exact int64 adds in pid order; maxes skip nulls
  * like `greatest`), and `arr(i).gn` is entry i's group total. A NULL
  * input array yields an empty array.
  *
  * Determinism: a pure function of the input array. Comparison
  * semantics for group-key equality and maxes match [[DistBucket]]
  * (natural Comparable order; Double/Float via [[SQLOrderingUtil]] so
  * NaN/−0.0 never split keys the sort treats as equal). Interpreted
  * eval only ([[CodegenFallback]]): the expression runs once per
  * ACTION on a 1-row frame, never per data row, so codegen would buy
  * nothing.
  */
case class DistFold(children: Seq[Expression])
    extends Expression with CodegenFallback {

  private def arrExpr: Expression = children.head

  @transient private lazy val g: Int =
    children(1).eval(null).asInstanceOf[Number].intValue()
  @transient private lazy val c: Int =
    children(2).eval(null).asInstanceOf[Number].intValue()

  @transient private lazy val elemType: StructType =
    arrExpr.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]
  @transient private lazy val nFields: Int = elemType.length
  @transient private lazy val m: Int = nFields - g - 2 - c
  @transient private lazy val keyTypes: IndexedSeq[DataType] =
    (0 until g).map(i => elemType(i).dataType)
  @transient private lazy val maxTypes: IndexedSeq[DataType] =
    (0 until m).map(j => elemType(g + 2 + c + j).dataType)

  override def nullable: Boolean = false

  override def dataType: DataType = {
    val entry = StructType(
      StructField("cnt", LongType, nullable = false) +:
        ((1 to c).map(i => StructField(s"c$i", LongType, nullable = false)) ++
         (1 to m).map(j =>
           StructField(s"m$j", maxTypes(j - 1), nullable = true)) :+
         StructField("gn", LongType, nullable = false)))
    ArrayType(entry, containsNull = false)
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 3)
      return TypeCheckResult.TypeCheckFailure(
        "dist_fold(arr, numGroupKeys, numCums) takes exactly 3 arguments")
    if (!(children(1).foldable && children(2).foldable &&
          children(1).dataType == IntegerType &&
          children(2).dataType == IntegerType))
      return TypeCheckResult.TypeCheckFailure(
        "dist_fold numGroupKeys/numCums must be foldable int literals")
    arrExpr.dataType match {
      case ArrayType(st: StructType, _) =>
        if (g < 0 || c < 0 || st.length < g + 2 + c)
          TypeCheckResult.TypeCheckFailure(
            s"dist_fold element struct has ${st.length} fields; needs " +
              s">= $g group keys + pid + cnt + $c cums")
        else {
          val longFields = st.fields(g + 1) +:
            (0 until c).map(i => st.fields(g + 2 + i))
          // group keys and maxes go through cmpVals' Comparable cast,
          // which these types would fail inside a task
          val unordered = ((0 until g) ++ (g + 2 + c until st.length))
            .map(st.fields(_)).find(_.dataType match {
              case BinaryType | _: ArrayType | _: MapType | _: StructType => true
              case _ => false
            })
          if (longFields.exists(_.dataType != LongType))
            TypeCheckResult.TypeCheckFailure(
              "dist_fold cnt/cum fields must be long")
          else unordered match {
            case Some(f) => TypeCheckResult.TypeCheckFailure(
              s"dist_fold group-key/max field `${f.name}` has type " +
                s"${f.dataType.simpleString}, which has no natural ordering")
            case None => TypeCheckResult.TypeCheckSuccess
          }
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"dist_fold arr must be array<struct>, got ${other.simpleString}")
    }
  }

  override def prettyName: String = "dist_fold"

  private def cmpVals(dt: DataType, a: Any, b: Any): Int = dt match {
    case DoubleType => SQLOrderingUtil.compareDoubles(
      a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => SQLOrderingUtil.compareFloats(
      a.asInstanceOf[Float], b.asInstanceOf[Float])
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Defensive copy of buffer-backed values (the input array may be
    * unsafe-backed; emitted entries outlive the walk). */
  private def cp(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case r: InternalRow => r.copy()
    case a: ArrayData => a.copy()
    case x => x
  }

  private def sameGroup(a: InternalRow, b: InternalRow): Boolean = {
    var i = 0
    while (i < g) {
      val an = a.isNullAt(i)
      val bn = b.isNullAt(i)
      if (an != bn) return false
      if (!an) {
        val dt = keyTypes(i)
        if (cmpVals(dt, a.get(i, dt), b.get(i, dt)) != 0) return false
      }
      i += 1
    }
    true
  }

  override def eval(input: InternalRow): Any = {
    val arr = arrExpr.eval(input)
    if (arr == null) return new GenericArrayData(Array.empty[Any])
    val data = arr.asInstanceOf[ArrayData]
    val n = data.numElements()
    val entryLen = 1 + c + m + 1
    val entries = new Array[Any](n)
    var runCnt = 0L
    val runC = new Array[Long](c)
    val runM = new Array[Any](m)
    var groupStart = 0
    var prev: InternalRow = null
    def closeGroup(endExclusive: Int): Unit = {
      var j = groupStart
      while (j < endExclusive) {
        entries(j).asInstanceOf[GenericInternalRow]
          .update(entryLen - 1, runCnt)
        j += 1
      }
    }
    var i = 0
    while (i < n) {
      val row = data.getStruct(i, nFields)
      if (i > 0 && !sameGroup(prev, row)) {
        closeGroup(i)
        groupStart = i
        runCnt = 0L
        java.util.Arrays.fill(runC, 0L)
        java.util.Arrays.fill(runM.asInstanceOf[Array[AnyRef]], null)
      }
      val e = new GenericInternalRow(entryLen)
      e.update(0, runCnt)
      var k = 0
      while (k < c) { e.update(1 + k, runC(k)); k += 1 }
      var j = 0
      while (j < m) { e.update(1 + c + j, runM(j)); j += 1 }
      entries(i) = e
      runCnt += row.getLong(g + 1)
      k = 0
      while (k < c) { runC(k) += row.getLong(g + 2 + k); k += 1 }
      j = 0
      while (j < m) {
        if (!row.isNullAt(g + 2 + c + j)) {
          val v = cp(row.get(g + 2 + c + j, maxTypes(j)))
          if (runM(j) == null || cmpVals(maxTypes(j), v, runM(j)) > 0)
            runM(j) = v
        }
        j += 1
      }
      // prev must survive the next iteration even if getStruct returns
      // a buffer view — copy only the group-key prefix comparison base
      prev = if (g > 0) row.copy() else row
      i += 1
    }
    closeGroup(n)
    new GenericArrayData(entries)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DistFold =
    copy(children = newChildren)
}
