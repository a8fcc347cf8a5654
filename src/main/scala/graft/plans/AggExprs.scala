package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k aggregation state: the `k` smallest (rank, key) pairs
  * under (rank ASC NULLS FIRST, key ASC NULLS FIRST) — a max-heap of
  * capacity k, so a map-side PARTIAL aggregate holds at most k entries
  * per group per task no matter how many rows the group has. That is the
  * property the single-window per-host rank lacks: a window must colocate
  * ALL of a key's rows in one task before ranking, a hot-partition at
  * megasite scale, while this aggregate prunes to k rows per (group, map
  * task) BEFORE the exchange. */
final class TopKMinBuffer(val k: Int, val cmp: java.util.Comparator[Array[Any]]) {
  // max-heap (reverse order): the root is the WORST kept entry
  val heap = new java.util.PriorityQueue[Array[Any]](k + 1, cmp.reversed())
  def add(e: Array[Any]): Unit = {
    if (heap.size() < k) { heap.offer(e); () }
    else if (cmp.compare(e, heap.peek()) < 0) { heap.poll(); heap.offer(e); () }
  }
}

/** `topk_min(rank, key, k)` — the k smallest (rank, key) pairs of the
  * group, returned as `array<struct<r, key>>` sorted ascending (so
  * element position + 1 IS the group-local rank). Equivalent to keeping
  * `row_number() OVER (PARTITION BY group ORDER BY rank, key) <= k`, but
  * with a bounded buffer that aggregates map-side. Ordering matches SQL:
  * binary UTF8 compare on `rank`, the type's SQL ordering on `key`,
  * nulls first on both (the window default ASC NULLS FIRST). */
case class TopKMinAgg(
    rank: Expression, key: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKMinBuffer] with BespokeName {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(rank, key, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("r", StringType, nullable = true),
    StructField("key", key.dataType, nullable = true))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (rank.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string rank, got ${rank.dataType}")
    if (!org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(key.dataType))
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an orderable key, got ${key.dataType}")
    if (!kExpr.foldable || kExpr.dataType != IntegerType)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal int k, got $kExpr")
    if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Number].intValue() <= 0)
      return TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0")
    TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val keyOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(key.dataType)

  /** (rank ASC NULLS FIRST, key ASC NULLS FIRST) — the window default. */
  @transient private lazy val cmp: java.util.Comparator[Array[Any]] =
    new java.util.Comparator[Array[Any]] {
      private def nf(a: Any, b: Any, c: (Any, Any) => Int): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else c(a, b)
      override def compare(x: Array[Any], y: Array[Any]): Int = {
        val c1 = nf(x(0), y(0), (a, b) =>
          a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
        if (c1 != 0) c1 else nf(x(1), y(1), keyOrdering.compare)
      }
    }

  override def createAggregationBuffer(): TopKMinBuffer = new TopKMinBuffer(k, cmp)

  override def update(buf: TopKMinBuffer, input: InternalRow): TopKMinBuffer = {
    // values may point into reused row memory — copy before retaining
    val r = InternalRow.copyValue(rank.eval(input))
    val ky = InternalRow.copyValue(key.eval(input))
    buf.add(Array(r, ky))
    buf
  }

  override def merge(buf: TopKMinBuffer, other: TopKMinBuffer): TopKMinBuffer = {
    other.heap.forEach(e => buf.add(e))
    buf
  }

  override def eval(buf: TopKMinBuffer): Any = {
    val arr = buf.heap.toArray(Array.empty[Array[Any]])
    java.util.Arrays.sort(arr, cmp)
    new GenericArrayData(arr.map(e => InternalRow(e(0), e(1)): Any))
  }

  @transient private lazy val entryProj: UnsafeProjection =
    UnsafeProjection.create(Array[DataType](StringType, key.dataType))

  override def serialize(buf: TopKMinBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.heap.size())
    buf.heap.forEach { e =>
      val row = entryProj.apply(InternalRow(e(0), e(1)))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKMinBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val row = new UnsafeRow(2)
      row.pointTo(b, len)
      val r = if (row.isNullAt(0)) null else row.getUTF8String(0).clone()
      val ky = if (row.isNullAt(1)) null
        else InternalRow.copyValue(row.get(1, key.dataType))
      buf.add(Array(r, ky))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMinAgg =
    copy(rank = newChildren(0), key = newChildren(1), kExpr = newChildren(2))
}

object TopKMinAgg {
  def fromExprs(exprs: Seq[Expression]): TopKMinAgg =
    TopKMinAgg(exprs(0), exprs(1), exprs(2))

  /** `topk_min(rank, key, k)`: the `k` smallest (rank, key) pairs of a group. */
  def topk_min(rank: Column, key: Column, k: Column): Column =
    NativeFunctions.column("topk_min", rank, key, k)
}
