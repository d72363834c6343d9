package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Count-gated set collection as ONE aggregation — the fused form of the
  * candidate-bucket gate (`Dedup.gatedBuckets`). The previous shape needed
  * two passes over the bucket rows to stay memory-safe under hot keys:
  * a combine-friendly `count(*)` to find buckets in [2, maxBucket], then a
  * left-semi join + `sort_array(collect_set(id))` over the survivors —
  * two Exchanges on the bucket key plus a join, where the aggregation
  * itself fundamentally needs one. A naive `collect_set` can't fuse them
  * because it materializes the FULL id set per key before any size filter
  * runs (a boilerplate fingerprint shared by 10⁶ docs builds a multi-MB —
  * at corpus scale multi-GB — buffer on one reducer).
  *
  * This aggregate keeps the memory bound INSIDE the buffer: once a
  * bucket's distinct-element count exceeds `maxSize` the buffer poisons —
  * the set is dropped, a flag plus nothing else is retained, and every
  * later update/merge into the bucket is O(1) — so per-key state never
  * exceeds maxSize+1 elements no matter how hot the key. Poisoned buckets
  * and buckets with fewer than `minSize` elements evaluate to NULL (the
  * caller filters), everything else to the ascending-sorted distinct
  * array — bit-identical to
  * `sort_array(collect_set(payload))` + the [minSize, maxSize] count gate
  * under the gate's row-distinctness contract.
  *
  * NULL payloads are skipped exactly as `collect_set` skips them. The
  * shuffle carries one serialized partial set per (map task, live key),
  * the same combine-friendly shape as any partial aggregation; poisoned
  * partials serialize as a 1-byte flag.
  */
case class BoundedSortedSetAgg(child: Expression,
                               minSize: Int,
                               maxSize: Int,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[BoundedSortedSetAgg.Buffer] {

  // maxSize < minSize is legal and yields an empty result (every group
  // either poisons past maxSize or stays under minSize) — the historical
  // count-gate accepted e.g. [2, 1] as "drop every bucket"
  require(minSize >= 0 && maxSize >= 0,
    s"bounded_sorted_set needs non-negative sizes, got [$minSize, $maxSize]")

  override def prettyName: String = "bounded_sorted_set"
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrderingUtil.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an orderable, non-map element type, " +
        s"got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): BoundedSortedSetAgg.Buffer =
    new BoundedSortedSetAgg.Buffer(poisoned = false, mutable.HashSet.empty[Any])

  override def update(b: BoundedSortedSetAgg.Buffer, input: InternalRow): BoundedSortedSetAgg.Buffer = {
    if (b.poisoned) return b
    val v = child.eval(input)
    if (v != null) {
      // copy: the evaluated value may be backed by a reused row buffer
      b.set += InternalRow.copyValue(v)
      if (b.set.size > maxSize) { b.poisoned = true; b.set.clear() }
    }
    b
  }

  override def merge(b: BoundedSortedSetAgg.Buffer, o: BoundedSortedSetAgg.Buffer): BoundedSortedSetAgg.Buffer = {
    if (b.poisoned) return b
    if (o.poisoned) { b.poisoned = true; b.set.clear(); return b }
    b.set ++= o.set
    if (b.set.size > maxSize) { b.poisoned = true; b.set.clear() }
    b
  }

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(b: BoundedSortedSetAgg.Buffer): Any =
    if (b.poisoned || b.set.size < minSize) null
    else new GenericArrayData(b.set.toArray.sorted(ordering))

  // serialization mirrors Spark's Collect: each element through an
  // UnsafeProjection, length-prefixed
  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](child.dataType))
  @transient private lazy val row = new UnsafeRow(1)

  override def serialize(b: BoundedSortedSetAgg.Buffer): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeBoolean(b.poisoned)
    dos.writeInt(b.set.size)
    b.set.foreach { v =>
      val bytes = projection.apply(InternalRow.apply(v)).getBytes
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedSortedSetAgg.Buffer = {
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val poisoned = dis.readBoolean()
    val n = dis.readInt()
    val set = mutable.HashSet.empty[Any]
    var i = 0
    while (i < n) {
      val len = dis.readInt()
      val buf = new Array[Byte](len)
      dis.readFully(buf)
      row.pointTo(buf, len)
      set += InternalRow.copyValue(row.get(0, child.dataType))
      i += 1
    }
    new BoundedSortedSetAgg.Buffer(poisoned, set)
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedSortedSetAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedSortedSetAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BoundedSortedSetAgg =
    copy(child = c.head)
}

private object RowOrderingUtil {
  def isOrderable(dt: DataType): Boolean = dt match {
    case NullType => true
    case _: MapType => false
    case ArrayType(et, _) => isOrderable(et)
    case StructType(fields) => fields.forall(f => isOrderable(f.dataType))
    case _: UserDefinedType[_] => false
    case _ => true // atomic leaf types
  }
}

object BoundedSortedSetAgg {
  final class Buffer(var poisoned: Boolean, val set: mutable.HashSet[Any])

  /** Ascending-sorted distinct array of `c` per group; NULL when the group
    * has fewer than `minSize` or more than `maxSize` distinct values.
    */
  def apply(c: Column, minSize: Int, maxSize: Int): Column =
    GraftSqlBridge.column(
      BoundedSortedSetAgg(GraftSqlBridge.expression(c), minSize, maxSize)
        .toAggregateExpression())
}
