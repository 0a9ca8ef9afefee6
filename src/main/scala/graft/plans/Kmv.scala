package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{ColumnBridge, ExpectsInputTypesBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values / bottom-k theta) sketch as a native Catalyst
  * `TypedImperativeAggregate` — the SET-OPERATION member of the sketch
  * family (Bar-Yossef et al. 2002; the Theta-sketch family's
  * fixed-size special case): keep the k smallest DISTINCT 63-bit
  * hashes of the stream. Unlike HLL ([[HllAgg]]), the sketch value
  * itself supports union/intersection/Jaccard downstream: the k
  * smallest of a merged sketch pair estimate |A ∪ B|, and the fraction
  * of those minima present in both sides estimates J(A,B) — all as
  * plain codegen'd array expressions (array_union/array_sort/slice/
  * array_intersect), no further custom code.
  *
  * The result is an ASCENDING LongType array (≤ k entries; fewer means
  * the input had < k distinct values and the sketch is EXACT). Hashes
  * are [[HllAgg.hash64]] shifted to 63 bits so plain signed ordering
  * and SQL arithmetic apply. Deterministic and merge-tree INVARIANT:
  * the k smallest distinct values of a fixed hash function do not
  * depend on arrival or merge order — StateSpec asserts bit-identical
  * sketches across adversarial merge trees.
  *
  * Estimator: with u_k = kthMin / 2^63, |A| ≈ (k−1)/u_k; relative
  * error ~1/√(k−2).
  */
case class KmvAgg(child: Expression, k: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with ExpectsInputTypesBridge {

  require(k >= 8 && k <= (1 << 20), "kmv needs k in [8, 2^20]")

  override def expectedInputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) buf.pollLast()
      ()
    }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null)
      add(buf, HllAgg.hash64(v.asInstanceOf[UTF8String].getBytes) >>> 1)
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) add(a, it.next())
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long])
      : Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    b.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) b.putLong(it.next().longValue())
    b.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    val n = b.getInt()
    val set = new java.util.TreeSet[java.lang.Long]()
    (0 until n).foreach(_ => set.add(b.getLong()))
    set
  }

  override def dataType: DataType = ArrayType(LongType, false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "kmv_sketch"
}

object Kmv {
  /** `kmv_sketch(c, k)` aggregate column: ascending k smallest 63-bit
    * hashes (see [[KmvAgg]]). */
  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(c), k).toAggregateExpression())
}
