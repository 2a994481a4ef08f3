package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native KMV (k-minimum-values / bottom-k) distinct-count sketch as a
  * `TypedImperativeAggregate` — the second engine-layer aggregate beside
  * [[HllRegisterAgg]], covering the OTHER classic cardinality sketch
  * family: where HLL keeps per-bucket rank maxima, KMV keeps the k
  * smallest DISTINCT hash values and estimates D ≈ (k−1)·H/h_(k) for hash
  * space [0, H). Unlike HLL, the same buffer doubles as a deterministic
  * bottom-k SAMPLE of the keys' hash space — the building block of KMV
  * set-algebra (union = merge, intersection via inclusion-exclusion over
  * the combined bottom-k).
  *
  * Hash = first 8 md5 hex chars of the STRING key as a BIGINT in
  * [0, 2³²) — the house PRF (identical spelling in the DuckDB oracle), so
  * the sketch content itself is oracle-checkable bit-for-bit, not just
  * the estimate. Buffer = sorted ascending array of ≤ k distinct hashes;
  * update is a binary-search insert, merge is a sorted-union truncate —
  * both keep the "k smallest distinct" invariant, so partial buffers
  * collapse map-side and the shuffle carries ≤ k longs per partition.
  *
  * Estimation is left to the caller (one exact integer division —
  * `(k−1)·2³² div h_k`), keeping this aggregate a pure sketch builder.
  */
case class KmvAgg(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[Long]] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_agg"

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def insert(buf: java.util.TreeSet[Long], h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  override def update(buf: java.util.TreeSet[Long],
                      input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .getBytes
      val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      // first 8 hex chars = top 4 bytes — identical to
      // conv(substring(md5(key), 1, 8), 16, 10)
      var h = 0L
      var i = 0
      while (i < 4) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
      insert(buf, h)
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
                     other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
}

object KmvAgg {
  /** Column API: `kmv_agg(col)` as an aggregate Column (k = 64). */
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.GraftSqlShim.applyExpr(c.cast("string")) {
      case Seq(k) => KmvAgg(k).toAggregateExpression()
    }
}
