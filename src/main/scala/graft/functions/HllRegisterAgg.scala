package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native HyperLogLog register aggregate at the ENGINE layer — a
  * `TypedImperativeAggregate` whose buffer is the m-register array itself,
  * completing the custom-operator tour (scalar Expression / Generator /
  * optimizer Rule / Strategy+Exec / parser / DSv2) with the remaining
  * tier: an imperative aggregate function with a serialized binary buffer,
  * planned through ObjectHashAggregate with genuine partial/final merge.
  *
  * Bit-compatible BY CONSTRUCTION with the DataFrame-composed
  * [[graft.operators.Sketches.hllRegisters]] (m = 64): the hash is the
  * same md5-derived 60-bit integer (first 15 hex chars of
  * md5(CAST(key AS STRING))), bucket = h mod m, rho = 55 − bitlength(h
  * div m) (0 when rest = 0 maps to 55) — so the q_sketch_hll DuckDB
  * oracle verifies THIS operator too, and the estimate math downstream is
  * unchanged. Registers merge by elementwise max (commutative,
  * associative, idempotent): partial buffers collapse map-side and the
  * shuffle carries ONE m-long array per partition — the constant-state
  * profile regardless of corpus size.
  *
  * The input must already be a STRING (callers cast), keeping the
  * expression single-child and the hash rule explicit.
  */
case class HllRegisterAgg(
    child: Expression,
    m: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hll_register_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .getBytes
      val md = java.security.MessageDigest.getInstance("MD5")
      val digest = md.digest(bytes)
      // first 15 hex chars = top 60 bits of the digest: 7 full bytes + the
      // high nibble of byte 7 — identical to conv(substring(hex, 1, 15))
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
      h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      val bucket = (h % m).toInt
      val rest = h / m
      val rho = if (rest == 0) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
      if (rho > buf(bucket)) buf(bucket) = rho
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(m * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(m)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegisterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegisterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegisterAgg =
    copy(child = newChildren.head)
}

object HllRegisterAgg {
  /** Column API: `hll_register_agg(col)` as an aggregate Column. */
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.GraftSqlShim.applyExpr(c.cast("string")) {
      case Seq(k) => HllRegisterAgg(k).toAggregateExpression()
    }
}
