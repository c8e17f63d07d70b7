package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** A mergeable HyperLogLog register aggregate as a NATIVE Catalyst
  * `TypedImperativeAggregate` — the imperative-buffer tier Spark's own
  * `percentile_approx`/`hll_sketch_agg` live in: a fixed 256-byte
  * register array per group, map-side partial aggregation, binary
  * buffer serialization across the shuffle, O(1) merge per partition.
  *
  * Deliberately built on an ENGINE-PORTABLE hash (the 52-bit md5 prefix
  * used throughout the oracle surface) rather than a JVM-private one:
  * bucket = h mod 2⁸, rank = leading-zero count of the remaining 44
  * bits + 1. Every register value is a pure function of the input set,
  * so DuckDB can replay the registers exactly and the final estimate is
  * hash-comparable — the sketch itself is under the oracle gate, not
  * just its error bound. At 100 TB the shuffle carries 256 bytes per
  * (partition, group), independent of cardinality.
  */
case class HllRegisterAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private val P = 8 // 2^8 = 256 registers
  private val M = 1 << P

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = mdLong52(v.toString)
      val bucket = (h % M).toInt
      val w = h >>> P // 44 significant bits remain
      // rank = leading zeros within the 44-bit window + 1 (w == 0 → 45)
      val rank = if (w == 0L) 45 else 45 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > buf(bucket)) buf(bucket) = rank.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** Returns the raw registers; the estimate formula runs in column
    * space so the oracle can share it textually. */
  override def eval(buf: Array[Byte]): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf.map(_.toInt))

  override def serialize(b: Array[Byte]): Array[Byte] = b
  override def deserialize(b: Array[Byte]): Array[Byte] = b

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HllRegisterAgg = copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): HllRegisterAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegisterAgg =
    copy(inputAggBufferOffset = o)

  /** Same 52-bit md5 prefix as the oracle's ('0x' || substr(md5(x),1,13)). */
  private def mdLong52(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    // first 13 hex chars = 6.5 bytes = 52 bits
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(6) & 0xf0L) >>> 4)
  }
}

object HllRegisterAgg {
  /** `hll_registers(col)` as a Column aggregate. */
  def hllRegisters(c: Column): Column =
    GraftColumnBridge.column(
      HllRegisterAgg(GraftColumnBridge.expression(c)).toAggregateExpression())
}
