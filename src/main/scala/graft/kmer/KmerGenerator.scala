package graft.kmer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst `Generator` for k-merization — the UDTF-shaped custom
  * expression SURVEY §2.8/§7 earmarks for the hot path: one sequence row →
  * (len − k + 1) k-mer rows, emitted lazily.
  *
  * Versus `explode(transform(sequence(...), substring))`, this avoids
  * materializing the full k-mer array per row before the explode: each
  * k-mer is a view of the sequence's UTF-8 bytes ([[KmerSlices]]). The
  * reference's equivalent is `sequence.sliding(k)` inside a flatMap
  * (Index.scala:87-89).
  */
case class KmerGenerator(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(k > 0, s"k-mer length must be positive, got $k")

  override def elementSchema: StructType =
    StructType(StructField("kmer", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else KmerGenerator.slices(v.asInstanceOf[UTF8String], k).map(InternalRow(_))
  }

  override protected def withNewChildInternal(newChild: Expression): KmerGenerator =
    copy(child = newChild)
}

object KmerGenerator {
  /** The k-mers of `s` in order, `s.sliding(k)` over characters; none when
    * `s` is shorter than k. Each is a view of the byte range
    * [[KmerSlices]] gives it, so no k-mer copies its bytes. */
  def slices(s: UTF8String, k: Int): Iterator[UTF8String] = {
    val sl = new KmerSlices(s.getBytes, k)
    Iterator.range(0, sl.count).map(i =>
      UTF8String.fromBytes(sl.bytes, sl.from(i), sl.until(i) - sl.from(i)))
  }
}

/** The one definition of k-mer slicing, shared by [[KmerGenerator.slices]]
  * and [[KmerTable]]: k-mer i of a sequence is chars i until i + k, as
  * `String.sliding(k)` and SQL `substr` cut them, held as the byte range
  * `bytes(from(i) until until(i))` of its UTF-8 bytes.
  *
  * ASCII text (every byte below 0x80) is the fast path: char i is byte i.
  * Other text walks its chars once, as `UTF8String` counts them
  * (`numBytesForFirstByte`), so each k-mer is a byte range there too and a
  * whole k-merization stays linear in the sequence length.
  */
final class KmerSlices(val bytes: Array[Byte], val k: Int) {
  require(k > 0, s"k-mer length must be positive, got $k")

  /** Byte offset of each char and then the end of the bytes; null for
    * ASCII. */
  private val starts: Array[Int] = KmerSlices.charStarts(bytes)

  /** True when char i is byte i. */
  val ascii: Boolean = starts == null

  /** The number of k-mers: 0 when the sequence is shorter than k. */
  val count: Int =
    math.max((if (ascii) bytes.length else starts.length - 1) - k + 1, 0)

  def from(i: Int): Int = if (ascii) i else starts(i)
  def until(i: Int): Int = if (ascii) i + k else starts(i + k)
}

object KmerSlices {
  private def charStarts(b: Array[Byte]): Array[Int] = {
    var p = 0
    while (p < b.length && b(p) >= 0) p += 1
    if (p == b.length) null
    else {
      val starts = new Array[Int](b.length + 1)
      var c = 0
      p = 0
      while (p < b.length) {
        starts(c) = p; c += 1
        p += UTF8String.numBytesForFirstByte(b(p))
      }
      starts(c) = b.length // a truncated last char ends with the bytes
      java.util.Arrays.copyOf(starts, c + 1)
    }
  }
}

/** One sequence row → one row per distinct k-mer multiplicity m in it:
  * `(mult, kmers)`, where `kmers` holds the k-mers that occur exactly m
  * times in the row, sorted in binary order (as `sort_array` sorts
  * strings). Rows come out in ascending `mult`; a null sequence or one
  * shorter than k gives none.
  *
  * This is the per-transcript half of the equivalence-class index
  * ([[graft.index.Indexer]]): the row's k-mers are counted in a
  * [[KmerTable]] of its own, so a (row, multiplicity) class is complete
  * without a shuffle. The slicing is [[KmerSlices]].
  */
case class KmerClasses(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(k > 0, s"k-mer length must be positive, got $k")

  override def elementSchema: StructType = StructType(
    StructField("mult", LongType, nullable = false) ::
      StructField("kmers", ArrayType(StringType, containsNull = false), nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val sl = new KmerSlices(v.asInstanceOf[UTF8String].getBytes, k)
      // a table per row, sized to hold all of it: the keys are views of its
      // arena, which no later row writes to
      val table = new KmerTable(sl.count, Int.MaxValue, Int.MaxValue)
      table.add(sl, 0)
      Array.tabulate(table.size)(e => (table.count(e), table.keyView(e)))
        .groupBy(_._1)
        .toArray.sortBy(_._1)
        .map { case (mult, entries) =>
          val kmers = entries.map(_._2)
          java.util.Arrays.sort(kmers, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
          InternalRow(mult, new GenericArrayData(kmers.asInstanceOf[Array[Any]]))
        }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KmerClasses =
    copy(child = newChild)
}
