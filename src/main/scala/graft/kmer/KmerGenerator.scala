package graft.kmer

import org.apache.spark.sql.Column
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
  * materializing the full k-mer array per row before the explode: the
  * iterator slices the sequence's UTF8 bytes directly (ASCII alphabet, so
  * byte offsets are char offsets). The reference's equivalent is
  * `sequence.sliding(k)` inside a flatMap (Index.scala:87-89).
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
  import org.apache.spark.sql.GraftColumnBridge

  /** Column form: `df.select(col("id"), kmer_explode(col("seq"), k))`. */
  def kmer_explode(seq: Column, k: Int): Column =
    GraftColumnBridge.column(KmerGenerator(GraftColumnBridge.expression(seq), k))

  /** The k-mers of `s` in order, `s.sliding(k)` over characters; none when
    * `s` is shorter than k. The one definition of k-mer slicing that
    * [[KmerGenerator]] and [[KmerClasses]] share. */
  def slices(s: UTF8String, k: Int): Iterator[UTF8String] = {
    val nChars = s.numChars()
    // ASCII fast path: slice the backing bytes directly — O(k) per k-mer.
    // UTF8String.substring is char-indexed and rescans from the string
    // head each call, which would make a full k-merization O(len²) per
    // document. Multibyte text pays that: char-indexed substring keeps the
    // same semantics as SQL substr in both engines.
    val bytes = if (nChars == s.numBytes()) s.getBytes else null // slices share it
    new Iterator[UTF8String] {
      private var i = 0
      private val last = nChars - k
      override def hasNext: Boolean = i <= last
      override def next(): UTF8String = {
        val kmer =
          if (bytes != null) UTF8String.fromBytes(bytes, i, k) else s.substring(i, i + k)
        i += 1
        kmer
      }
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
  * ([[graft.index.Indexer]]): the row's k-mers are counted in a local hash
  * map, so a (row, multiplicity) class is complete without a shuffle. The
  * slicing is [[KmerGenerator.slices]].
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
      val counts = new java.util.HashMap[UTF8String, Integer]()
      KmerGenerator.slices(v.asInstanceOf[UTF8String], k)
        .foreach(km => counts.merge(km, Integer.valueOf(1), (a: Integer, b: Integer) => a + b))
      counts.entrySet().toArray(Array.empty[java.util.Map.Entry[UTF8String, Integer]])
        .groupBy(_.getValue.intValue)
        .toArray.sortBy(_._1)
        .map { case (mult, entries) =>
          val kmers = entries.map(_.getKey)
          java.util.Arrays.sort(kmers, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
          InternalRow(mult.toLong, new GenericArrayData(kmers.asInstanceOf[Array[Any]]))
        }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KmerClasses =
    copy(child = newChild)
}
