package graft.kmer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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
    else {
      val s = v.asInstanceOf[UTF8String]
      val nBytes = s.numBytes()
      val nChars = s.numChars()
      if (nChars < k) Iterator.empty
      else if (nChars == nBytes) {
        // ASCII fast path: slice the backing bytes directly — O(k) per
        // k-mer. UTF8String.substring is char-indexed and rescans from the
        // string head each call, which would make a full k-merization
        // O(len²) per document.
        val bytes = s.getBytes // at most one copy per row; slices share it
        new Iterator[InternalRow] {
          private var i = 0
          private val last = nBytes - k
          override def hasNext: Boolean = i <= last
          override def next(): InternalRow = {
            val row = InternalRow(UTF8String.fromBytes(bytes, i, k))
            i += 1
            row
          }
        }
      } else {
        // multibyte text: char-indexed substring keeps the same semantics
        // as SQL substr in both engines
        new Iterator[InternalRow] {
          private var i = 0
          private val last = nChars - k
          override def hasNext: Boolean = i <= last
          override def next(): InternalRow = {
            val row = InternalRow(s.substring(i, i + k))
            i += 1
            row
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KmerGenerator =
    copy(child = newChild)
}

object KmerGenerator {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column form: `df.select(col("id"), kmer_explode(col("seq"), k))`. */
  def kmer_explode(seq: Column, k: Int): Column =
    GraftColumnBridge.column(KmerGenerator(GraftColumnBridge.expression(seq), k))
}
