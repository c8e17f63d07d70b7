package graft.kmer

import org.apache.spark.sql.{Column, GraftColumnBridge}

/** k-merization as a native Catalyst generator — no Scala UDFs, so it
  * stays inside whole-stage codegen and the optimizer can prune/push
  * around it.
  *
  * Reference semantics: `sequence.sliding(k)` (Index.scala:87-89, SURVEY F1).
  * The package has one slicing definition, [[KmerSlices]] (the generators
  * and the counts all cut k-mers there), and one counting kernel,
  * [[KmerTable]]: the per-transcript index rows ([[KmerClasses]]) and the
  * read k-mer counts (`Quantify.countKmers`) both count in it.
  */
object Kmers {

  /** Generator form — one sequence row → (len−k+1) kmer rows, streamed by
    * the custom Catalyst expression (no intermediate array). */
  def kmerExplode(seq: Column, k: Int): Column =
    GraftColumnBridge.column(KmerGenerator(GraftColumnBridge.expression(seq), k))

  /** One sequence row → `(mult long, kmers array<string>)` rows, one per
    * distinct k-mer multiplicity in the row ([[KmerClasses]]). */
  def kmerClasses(seq: Column, k: Int): Column =
    GraftColumnBridge.column(KmerClasses(GraftColumnBridge.expression(seq), k))
}
