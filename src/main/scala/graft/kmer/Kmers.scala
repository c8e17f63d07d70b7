package graft.kmer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** k-merization and dinucleotide featurization as pure Catalyst column
  * expressions — no Scala UDFs, so everything stays inside whole-stage
  * codegen and the optimizer can prune/push around them.
  *
  * Reference semantics: `sequence.sliding(k)` (Index.scala:87-89, SURVEY F1)
  * and the 16-bin dinucleotide histogram (Tare.scala:38-101, SURVEY F3).
  */
object Kmers {

  /** All overlapping length-k substrings of `seq`, in order.
    * Empty array when the string is shorter than k (sliding's contract
    * would yield nothing; the guard also keeps `sequence()` from running
    * backwards when length-k is negative).
    */
  def kmers(seq: Column, k: Int): Column = {
    val positions = sequence(lit(1), length(seq) - (k - 1))
    when(length(seq) >= k, transform(positions, i => substring(seq, i, lit(k))))
      .otherwise(array().cast("array<string>"))
  }

  /** Generator form — one sequence row → (len−k+1) kmer rows, streamed by
    * the custom Catalyst expression (no intermediate array). Use this in
    * explode positions; use `kmers` where an array value is needed. */
  def kmerExplode(seq: Column, k: Int): Column =
    KmerGenerator.kmer_explode(seq, k)

  /** substring that accepts a Column start position (functions.substring
    * only takes Int literals). 1-based, like SQL. */
  private def substring(str: Column, pos: Column, len: Column): Column =
    str.substr(pos, len)

  /** Base → index in ACGT order; -1 for anything else.
    * Reference: Tare.scala:38-43 (case-insensitive). */
  def baseIdx(c: Column): Column = {
    val u = upper(c)
    when(u === "A", 0).when(u === "C", 1).when(u === "G", 2).when(u === "T", 3)
      .otherwise(-1)
  }

  /** 16-dim dinucleotide-context histogram of a k-mer, normalized by the
    * number of valid (ACGT-only) contexts. Mirrors Tare.scala:88-101:
    * contexts = kmer.sliding(2); invalid contexts are dropped (Tare.scala:90);
    * zero valid contexts is an error (assert at Tare.scala:91) — here surfaced
    * via `raise_error` to keep the same fail-fast contract.
    *
    * This is the reference's featurizer form, not the one the bias fit
    * runs on: `Tare.kmerBiasFit` counts the same contexts with a plain Scala
    * featurizer inside one typed pass, in a design with the same column
    * space as this histogram plus an intercept.
    */
  def dinucFeatures(kmer: Column): Column = {
    val contexts = kmers(kmer, 2)
    // validity is per base (isValidContext, Tare.scala:73-77): encoding the
    // pair as 4·i₀+i₁ alone would let e.g. "TN" (3·4 + -1 = 11) through
    val idxs = transform(contexts, c => {
      val i0 = baseIdx(substring(c, lit(1), lit(1)))
      val i1 = baseIdx(substring(c, lit(2), lit(1)))
      when(i0 >= 0 && i1 >= 0, i0 * 4 + i1).otherwise(-1)
    })
    val valid = filter(idxs, i => i >= 0)
    val n = size(valid)
    val hist = transform(sequence(lit(0), lit(15)), b =>
      size(filter(valid, i => i === b)).cast("double") / n.cast("double"))
    when(n > 0, hist).otherwise(
      raise_error(concat(lit("no valid dinucleotide context in k-mer: "), kmer))
        .cast("array<double>"))
  }
}
