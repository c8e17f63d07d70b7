package graft.utils

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kmer.Kmers

/** Read k-mer counting as a literal translation of the reference's
  * `adamCountKmers` (Quantify.scala:57-60): one row per k-mer position
  * through `kmer_explode`, counted by a hash aggregate. `Quantify.countKmers`
  * counts each partition in one table instead; PropertySuite checks the two
  * against each other.
  */
object ExplodeKmerCounts {

  def apply(reads: DataFrame, k: Int): DataFrame =
    reads
      .select(Kmers.kmerExplode(col("sequence"), k).as("kmer"))
      .groupBy("kmer")
      .agg(count(lit(1)).as("count"))
}
