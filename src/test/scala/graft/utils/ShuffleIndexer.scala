package graft.utils

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.Indexer
import graft.kmer.Kmers

/** The equivalence-class index as a literal translation of the reference's
  * `groupByKey` (Index.scala:96): explode every (tid, k-mer) pair, count
  * per pair, then group by class for the k-mer lists and take the distinct
  * (class, tid) pairs — three shuffles. `graft.index.Indexer` builds the same
  * three tables per transcript row with none; PropertySuite checks the two
  * against each other. The class-id expression is written out again
  * here, so the model pins it too.
  */
object ShuffleIndexer {

  def apply(transcriptSeqs: DataFrame, k: Int): Indexer.Result = {
    val kmerMult = transcriptSeqs
      .select(col("id").as("tid"), Kmers.kmerExplode(col("sequence"), k).as("kmer"))
      .groupBy("tid", "kmer")
      .agg(count(lit(1)).as("mult"))

    val withEc = kmerMult.withColumn("ec", xxhash64(concat(col("tid"), lit(":"), col("mult"))))

    Indexer.Result(
      kmerToEc = withEc.select("kmer", "ec"),
      ecToKmers = withEc.groupBy("ec").agg(sort_array(collect_list("kmer")).as("kmers")),
      ecToTx = withEc.select("ec", "tid").distinct())
  }
}
