package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmer.Kmers

/** Equivalence-class index construction — the Spark-SQL re-expression of
  * `Index.findEquivalenceClasses` (reference Index.scala:72-113).
  *
  * Semantics preserved exactly (SURVEY §2.9 "Equivalence-class semantics"):
  * an equivalence class is the set of k-mers sharing the same multiplicity
  * within ONE transcript; a k-mer appearing in N transcripts lands in N
  * classes, which is what lets the EM split shared k-mer mass.
  *
  * Because a class lives inside one transcript, all three tables are
  * functions of one transcript row, and the index is built per row with no
  * shuffle (the reference's groupByKey at Index.scala:96 groups what one
  * row already holds):
  *   (tid, sequence) → KmerClasses: count the row's k-mers locally,
  *     one (mult, sorted kmers) row per distinct multiplicity     [A1]
  *   → class id = hash of the class key (tid, mult)               [A2]
  *   → project/explode to kmer→class, class→kmers, class→tid      [Index.scala:104-109]
  */
object Indexer {

  /** Index result as two flat relations + the class→transcript map:
    * kmerToEc(kmer, ec), ecToKmers(ec, kmers array), ecToTx(ec, tid).
    */
  final case class Result(kmerToEc: DataFrame, ecToKmers: DataFrame, ecToTx: DataFrame)

  /** Class ids are xxhash64 of "tid:mult": a pure function of the class
    * key, so there is no global sort, no id-assignment join and nothing to
    * shuffle for numbering. This satisfies the reference's zipWithUniqueId
    * contract (Index.scala:98; only distinctness is contractually tested,
    * QuantifySuite.scala:467-471). Collision odds at 10⁸ classes:
    * ~n²/2⁶⁵ ≈ 3·10⁻⁴.
    *
    * @param transcriptSeqs DataFrame(id, sequence string) with ONE row per
    *   id: a class key is (id, multiplicity) within one row, so a repeated
    *   id would give that id's classes twice, with colliding class ids.
    *   `io.Gtf.transcripts` groups exons by transcript id, `documents` is
    *   keyed by `doc_id`, and `Quantify.apply` rejects a duplicate
    *   transcript id in the annotation.
    * @param k k-mer length
    */
  def apply(transcriptSeqs: DataFrame, k: Int): Result = {
    val classes = transcriptSeqs
      .select(col("id").as("tid"), Kmers.kmerClasses(col("sequence"), k))

    val withEc = classes.withColumn("ec", xxhash64(concat(col("tid"), lit(":"), col("mult"))))

    Result(
      kmerToEc = withEc.select(explode(col("kmers")).as("kmer"), col("ec")),
      ecToKmers = withEc.select("ec", "kmers"),
      ecToTx = withEc.select("ec", "tid"))
  }

  /** Index transcripts laid out on a reference genome — `index`'s path
    * from a GTF and a genome. The genome accessor mirrors the reference's
    * broadcast TwoBitFile (Index.scala:76-78, J5): the sequences are
    * broadcast and each transcript is sliced per task — transcript
    * annotation sets are small relative to read sets, and extraction is a
    * narrow map.
    *
    * @param transcripts DataFrame(id string, exons array<struct<exonId,
    *                    transcriptId, strand, region struct<referenceName,
    *                    start, end>>>), as `io.Gtf.transcripts` reads it
    * @param genome      reference sequence name → sequence (`io.Genome.read`)
    */
  def fromGenome(spark: SparkSession, transcripts: DataFrame,
      genome: Map[String, String], k: Int): Result = {
    val bc = spark.sparkContext.broadcast(genome)
    // the reference extracts the transcript's full region — the hull of its
    // exons on their reference sequence (Index.scala:85 uses t.region) — not
    // a per-exon splice
    val extract = udf { (exons: Seq[org.apache.spark.sql.Row]) =>
      val regions = exons.map(_.getStruct(3))
      bc.value(regions.head.getString(0)).substring(
        regions.map(_.getLong(1)).min.toInt, regions.map(_.getLong(2)).max.toInt)
    }
    apply(transcripts.select(col("id"), extract(col("exons")).as("sequence")), k)
  }
}
