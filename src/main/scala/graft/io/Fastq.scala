package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** FASTQ read source — the reference's `loadAlignments` dispatches FASTQ by
  * extension via ADAM (cli/Quantify.scala:73, SURVEY S1); only `.sequence`
  * is ever consumed downstream.
  *
  * Reads go through the DataSource V2 connector (`FastqSource`,
  * `format("graft.fastq")`): the narrow `.select("sequence")` pushes column
  * pruning into the reader, so name/quality lines are skipped, not
  * materialized — the same contract as a parquet scan. The connector splits
  * an uncompressed file into byte ranges, one task each, so k-mer counting
  * over one large FASTQ runs on every core with no shuffle of the reads;
  * each range finds its own record framing and needs no extra counting job.
  * Malformed records fail with the file and byte offset.
  */
object Fastq {

  /** DataFrame(sequence string) — one row per read. */
  def reads(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.fastq").load(path).select("sequence")

  /** Extension-dispatching read loader (SURVEY S1) — the reference's
    * three-format `loadAlignments` contract (cli/Quantify.scala:73):
    * parquet with a `sequence` column, FASTQ text, SAM text, or BAM. */
  def loadReads(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".fastq") || path.endsWith(".fq")) reads(spark, path)
    else if (path.endsWith(".sam")) Sam.reads(spark, path)
    else if (path.endsWith(".bam")) Bam.reads(spark, path)
    else spark.read.parquet(path).select("sequence")
}
