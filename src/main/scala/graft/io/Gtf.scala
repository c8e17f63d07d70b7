package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GTF/GFF2 gene-annotation source — the rebuild of the reference's
  * `sc.loadGenes(path).flatMap(_.transcripts)` (cli/Index.scala:65-69,
  * cli/Quantify.scala:93-94, SURVEY S4), which the reference delegated to
  * ADAM. Implemented as a declarative text scan + column parsing so the
  * whole parse stays inside codegen and scales with the file.
  *
  * GTF is 9 tab-separated columns (seqname, source, feature, start, end,
  * score, strand, frame, attributes); exon features carry transcript_id /
  * gene_id in the attributes column (public format, per the Ensembl/UCSC
  * GTF2.2 spec).
  */
object Gtf {

  /** Exon-level relation: (tid, gene_id, seqname, start, end, strand).
    * GTF coordinates are 1-based inclusive; normalized here to the
    * half-open 0-based [start, end) the engine uses. An exon line whose
    * start or end is not an integer fails the scan with an error that names
    * the file and quotes the line, whatever the session's ANSI setting. */
  def exons(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.text(path)
    raw
      .filter(!col("value").startsWith("#"))
      .select(col("value"), split(col("value"), "\t").as("f"))
      .filter(size(col("f")) >= 9 && col("f").getItem(2) === "exon")
      .select(
        regexp_extract(col("f").getItem(8), """transcript_id "([^"]+)"""", 1).as("tid"),
        regexp_extract(col("f").getItem(8), """gene_id "([^"]+)"""", 1).as("gene_id"),
        col("f").getItem(0).as("seqname"),
        (coordinate(col("f").getItem(3), "start") - 1).as("start"),
        coordinate(col("f").getItem(4), "end").as("end"),
        (col("f").getItem(6) === "+").as("strand"))
      .filter(col("tid") =!= "")
  }

  /** A coordinate field as a long, or an error naming the file and the line
    * (the row's `value`) when the field is not an integer. */
  private def coordinate(field: Column, name: String): Column =
    coalesce(field.try_cast("long"), raise_error(concat(
      lit(s"malformed GTF: $name '"), field, lit("' is not an integer in "),
      input_file_name(), lit(" at line: "), col("value"))))

  /** Transcript-level relation matching the engine's Transcript shape:
    * (id, names, geneId, strand, exons array<struct<...>>). */
  def transcripts(spark: SparkSession, path: String): DataFrame =
    exons(spark, path)
      .groupBy(col("tid").as("id"))
      .agg(
        first("gene_id").as("geneId"),
        first("strand").as("strand"),
        sort_array(collect_list(struct(
          concat(col("tid"), lit(":"), col("start")).as("exonId"),
          col("tid").as("transcriptId"),
          col("strand").as("strand"),
          struct(col("seqname").as("referenceName"), col("start"), col("end")).as("region")
        ))).as("exons"))
      .select(col("id"), array(col("id")).as("names"), col("geneId"),
        col("strand"), col("exons"))
}
