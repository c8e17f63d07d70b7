package graft.model

/** Typed data model mirroring the reference's record types (SURVEY.md §1.1;
  * reference shapes at rice-core/src/main/scala/org/bdgenomics/rice/algorithms/
  * Quantify.scala:42-59 and the ADAM models it consumes).
  *
  * These are plain case classes so `Dataset[T]` Encoders keep everything in
  * Tungsten rows; the relational core operates on the flattened DataFrames.
  */

/** Half-open genomic interval [start, end).
  * Reference: ReferenceRegion as used at Index.scala:85, QuantifySuite.scala:323. */
final case class ReferenceRegion(referenceName: String, start: Long, end: Long) {
  def width: Long = end - start
}

/** Reference: Exon construction at QuantifySuite.scala:323-329. */
final case class Exon(
    exonId: String,
    transcriptId: String,
    strand: Boolean,
    region: ReferenceRegion)

/** Reference: Transcript fields consumed at Quantify.scala:139,294 and
  * Index.scala:85. */
final case class Transcript(
    id: String,
    names: Seq[String],
    geneId: String,
    strand: Boolean,
    exons: Seq[Exon])

/** Only `.sequence` of the reference's AlignmentRecord is ever consumed
  * (Quantify.scala:42,59; ReadGenerator.scala:44-46). */
final case class Read(sequence: String)
