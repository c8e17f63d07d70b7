package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BAM as a SPLITTABLE [[SplitFileSource]] connector —
  * `spark.read.format("graft.bam").load(paths: _*)`. Where FASTQ's byte
  * ranges find their records at line boundaries, BAM's BGZF container lets
  * the planner slice one compressed file into many byte-range
  * `InputPartition`s: each task seeks to its compressed
  * offset, finds the first BGZF block it owns, and decodes only records
  * starting in its range (the same split protocol `Bam.reads` has always
  * used — the connector re-plates that chunking as connector-API
  * partitions). Splits are sized as FASTQ's are, by Spark's file-source
  * split size ([[SplitFileSource.byteRanges]]); plain-gzip files degrade to
  * one streaming partition. At 100 TB this is
  * the difference between per-file and per-block parallelism on the
  * dominant input format.
  *
  * A load reads the files of the one listing rule
  * ([[SplitFileSource.listFiles]]), as FASTQ's does: each root is globbed
  * and must match; a directory gives its files one level down; 0-byte files
  * give no rows; files are read in path order.
  */
class BamSource extends SplitFileSource[BamChunk] {
  override def shortName(): String = "graft.bam"
  override val schema: StructType =
    StructType(Seq(StructField("sequence", StringType, nullable = true)))

  /** BGZF files slice into the compressed byte ranges (each chunk
    * re-validates its own block boundary at read time); non-BGZF gzip falls
    * back to one whole-file partition. */
  override def partitions(file: FileStatus, ranges: Seq[(Long, Long)],
      conf: Configuration): Seq[BamChunk] = {
    val path = file.getPath
    val len = file.getLen
    val in = path.getFileSystem(conf).open(path)
    try {
      if (Bam.blockLen(in, 0L, len) > 0) {
        val nRef = Bam.readNRef(in, path.toString, len)
        ranges.map { case (from, to) => BamChunk(path.toString, from, to, nRef) }
      } else Seq(BamChunk(path.toString, 0L, len, -1))
    } finally in.close()
  }

  /** Adapts the chunk-decode iterator to the connector reader contract; with
    * the column pruned away (count(*)) it emits empty rows. */
  override def reader(chunk: BamChunk, required: StructType,
      conf: Configuration): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val needSeq = required.fieldNames.contains("sequence")
    private val it = Bam.decodeChunk(chunk, conf)
    private var row: InternalRow = _
    override def next(): Boolean = it.hasNext && {
      val s = it.next()
      row = if (needSeq) InternalRow(UTF8String.fromString(s)) else InternalRow.empty
      true
    }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }
}
