package graft.io

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** BAM as a SPLITTABLE DataSource V2 connector —
  * `spark.read.format("graft.bam").load(path)`. Where FASTQ's byte ranges
  * find their records at line boundaries, BAM's BGZF container lets the
  * planner slice one compressed file into many byte-range
  * `InputPartition`s: each task seeks to its compressed
  * offset, finds the first BGZF block it owns, and decodes only records
  * starting in its range (the same split protocol `Bam.reads` has always
  * used — the connector re-plates that chunking as connector-API
  * partitions). `chunkBytes` is the split size option (default 64 MB);
  * plain-gzip files degrade to one streaming partition. At 100 TB this is
  * the difference between per-file and per-block parallelism on the
  * dominant input format.
  */
class BamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft.bam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BamSource.fullSchema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BamTable(FastqSource.paths(properties),
      Option(properties.get("chunkBytes")).map(_.toLong).getOrElse(64L << 20))
}

object BamSource {
  val fullSchema: StructType =
    StructType(Seq(StructField("sequence", StringType, nullable = true)))
}

private[io] class BamTable(roots: Seq[String], chunkBytes: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft.bam(${roots.mkString(",")})"
  override def schema(): StructType = BamSource.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(roots, chunkBytes)
}

private[io] class BamScanBuilder(roots: Seq[String], chunkBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = BamSource.fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new BamScan(roots, chunkBytes, required)
}

private[io] class BamScan(roots: Seq[String], chunkBytes: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Driver-side split planning: BGZF files slice into `chunkBytes`
    * compressed ranges (each chunk re-validates its own block boundary at
    * read time); non-BGZF gzip falls back to one whole-file partition. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    roots.flatMap { root =>
      val p = new Path(root)
      val fs = p.getFileSystem(conf)
      val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
        .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
                       else Array(st))
      statuses.toSeq.flatMap { st =>
        val len = st.getLen
        val in = fs.open(st.getPath)
        try {
          if (Bam.blockLen(in, 0L, len) > 0) {
            val nRef = Bam.readNRef(in, st.getPath.toString, len)
            (0L until len by chunkBytes).map(s =>
              BamChunk(st.getPath.toString, s, math.min(s + chunkBytes, len), nRef))
          } else Seq(BamChunk(st.getPath.toString, 0L, len, -1))
        } finally in.close()
      }
    }.map(c => BamPartition(c): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new HadoopConf(
      new Configuration(SparkSession.active.sparkContext.hadoopConfiguration))
    new BamReaderFactory(required, conf)
  }
}

private[io] case class BamPartition(chunk: BamChunk) extends InputPartition

private[io] class BamReaderFactory(required: StructType, conf: HadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BamChunkReader(
      partition.asInstanceOf[BamPartition].chunk, required, conf.value)
}

/** Adapts the chunk-decode iterator to the connector reader contract; with
  * the column pruned away (count(*)) it emits empty rows. */
private[io] class BamChunkReader(
    chunk: BamChunk, required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val needSeq = required.fieldNames.contains("sequence")
  private val it = Bam.decodeChunk(chunk, conf)
  private var row: InternalRow = _
  override def next(): Boolean =
    if (!it.hasNext) false
    else {
      val s = it.next()
      row =
        if (needSeq) InternalRow(UTF8String.fromString(s)) else InternalRow.empty
      true
    }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
