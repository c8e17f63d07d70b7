package graft.io

import java.io.FileNotFoundException
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A read format over files that split into byte ranges, as a DataSource V2
  * connector: `spark.read.format(shortName).load(paths: _*)`. The Table, the
  * ScanBuilder with column pruning, the Scan and the reader factory are
  * written once here; a format ([[FastqSource]], [[BamSource]]) supplies only
  * its schema, the partitions `P` of one listed file given that file's equal
  * byte ranges ([[SplitFileSource.byteRanges]]), and a reader for one
  * partition that materializes only the required columns.
  *
  * A load reads the files [[SplitFileSource.listFiles]] lists: the one
  * listing rule of Spark's own file sources. The driver's Hadoop conf ships
  * to the executors' readers through [[HadoopConf]], so `spark.hadoop.*`
  * (object-store credentials, endpoints) apply on the executor open path.
  * The source instance itself is serialized into every task.
  */
abstract class SplitFileSource[P <: InputPartition]
    extends TableProvider with DataSourceRegister with Serializable {

  /** Every column of the format. */
  def schema: StructType

  /** The partitions of `file`, whose equal byte ranges are `ranges`. */
  def partitions(file: FileStatus, ranges: Seq[(Long, Long)], conf: Configuration): Seq[P]

  /** The rows of `partition`, holding the `required` columns. */
  def reader(partition: P, required: StructType, conf: Configuration): PartitionReader[InternalRow]

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SplitFileTable(this, SplitFileSource.paths(properties))
}

object SplitFileSource {

  /** `load(p)` arrives as "path"; `load(ps: _*)` as a JSON array of strings
    * under "paths", which may hold commas. */
  private def paths(properties: util.Map[String, String]): Seq[String] =
    Option(properties.get("path")).toSeq ++ Option(properties.get("paths")).toSeq.flatMap(js =>
      new com.fasterxml.jackson.databind.ObjectMapper().readValue(js, classOf[Array[String]]))

  /** The files a load of `roots` reads, by the rule of Spark's own file
    * sources: every root is globbed, and a root that matches nothing fails
    * with a `FileNotFoundException` naming it; a matched directory gives the
    * files one level down; a 0-byte file gives nothing; the files are sorted
    * by path. */
  private[io] def listFiles(roots: Seq[String], conf: Configuration): Seq[FileStatus] =
    roots.flatMap { root =>
      val p = new Path(root)
      val fs = p.getFileSystem(conf)
      val matched = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
      if (matched.isEmpty) throw new FileNotFoundException(s"$root: no such file or directory")
      matched.toSeq.flatMap(st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st))
    }.filter(_.getLen > 0).sortBy(_.getPath.toString)

  /** The byte ranges of a splittable file among `files`. Spark's file-source
    * rule over all of `files` bounds the range size
    * (`FilePartition.maxSplitBytes`: `spark.sql.files.maxPartitionBytes`,
    * `.openCostInBytes`, `.minPartitionNum`); a file of `len` bytes takes as
    * many ranges as that bound needs, of equal size, so that no task is left
    * with a short tail (25.4 MB under a 7.35 MB bound gives four ranges of
    * 6.35 MB, not three of 7.35 and one of 3.35). */
  private[io] def byteRanges(spark: SparkSession, files: Seq[FileStatus]): Long => Seq[(Long, Long)] = {
    val split = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
    len => {
      val n = (len + split - 1) / split
      // range i holds len / n bytes, plus one for each i < len % n
      def bound(i: Long) = i * (len / n) + math.min(i, len % n)
      (0L until n).map(i => (bound(i), bound(i + 1)))
    }
  }
}

private class SplitFileTable[P <: InputPartition](source: SplitFileSource[P], roots: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"${source.shortName()}(${roots.mkString(",")})"
  override def schema(): StructType = source.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = source.schema
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new SplitFileScan(source, roots, required)
    }
}

private class SplitFileScan[P <: InputPartition](
    source: SplitFileSource[P], roots: Seq[String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Planned on the driver with the session conf. */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val files = SplitFileSource.listFiles(roots, conf)
    val ranges = SplitFileSource.byteRanges(spark, files)
    files.flatMap(st => source.partitions(st, ranges(st.getLen), conf)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new Configuration(SparkSession.active.sparkContext.hadoopConfiguration)
    new SplitFileReaderFactory(source, required, new HadoopConf(conf))
  }
}

private class SplitFileReaderFactory[P <: InputPartition](
    source: SplitFileSource[P], required: StructType, conf: HadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    source.reader(partition.asInstanceOf[P], required, conf.value)
}

/** Java-serializable carrier for the driver's Hadoop configuration, so
  * executor-side readers see `spark.hadoop.*` settings (object-store
  * credentials, endpoints) instead of a default `new Configuration()`.
  * (Spark's own SerializableConfiguration is `private[spark]`.) */
private[io] final class HadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}
