package graft.io

import java.io.IOException
import java.util
import java.util.zip.GZIPInputStream
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FASTQ as a [[SplitFileSource]] connector —
  * `spark.read.format("graft.fastq").load(paths: _*)` — the deepest form of
  * the SURVEY S1 "source" tier: the format plugs into Catalyst's connector
  * API instead of hand-rolling an RDD, so it composes with everything the
  * planner does for real sources. Column pruning is PUSHED INTO THE READER:
  * `select("sequence")` makes the per-record parse skip materializing
  * name/quality — visible in the scan's ReadSchema, exactly like a parquet
  * scan.
  *
  * A load reads the files of the one listing rule
  * ([[SplitFileSource.listFiles]]): each root is globbed and must match; a
  * directory gives its files one level down; 0-byte files give no rows;
  * files are read in path order.
  *
  * Record layout (public FASTQ format): 4 lines per record — `@name` /
  * sequence / `+[name]` / qualities. An uncompressed file is SPLITTABLE:
  * each of its equal byte ranges ([[SplitFileSource.byteRanges]], sized by
  * Spark's file-source split size) is one `InputPartition`. A record
  * belongs to the range holding the first byte of its `@` line; a range
  * that starts mid-file finds its first record with the ADAM / Hadoop-BAM
  * rule (see [[FastqReader]]), which a quality line starting with '@' or
  * '+' cannot fool. So the parallelism of a read scan follows the bytes,
  * not how the sequencer split its output into files. A `.gz` file decodes
  * through a stream gunzip and stays one partition.
  */
class FastqSource extends SplitFileSource[FastqPartition] {
  override def shortName(): String = "graft.fastq"
  override val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = true),
    StructField("sequence", StringType, nullable = true),
    StructField("quality", StringType, nullable = true)))

  override def partitions(file: FileStatus, ranges: Seq[(Long, Long)],
      conf: Configuration): Seq[FastqPartition] = {
    val path = file.getPath.toString
    if (FastqSource.compressed(path)) Seq(FastqPartition(path, 0L, Long.MaxValue))
    else ranges.map { case (from, to) => FastqPartition(path, from, to) }
  }

  override def reader(p: FastqPartition, required: StructType,
      conf: Configuration): PartitionReader[InternalRow] =
    new FastqReader(p.path, p.start, p.end, required, conf)
}

object FastqSource {
  /** A gzip file cannot be entered mid-stream: it is read whole. */
  private[io] def compressed(path: String): Boolean = path.endsWith(".gz")
}

/** The records of `path` whose `@` line starts in [start, end). */
private[io] case class FastqPartition(path: String, start: Long, end: Long)
    extends InputPartition

/** One line: the byte offset of its first byte, and its bytes without the
  * terminator. */
private final class FastqLine(val at: Long, val bytes: Array[Byte]) {
  def startsWith(c: Char): Boolean = bytes.length > 0 && bytes(0) == c
  def isBlank: Boolean = bytes.length == 0
}

/** Streams the records of one byte range; only the pruned columns are
  * materialized. A whole file is the range [0, len).
  *
  * Lines end at LF, CRLF or CR (Hadoop's `LineReader`); offsets count every
  * byte, terminators included (decompressed bytes for `.gz`). A reader
  * whose range starts at 0 frames records from the first line. Any other
  * reader skips to the first line starting at or after `start` and takes
  * the first of the next four lines that opens a well-formed record: `@`
  * line, a sequence line not starting with '@' or '+', a `+` line, and a
  * quality line as long as the sequence. In a valid file the only such
  * line is a record start, and one is among those four, because at most
  * three lines of the record in progress follow `start`. The reader emits
  * records while they start before `end`, and it parses the first record
  * starting at or after `end` without emitting it. So every record is
  * checked by the range it starts in or by the range before, and a
  * malformed file fails whatever the split: an `IOException` that names
  * the file and the byte offset. Blank lines after the last record are
  * ignored; an empty file has no records.
  */
private[io] class FastqReader(path: String, start: Long, end: Long,
    required: StructType, conf: Configuration) extends PartitionReader[InternalRow] {

  // ordinal of each column in the pruned schema, −1 when pruned away
  private val nameAt = required.fieldNames.indexOf("name")
  private val seqAt = required.fieldNames.indexOf("sequence")
  private val qualAt = required.fieldNames.indexOf("quality")

  // a range past 0 is entered one byte early, so that the partial line read
  // first ends exactly at the first line start at or after `start`
  private var pos = math.max(start - 1, 0L)
  private val lines: LineReader = {
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    if (FastqSource.compressed(path)) new LineReader(new GZIPInputStream(raw))
    else { raw.seek(pos); new LineReader(raw) }
  }
  private val text = new Text()
  private var row: InternalRow = _

  private def line(): FastqLine = {
    val n = lines.readLine(text)
    if (n == 0) null
    else {
      val l = new FastqLine(pos, util.Arrays.copyOf(text.getBytes, text.getLength))
      pos += n
      l
    }
  }

  private def fail(at: Long, why: String): Nothing =
    throw new IOException(s"$path: malformed FASTQ at byte $at: $why")

  /** Why four lines are not one FASTQ record, or null when they are. */
  private def defect(r: collection.IndexedSeq[FastqLine]): String =
    if (!r(0).startsWith('@')) "the record does not start with '@'"
    else if (r(1).startsWith('@') || r(1).startsWith('+'))
      "the sequence line starts with '@' or '+'"
    else if (!r(2).startsWith('+')) "the third line of the record does not start with '+'"
    else if (r(3).bytes.length != r(1).bytes.length)
      s"quality length ${r(3).bytes.length} differs from sequence length ${r(1).bytes.length}"
    else null

  /** Consumes the rest of the input; true when it is only blank lines. */
  private def restIsBlank(): Boolean = {
    var l = line()
    while (l != null && l.isBlank) l = line()
    l == null
  }

  /** The next record, checked, or null at the end of the input. */
  private def record(): Array[FastqLine] = {
    val first = line()
    if (first == null) return null
    if (first.isBlank) {
      if (restIsBlank()) return null
      fail(first.at, "a blank line where a record should start")
    }
    val r = Array(first, line(), line(), line())
    if (r(3) == null) throw new IOException(
      s"$path: truncated FASTQ record starting at byte ${first.at}")
    val why = defect(r)
    if (why != null) fail(first.at, why)
    r
  }

  /** The first record starting at or after `start`, or null when none
    * starts in the rest of the input. */
  private def sync(): Array[FastqLine] = {
    line() // the line in progress at `start` belongs to the range before
    val window = ArrayBuffer.empty[FastqLine]
    var first: FastqLine = null
    var tries = 0
    while (tries < 4) {
      var l: FastqLine = null
      while (window.length < 4 && { l = line(); l != null }) window += l
      if (window.length < 4) return null // too few lines left for a record
      if (first == null) first = window.head
      if (window.forall(_.isBlank)) {
        if (restIsBlank()) return null
        fail(window.head.at, "blank lines between records")
      }
      if (defect(window) == null) return window.toArray
      window.remove(0)
      tries += 1
    }
    fail(first.at, "no record starts within four lines")
  }

  /** The record to emit next; the reader ends at one starting at `end`. */
  private var pending: Array[FastqLine] = if (start == 0) record() else sync()

  override def next(): Boolean = {
    if (pending == null || pending(0).at >= end) return false
    val r = pending
    val values = new Array[Any](required.length)
    if (nameAt >= 0) values(nameAt) = UTF8String.fromBytes(r(0).bytes, 1, r(0).bytes.length - 1)
    if (seqAt >= 0) values(seqAt) = UTF8String.fromBytes(r(1).bytes)
    if (qualAt >= 0) values(qualAt) = UTF8String.fromBytes(r(3).bytes)
    row = new GenericInternalRow(values)
    pending = record()
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}
