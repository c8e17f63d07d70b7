package graft.io

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** UCSC .2bit reference-sequence reader (public format spec: 16-byte header,
  * name index, per-sequence N/mask block lists, 2-bit packed DNA with
  * T=0 C=1 A=2 G=3 packed high-bits-first). This is the native genome format
  * of the reference pipeline (cli/Index.scala:60-62, SURVEY S5); like the
  * reference's TwoBitFile the whole genome is decoded at the DRIVER and
  * broadcast, and random-access extraction is a per-task substring.
  *
  * Soft-mask blocks are decoded as upper-case, as [[Fasta.read]] upper-cases
  * a soft-masked FASTA: k-mer matching is case-sensitive, so both readers
  * fold case to give one genome the same index; N blocks are materialized
  * as 'N' so illegal k-mers are filtered exactly as with the FASTA path
  * (SURVEY P2).
  */
object TwoBit {
  private val Signature = 0x1A412743
  private val Bases = Array('T', 'C', 'A', 'G')

  /** name → full sequence, same contract as [[Fasta.read]]. A truncated or
    * corrupt file (an offset or block list past the end, DNA cut short)
    * fails with an `IOException` that names the file. */
  def read(path: String): Map[String, String] = {
    val in = Genome.open(path)
    val buf = try ByteBuffer.wrap(in.readAllBytes()) finally in.close()
    def need(bytes: Long, what: => String) = TwoBit.need(buf, bytes, path, what)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    need(16, "the header")
    if (buf.getInt(0) != Signature) {
      buf.order(ByteOrder.BIG_ENDIAN)
      require(buf.getInt(0) == Signature, s"not a 2bit file: $path")
    }
    buf.position(4)
    val version = buf.getInt()
    require(version == 0, s"unsupported 2bit version $version in $path")
    val seqCount = buf.getInt()
    buf.getInt() // reserved
    need(6L * seqCount, s"an index of $seqCount sequences")
    val index = (0 until seqCount).map { i =>
      need(1, s"index entry $i")
      val nameSize = buf.get() & 0xff
      need(nameSize + 4L, s"index entry $i")
      val name = new Array[Byte](nameSize)
      buf.get(name)
      val offset = buf.getInt() & 0xffffffffL
      (new String(name, "US-ASCII"), offset)
    }
    // LinkedHashMap would also work; file order is not part of the contract
    index.map { case (name, off) =>
      if (off > buf.limit())
        throw new IOException(s"truncated or corrupt 2bit file $path: sequence " +
          s"'$name' starts at offset $off, past the end of the file (${buf.limit()} bytes)")
      val b = buf.duplicate().order(buf.order()) // duplicate() resets byte order
      b.position(off.toInt)
      name -> decodeSequence(b, path, name)
    }.toMap
  }

  /** Fails, naming the file, unless `bytes` bytes remain in `b`: every
    * count and offset is checked before it is used, so a corrupt field
    * cannot size an allocation or a seek. */
  private def need(b: ByteBuffer, bytes: Long, path: String, what: => String): Unit =
    if (bytes < 0 || bytes > b.remaining())
      throw new IOException(s"truncated or corrupt 2bit file $path: $what " +
        s"(needs $bytes bytes at offset ${b.position()}, ${b.remaining()} remain)")

  private def decodeSequence(b: ByteBuffer, path: String, name: String): String = {
    def need(bytes: Long, what: => String) = TwoBit.need(b, bytes, path, what)
    need(8, s"the header of sequence '$name'")
    val dnaSize = b.getInt()
    val nBlockCount = b.getInt()
    need(8L * nBlockCount + 4, s"the $nBlockCount N blocks of sequence '$name'")
    val nStarts = Array.fill(nBlockCount)(b.getInt())
    val nSizes = Array.fill(nBlockCount)(b.getInt())
    val maskBlockCount = b.getInt()
    need(8L * maskBlockCount + 4, s"the $maskBlockCount mask blocks of sequence '$name'")
    b.position(b.position() + 8 * maskBlockCount) // soft masking is case-only
    b.getInt() // reserved
    need(if (dnaSize < 0) -1 else (dnaSize + 3L) / 4,
      s"the $dnaSize packed bases of sequence '$name'")
    for (bi <- 0 until nBlockCount)
      if (nStarts(bi) < 0 || nSizes(bi) < 0 || nStarts(bi).toLong + nSizes(bi) > dnaSize)
        throw new IOException(s"truncated or corrupt 2bit file $path: sequence " +
          s"'$name' has an N block of ${nSizes(bi)} at ${nStarts(bi)}, outside its $dnaSize bases")
    val out = new Array[Char](dnaSize)
    var i = 0
    var cur = 0
    while (i < dnaSize) {
      if ((i & 3) == 0) cur = b.get() & 0xff
      out(i) = Bases((cur >> (6 - 2 * (i & 3))) & 3)
      i += 1
    }
    var bi = 0
    while (bi < nBlockCount) {
      java.util.Arrays.fill(out, nStarts(bi), nStarts(bi) + nSizes(bi), 'N')
      bi += 1
    }
    new String(out)
  }
}

/** Genome loader with extension dispatch: `.2bit` → [[TwoBit]], anything
  * else → [[Fasta]]. Mirrors the reference CLI, which takes the genome path
  * as an opaque argument and lets the format decide the decoder
  * (cli/Index.scala:60-62).
  */
object Genome {
  def read(path: String): Map[String, String] =
    if (path.endsWith(".2bit")) TwoBit.read(path) else Fasta.read(path)

  /** Open a genome file through Hadoop `FileSystem` with the active
    * session's Hadoop conf, as the FASTQ, GTF and BAM readers do. */
  private[io] def open(path: String): java.io.InputStream = {
    val p = new Path(path)
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration).open(p)
  }
}
