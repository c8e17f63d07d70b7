package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

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

  /** name → full sequence, same contract as [[Fasta.read]]. */
  def read(path: String): Map[String, String] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
    buf.order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(0) != Signature) {
      buf.order(ByteOrder.BIG_ENDIAN)
      require(buf.getInt(0) == Signature, s"not a 2bit file: $path")
    }
    buf.position(4)
    val version = buf.getInt()
    require(version == 0, s"unsupported 2bit version $version in $path")
    val seqCount = buf.getInt()
    buf.getInt() // reserved
    val index = (0 until seqCount).map { _ =>
      val nameSize = buf.get() & 0xff
      val name = new Array[Byte](nameSize)
      buf.get(name)
      val offset = buf.getInt() & 0xffffffffL
      (new String(name, "US-ASCII"), offset)
    }
    // LinkedHashMap would also work; file order is not part of the contract
    index.map { case (name, off) => name -> decodeSequence(buf, off) }.toMap
  }

  private def decodeSequence(buf: ByteBuffer, offset: Long): String = {
    val b = buf.duplicate().order(buf.order()) // duplicate() resets byte order
    b.position(offset.toInt)
    val dnaSize = b.getInt()
    val nBlockCount = b.getInt()
    val nStarts = Array.fill(nBlockCount)(b.getInt())
    val nSizes = Array.fill(nBlockCount)(b.getInt())
    val maskBlockCount = b.getInt()
    b.position(b.position() + 8 * maskBlockCount) // soft masking is case-only
    b.getInt() // reserved
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
}
