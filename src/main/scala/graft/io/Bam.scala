package graft.io

import java.io.{BufferedInputStream, ByteArrayInputStream, DataInputStream, EOFException,
  FilterInputStream, IOException, InputStream}
import java.util.zip.GZIPInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition

/** One split of a BAM file: the task owns every alignment record whose first
  * byte lies in a BGZF block starting in [start, end) of the compressed
  * stream. nRef < 0 marks a non-BGZF (plain-gzip) file that cannot be split
  * and is decoded whole by a single task. */
private[io] case class BamChunk(path: String, start: Long, end: Long, nRef: Int)
    extends InputPartition

/** BAM read source (public SAM/BAM spec v1.6 — samtools.github.io/hts-specs).
  *
  * BAM is BGZF — concatenated gzip members, each ≤64 KiB uncompressed,
  * carrying their compressed size in a BC extra subfield — wrapping a binary
  * record stream. Only `sequence` is extracted — the one field the reference
  * pipeline consumes (Quantify.scala:42,59).
  *
  * Scale design: INTRA-FILE parallel decode, the capability the reference
  * inherited from ADAM/Hadoop-BAM (rice cli/Quantify.scala:73). The driver
  * slices each file into compressed-offset ranges; a task seeks to its
  * range, finds the first BGZF block boundary (the BSIZE chain makes block
  * headers self-validating), locates the first record boundary inside it
  * with a validation guesser (refID/pos/l_read_name plausibility across a
  * chain of records — the Hadoop-BAM BAMSplitGuesser approach), and decodes
  * streaming until its records start past the range. A task holds one
  * 64 KiB block and one record at a time regardless of file size — no
  * whole-file byte array, no 2 GiB cap, parallelism = Σ fileSize/chunk.
  * Plain-gzip files (no BC field) are genuinely unsplittable and fall back
  * to one streaming task per file.
  *
  * A malformed file fails with an `IOException` that names it: a bad
  * magic, a header cut short, and any record that ends early or whose
  * sizes are negative or do not fit its block_size, with that record's
  * offset. A stream may end only at a record boundary.
  */
object Bam {

  /** BAM 4-bit base codes, spec §4.2.3. */
  private val Bases = "=ACMGRSVTWYHKDNB"

  private def i32(in: DataInputStream): Int = {
    val b = new Array[Byte](4); in.readFully(b)
    (b(0) & 0xff) | (b(1) & 0xff) << 8 | (b(2) & 0xff) << 16 | (b(3) & 0xff) << 24
  }

  /** Lazily decode the read sequences of one plain-gzip BAM stream — the
    * stream is consumed record by record, never materialized. */
  private def decode(raw: InputStream, path: String): Iterator[String] = {
    val counted = new Counted(new GZIPInputStream(new BufferedInputStream(raw, 1 << 16)))
    val in = new DataInputStream(counted)
    skipHeader(in, path)
    records(in, path, counted, () => false)
  }

  /** Where a decoder stands in its stream, for errors: [[now]] at a record
    * boundary, and how [[describe]] names such an offset. */
  private trait Position {
    def now: Long
    def describe(offset: Long): String
  }

  /** Counts the bytes read and skipped through it. */
  private final class Counted(in: InputStream) extends FilterInputStream(in) with Position {
    private var pos = 0L
    def now: Long = pos
    def describe(offset: Long): String = s"uncompressed byte $offset"
    override def read(): Int = { val b = super.read(); if (b >= 0) pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len); if (r > 0) pos += r; r
    }
    override def skip(n: Long): Long = { val r = super.skip(n); pos += r; r }
  }

  private def malformed(path: String, what: String): IOException =
    new IOException(s"$path: malformed BAM file: $what")

  /** Consume the BAM magic, plain-text header, and reference dictionary;
    * returns the number of reference sequences. A bad magic, a negative
    * size or a header cut short fails, naming the file. */
  private def skipHeader(in: DataInputStream, path: String): Int = {
    val magic = new Array[Byte](4)
    try {
      in.readFully(magic)
      if (!magic.sameElements("BAM\u0001".getBytes("ISO-8859-1")))
        throw new IOException(s"$path: not a BAM file (bad magic)")
      def size(what: String): Int = {
        val v = i32(in)
        if (v < 0) throw malformed(path, s"negative $what $v in the header")
        v
      }
      in.skipNBytes(size("l_text").toLong) // plain-text header
      val nRef = size("n_ref")
      for (_ <- 0 until nRef) { // reference dictionary: name + l_ref each
        in.skipNBytes(size("l_name").toLong); i32(in)
      }
      nRef
    } catch {
      case e: EOFException => throw new IOException(s"$path: truncated BAM header", e)
    }
  }

  /** Iterator over alignment records from the current stream position;
    * `stop` and `keep` are polled at each record BOUNDARY (between records,
    * where the underlying unbuffered stream position is exact) so a split
    * can hand off to its successor. Records for which `keep` is false are
    * skipped wholesale without decoding (the degraded head-scan path uses
    * this to emit only the records a chunk owns). Zero-length sequences
    * (SEQ = '*') are skipped.
    *
    * The stream may end only at a record boundary. A record cut short fails
    * with an `IOException` naming the file and the record's offset in `pos`;
    * so does a record whose sizes are negative or do not fit its
    * block_size, before anything is allocated for it. */
  private def records(in: DataInputStream, path: String, pos: Position,
      stop: () => Boolean, keep: () => Boolean = () => true): Iterator[String] = {
    val it = new Iterator[String] {
      private var nextSeq: String = advance()
      private def advance(): String = {
        while (true) {
          if (stop()) return null
          val owned = keep()
          val start = pos.now
          def where = pos.describe(start)
          def bad(what: String) = malformed(path, s"the record at $where has $what")
          try {
            val first = in.read()
            if (first < 0) return null // the stream ends at a record boundary
            val b = new Array[Byte](32)
            in.readFully(b, 0, 3)
            val blockSize = first | (b(0) & 0xff) << 8 | (b(1) & 0xff) << 16 | (b(2) & 0xff) << 24
            if (blockSize < 32) throw bad(s"block_size $blockSize, below the 32 fixed bytes")
            if (!owned) in.skipNBytes(blockSize.toLong)
            else {
              // fixed 32-byte record prefix (spec §4.2): refID pos l_read_name
              // mapq bin n_cigar_op flag l_seq next_refID next_pos tlen
              in.readFully(b)
              val lReadName = b(8) & 0xff
              val nCigar = (b(12) & 0xff) | (b(13) & 0xff) << 8
              val lSeq = (b(16) & 0xff) | (b(17) & 0xff) << 8 |
                (b(18) & 0xff) << 16 | (b(19) & 0xff) << 24
              if (lSeq < 0) throw bad(s"negative l_seq $lSeq")
              // read name, CIGAR, packed SEQ and QUAL (l_seq bytes)
              val fixed = 32L + lReadName + 4L * nCigar
              if (fixed + (lSeq + 1L) / 2 + lSeq > blockSize)
                throw bad(s"l_read_name $lReadName, n_cigar_op $nCigar and l_seq $lSeq, " +
                  s"which do not fit its block_size $blockSize")
              in.skipNBytes(lReadName + 4L * nCigar)
              val packed = new Array[Byte]((lSeq + 1) / 2); in.readFully(packed)
              val sb = new java.lang.StringBuilder(lSeq)
              var i = 0
              while (i < lSeq) {
                val nib =
                  if (i % 2 == 0) (packed(i / 2) >> 4) & 0xf else packed(i / 2) & 0xf
                sb.append(Bases.charAt(nib)); i += 1
              }
              // qual + aux fields fill the rest of the block
              in.skipNBytes(blockSize - fixed - (lSeq + 1) / 2)
              return sb.toString
            }
          } catch {
            case e: EOFException =>
              throw new IOException(s"$path: truncated BAM file: the record at $where ends early", e)
          }
        }
        null
      }
      def hasNext: Boolean = nextSeq != null
      def next(): String = { val s = nextSeq; nextSeq = advance(); s }
    }
    it.filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------- BGZF --

  /** Parse the BGZF header at `pos` (positioned read — no seek state) and
    * return the total block length (BSIZE+1), or -1 if `pos` is not a valid
    * BGZF block start. */
  private[io] def blockLen(in: FSDataInputStream, pos: Long, fileLen: Long): Int = {
    if (pos + 18 > fileLen) return -1
    val h = new Array[Byte](12)
    in.readFully(pos, h)
    if (h(0) != 0x1f || h(1) != 0x8b.toByte || h(2) != 0x08 || h(3) != 0x04) return -1
    val xlen = (h(10) & 0xff) | (h(11) & 0xff) << 8
    if (xlen < 6 || pos + 12 + xlen > fileLen) return -1
    val extra = new Array[Byte](xlen)
    in.readFully(pos + 12, extra)
    var i = 0
    while (i + 4 <= xlen) {
      val slen = (extra(i + 2) & 0xff) | (extra(i + 3) & 0xff) << 8
      if ((extra(i) & 0xff) == 66 && (extra(i + 1) & 0xff) == 67 && slen == 2
          && i + 6 <= xlen) {
        val bsize = (extra(i + 4) & 0xff) | (extra(i + 5) & 0xff) << 8
        return bsize + 1
      }
      i += 4 + slen
    }
    -1
  }

  /** First BGZF block starting at or after `from`. A candidate magic is
    * confirmed by requiring its BSIZE to point at another valid block header
    * (or file end) — two chained headers cannot both be payload noise. */
  private def findBlock(in: FSDataInputStream, from: Long, fileLen: Long): Long = {
    val window = new Array[Byte](1 << 16)
    var pos = from
    while (pos < fileLen) {
      val n = math.min(window.length.toLong, fileLen - pos).toInt
      in.readFully(pos, window, 0, n)
      var j = 0
      while (j < n) {
        if (window(j) == 0x1f) {
          val len = blockLen(in, pos + j, fileLen)
          if (len > 0) {
            val nxt = pos + j + len
            if (nxt == fileLen || blockLen(in, nxt, fileLen) > 0) return pos + j
          }
        }
        j += 1
      }
      pos += n
    }
    -1L
  }

  /** Read and inflate the single block at `pos` (compressed length `len`). */
  private def inflateBlock(in: FSDataInputStream, pos: Long, len: Int): Array[Byte] = {
    val comp = new Array[Byte](len)
    in.readFully(pos, comp)
    val isize = (comp(len - 4) & 0xff) | (comp(len - 3) & 0xff) << 8 |
      (comp(len - 2) & 0xff) << 16 | (comp(len - 1) & 0xff) << 24
    val out = new Array[Byte](isize)
    val gz = new GZIPInputStream(new ByteArrayInputStream(comp))
    var off = 0
    while (off < isize) {
      val r = gz.read(out, off, isize - off)
      if (r < 0) throw new EOFException("truncated BGZF block")
      off += r
    }
    gz.close()
    out
  }

  /** InputStream over the uncompressed bytes of consecutive BGZF blocks from
    * `firstBlock`, holding ONE block in memory and tracking which compressed
    * block offset the next unread byte belongs to (the split-ownership key).
    * All file access is positioned reads — no shared seek state. Its
    * [[Position]] is the BAM virtual offset: block start << 16 | byte in
    * the block. */
  private final class BgzfCursor(in: FSDataInputStream, path: String, fileLen: Long,
      firstBlock: Long) extends InputStream with Position {
    private var blockStart = firstBlock
    private var nextBlock = firstBlock
    private var buf: Array[Byte] = Array.emptyByteArray
    private var bufPos = 0
    def blockOfNextByte: Long = if (bufPos < buf.length) blockStart else nextBlock
    def now: Long = blockOfNextByte << 16 | (if (bufPos < buf.length) bufPos else 0)
    def describe(v: Long): String =
      s"virtual offset $v (byte ${v & 0xffff} of the BGZF block at ${v >>> 16})"
    private def loadNext(): Boolean = {
      while (nextBlock < fileLen) {
        val len = blockLen(in, nextBlock, fileLen)
        if (len <= 0) throw badBlock(path, nextBlock)
        val payload = inflateBlock(in, nextBlock, len)
        blockStart = nextBlock
        nextBlock += len
        if (payload.length > 0) { buf = payload; bufPos = 0; return true }
        // zero-length payload: the BGZF EOF marker (or an empty member)
      }
      false
    }
    override def read(): Int = {
      if (bufPos >= buf.length && !loadNext()) -1
      else { val b = buf(bufPos) & 0xff; bufPos += 1; b }
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) 0
      else if (bufPos >= buf.length && !loadNext()) -1
      else {
        val c = math.min(len, buf.length - bufPos)
        System.arraycopy(buf, bufPos, b, off, c); bufPos += c; c
      }
    }
    def skipUncompressed(n: Long): Unit = {
      var l = n
      while (l > 0) {
        if (bufPos >= buf.length && !loadNext()) throw new EOFException
        val c = math.min(l, (buf.length - bufPos).toLong).toInt
        bufPos += c; l -= c
      }
    }
  }

  private def badBlock(path: String, pos: Long): IOException =
    new IOException(s"$path: truncated or corrupt BAM file: no BGZF block at byte $pos")

  /** Inflate blocks from `b0` until at least `minBytes` of uncompressed data
    * (or file end) — the guesser's search window. */
  private def windowFrom(in: FSDataInputStream, path: String, b0: Long, fileLen: Long,
      minBytes: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = b0
    while (pos < fileLen && out.size < minBytes) {
      val len = blockLen(in, pos, fileLen)
      if (len <= 0) throw badBlock(path, pos)
      out.write(inflateBlock(in, pos, len))
      pos += len
    }
    out.toByteArray
  }

  /** Uncompressed offset of the first alignment record in `window`, found by
    * trying successive offsets and validating a CHAIN of records — refID and
    * next_refID in [-1, nRef), positions in [-1, 2^29), l_read_name ≥ 1 with
    * its NUL terminator in place, and the fixed fields consistent with
    * block_size — the Hadoop-BAM BAMSplitGuesser approach. A single
    * plausible record can be payload coincidence; two chained ones are not.
    * Returns -1 if no boundary validates. */
  private def guessRecordStart(window: Array[Byte], nRef: Int): Int = {
    def w32(p: Int): Int = (window(p) & 0xff) | (window(p + 1) & 0xff) << 8 |
      (window(p + 2) & 0xff) << 16 | (window(p + 3) & 0xff) << 24
    def validAt(p0: Int): Boolean = {
      var p = p0
      var checked = 0
      while (checked < 2) {
        if (p == window.length) return checked > 0 // clean end-of-window
        if (p + 4 > window.length) return false
        val bs = w32(p)
        if (bs < 33 || bs > (1 << 27)) return false
        if (p + 36 > window.length) return checked > 0 // prefix truncated
        val refId = w32(p + 4); val pos = w32(p + 8)
        val lrn = window(p + 12) & 0xff
        val nCigar = (window(p + 16) & 0xff) | (window(p + 17) & 0xff) << 8
        val lSeq = w32(p + 20)
        val nextRef = w32(p + 24); val nextPos = w32(p + 28)
        if (refId < -1 || refId >= nRef || nextRef < -1 || nextRef >= nRef) return false
        if (pos < -1 || pos >= (1 << 29) || nextPos < -1 || nextPos >= (1 << 29)) return false
        if (lrn < 1 || lSeq < 0) return false
        if (32L + lrn + 4L * nCigar + (lSeq + 1) / 2 + lSeq > bs) return false
        if (p + 36 + lrn <= window.length && window(p + 36 + lrn - 1) != 0) return false
        p += 4 + bs
        checked += 1
      }
      true
    }
    var o = 0
    while (o < window.length) { if (validAt(o)) return o; o += 1 }
    -1
  }

  /** Stream from the file head, emitting only the records whose first byte
    * lies in a BGZF block starting in [start, end) — the chunk-ownership
    * rule, enforced by `keep` instead of the boundary guesser. O(prefix)
    * decompression, used as the degraded path when the guesser cannot
    * validate a boundary. */
  private[graft] def headScan(in: FSDataInputStream, path: String, fileLen: Long,
      start: Long, end: Long): Iterator[String] = {
    val cur = new BgzfCursor(in, path, fileLen, 0L)
    val din = new DataInputStream(cur)
    skipHeader(din, path)
    records(din, path, cur, () => cur.blockOfNextByte >= end,
      () => cur.blockOfNextByte >= start)
  }

  /** Decode the records a chunk owns (see [[BamChunk]]). The opened stream
    * is closed by a task-completion listener (one chunk = one partition, so
    * the fd is held exactly for the task's lifetime, on every exit path). */
  private[io] def decodeChunk(c: BamChunk, conf: Configuration): Iterator[String] = {
    val p = new Path(c.path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    def closeQuietly(): Unit = try in.close() catch { case _: IOException => () }
    Option(TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeQuietly()))
    if (c.nRef < 0) return decode(in, c.path) // unsplittable plain gzip
    val fileLen = fs.getFileStatus(p).getLen
    if (c.start == 0L) {
      val cur = new BgzfCursor(in, c.path, fileLen, 0L)
      val din = new DataInputStream(cur)
      skipHeader(din, c.path)
      records(din, c.path, cur, () => cur.blockOfNextByte >= c.end)
    } else try {
      val b0 = findBlock(in, c.start, fileLen)
      if (b0 < 0 || b0 >= c.end) return Iterator.empty
      // grow the guess window until a boundary validates or the window hits
      // file end — at EOF a miss is legitimate: the chunk's blocks hold only
      // the tail of the previous chunk's final record, so it owns nothing
      var minBytes = 1 << 17
      var off = -1
      var atEof = false
      while (off < 0 && !atEof) {
        val window = windowFrom(in, c.path, b0, fileLen, minBytes)
        atEof = window.length < minBytes
        off = guessRecordStart(window, c.nRef)
        if (off < 0 && !atEof) {
          if (minBytes >= (1 << 23))
            // a legal record can be up to 2^27 B (validAt's block_size
            // bound), so window exhaustion is not proof of corruption —
            // degrade to the ownership-filtered head scan instead of
            // failing the job
            return headScan(in, c.path, fileLen, c.start, c.end)
          minBytes <<= 2
        }
      }
      if (off < 0) return Iterator.empty
      val cur = new BgzfCursor(in, c.path, fileLen, b0)
      cur.skipUncompressed(off.toLong)
      records(new DataInputStream(cur), c.path, cur, () => cur.blockOfNextByte >= c.end)
    } catch {
      case e: EOFException => throw new IOException(
        s"${c.path}: truncated BAM file: a BGZF block after byte ${c.start} ends early", e)
    }
  }

  /** Reference-sequence count from the header — the guesser's refID bound. */
  private[io] def readNRef(in: FSDataInputStream, path: String, fileLen: Long): Int =
    skipHeader(new DataInputStream(new BgzfCursor(in, path, fileLen, 0L)), path)

  /** DataFrame(sequence string) — one row per read with a stored sequence.
    * Delegates to the `graft.bam` DataSource V2 connector (BamSource):
    * the planner slices each BGZF file into compressed-range
    * InputPartitions of Spark's file-source split size and every chunk
    * decodes in parallel; plain-gzip files get one streaming partition each. */
  def reads(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.bam").load(path)
}
