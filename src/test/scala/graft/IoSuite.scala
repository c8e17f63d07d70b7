package graft

import java.nio.file.Files
import graft.io.{Fasta, Gtf}

/** Sources/CLI round trip: GTF parsing (S4), FASTA genome (S5), and the
  * index → quantify CLI path (S6/S7) on a tiny synthetic annotation. */
class IoSuite extends SparkSuite {
  import spark.implicits._

  private def write(name: String, content: String): String = {
    val f = Files.createTempFile("graft_" + name, ".txt")
    Files.writeString(f, content)
    f.toString
  }

  val gtfContent =
    """# comment line
      |chr1	test	exon	1	10	.	+	.	gene_id "g1"; transcript_id "t1";
      |chr1	test	exon	12	20	.	+	.	gene_id "g1"; transcript_id "t1";
      |chr1	test	exon	5	15	.	-	.	gene_id "g2"; transcript_id "t2";
      |chr1	test	CDS	5	15	.	-	.	gene_id "g2"; transcript_id "t2";
      |""".stripMargin

  test("GTF exon parsing: 1-based inclusive → 0-based half-open, exons only") {
    val path = write("ann", gtfContent)
    val exons = Gtf.exons(spark, path).collect()
    assert(exons.length === 3) // the CDS row is dropped
    val t1 = exons.filter(_.getString(0) == "t1").sortBy(_.getLong(3))
    assert(t1.map(r => (r.getLong(3), r.getLong(4))).toSeq === Seq((0L, 10L), (11L, 20L)))
    assert(t1.forall(_.getBoolean(5)))
    val t2 = exons.filter(_.getString(0) == "t2")
    assert(t2.head.getLong(3) === 4L && t2.head.getLong(4) === 15L)
    assert(!t2.head.getBoolean(5))
  }

  test("GTF transcripts assemble nested exon arrays") {
    val path = write("ann2", gtfContent)
    val t = Gtf.transcripts(spark, path).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](4)).toMap
    assert(t.keySet === Set("t1", "t2"))
    assert(t("t1").length === 2)
    assert(t("t2").length === 1)
  }

  test("GTF: a non-integer coordinate fails index and quantify with the file and line") {
    val fa = write("genome_bad", ">chr1\nCAATCCTTCGCCGCAGTGCA\n")
    val annotation =
      """chr1	t	exon	1	10	.	+	.	gene_id "g1"; transcript_id "transcript1";
        |chr1	t	exon	12	20	.	+	.	gene_id "g1"; transcript_id "transcript2";
        |""".stripMargin
    val good = write("ann_good", annotation)
    val bad = write("ann_bad", annotation.replace("\t12\t20\t", "\t12x\t20\t"))
    val badLine = annotation.linesIterator.toSeq(1).replace("\t12\t", "\t12x\t")
    val out = Files.createTempDirectory("graft_cli_badgtf").toString
    // every message on the cause chain: Spark wraps the task's error
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    def assertNamed(e: Throwable): Unit = {
      val m = messages(e)
      assert(m.contains("malformed GTF: start '12x' is not an integer"), m)
      assert(m.contains(java.nio.file.Paths.get(bad).getFileName.toString), m)
      assert(m.contains(badLine), m)
      assert(!m.contains("CAST_INVALID_INPUT"), m)
    }
    assertNamed(intercept[Exception] {
      graft.cli.Main.main(Array("index", fa, bad, "5", s"$out/idx_bad"))
    })
    graft.cli.Main.main(Array("index", fa, good, "5", s"$out/idx"))
    Seq("CAATCCTTCG", "CGCAGTGCA").toDF("sequence").write.mode("overwrite")
      .parquet(s"$out/reads")
    assertNamed(intercept[Exception] {
      graft.cli.Main.main(Array("quantify", s"$out/reads", s"$out/idx", bad, "5",
        s"$out/abundances", "-max_iterations", "5"))
    })
  }

  test("FASTA reader concatenates wrapped lines per record") {
    val path = write("ref", ">chr1 description\nCAATC\nCTTCG\n>chr2\nGCAGTGCA\n")
    val genome = Fasta.read(path)
    assert(genome === Map("chr1" -> "CAATCCTTCG", "chr2" -> "GCAGTGCA"))
  }

  /** A two-record .2bit genome: chr1 is 17 bases (not a multiple of 4) with
    * an interior N run and a mask block the reader must skip; chr2 is
    * exactly two full bytes. */
  private def twoBitGenome(): java.nio.file.Path = {
    import java.nio.{ByteBuffer, ByteOrder}
    // encode per the public UCSC spec: T=0 C=1 A=2 G=3, first base in the
    // two high-order bits; Ns carried as a (starts[], sizes[]) block list
    def pack(seq: String): Array[Byte] = {
      val code = Map('T' -> 0, 'C' -> 1, 'A' -> 2, 'G' -> 3).withDefaultValue(0)
      val out = new Array[Byte]((seq.length + 3) / 4)
      for (i <- seq.indices)
        out(i / 4) = (out(i / 4) | (code(seq(i)) << (6 - 2 * (i % 4)))).toByte
      out
    }
    def record(seq: String, nBlocks: Seq[(Int, Int)], masks: Seq[(Int, Int)]): Array[Byte] = {
      val dna = pack(seq)
      val b = ByteBuffer.allocate(16 + 8 * (nBlocks.length + masks.length) + dna.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(seq.length).putInt(nBlocks.length)
      nBlocks.foreach(x => b.putInt(x._1)); nBlocks.foreach(x => b.putInt(x._2))
      b.putInt(masks.length)
      masks.foreach(x => b.putInt(x._1)); masks.foreach(x => b.putInt(x._2))
      b.putInt(0).put(dna)
      b.array()
    }
    val r1 = record("CAATCCTTCGTTTGCAG", Seq((10, 3)), Seq((0, 4)))
    val r2 = record("GCAGTGCA", Nil, Nil)
    val names = Seq("chr1", "chr2")
    val indexSize = names.map(1 + _.length + 4).sum
    val off1 = 16 + indexSize
    val file = ByteBuffer.allocate(off1 + r1.length + r2.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    file.putInt(0x1A412743).putInt(0).putInt(2).putInt(0)
    file.put(4.toByte).put("chr1".getBytes("US-ASCII")).putInt(off1)
    file.put(4.toByte).put("chr2".getBytes("US-ASCII")).putInt(off1 + r1.length)
    file.put(r1).put(r2)
    val path = Files.createTempFile("graft_ref", ".2bit")
    Files.write(path, file.array())
    path
  }

  test("2bit reader decodes packed DNA + N blocks, Genome dispatches .2bit") {
    val path = twoBitGenome()
    val genome = graft.io.Genome.read(path.toString)
    assert(genome === Map("chr1" -> "CAATCCTTCGNNNGCAG", "chr2" -> "GCAGTGCA"))

    // the same soft-masked genome as FASTA: the masked block is lower case
    // there, and both readers must give the same map (hence the same index)
    val fa = write("ref_masked", ">chr1\ncaatCCTTCG\nNNNGCAG\n>chr2\nGCAGTGCA\n")
    assert(graft.io.Genome.read(fa) === genome)
  }

  test("2bit: a truncated or corrupt file fails index with an error naming the file") {
    val whole = Files.readAllBytes(twoBitGenome()) // 89 bytes: chr1 at 34, chr2 at 71
    def variant(tag: String)(edit: java.nio.ByteBuffer => Array[Byte]): String = {
      val b = java.nio.ByteBuffer.wrap(whole.clone()).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val f = Files.createTempFile(s"graft_$tag", ".2bit")
      Files.write(f, edit(b))
      f.toString
    }
    val broken = Seq(
      "cut_index" -> variant("cut_index")(_.array().take(20)),
      "cut_chr1_dna" -> variant("cut_chr1_dna")(_.array().take(69)),
      "cut_chr2_dna" -> variant("cut_chr2_dna")(_.array().take(whole.length - 1)),
      "bad_offset" -> variant("bad_offset")(_.putInt(30, 1000).array()),
      "bad_n_block" -> variant("bad_n_block")(_.putInt(46, 100).array()))
    for ((tag, path) <- broken) {
      val e = intercept[java.io.IOException](graft.io.Genome.read(path))
      assert(e.getMessage.contains(path) && e.getMessage.contains("2bit"), s"$tag: $e")
    }
    // through the CLI, as `index` meets it
    val gtf = write("ann_2bit", gtfContent)
    val out = Files.createTempDirectory("graft_cli_2bit").toString
    val path = broken.head._2
    val e = intercept[java.io.IOException] {
      graft.cli.Main.main(Array("index", path, gtf, "5", s"$out/idx"))
    }
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("genome readers open Hadoop URIs, not only local paths") {
    // the same genome via a file:// URI as via the plain path, for both
    // formats (cluster submission passes hdfs:// or s3a:// the same way)
    val twoBit = twoBitGenome()
    val fa = write("ref_uri", ">chr1\nCAATCCTTCG\n>chr2\nGCAGTGCA\n")
    for (plain <- Seq(twoBit.toString, fa)) {
      val uri = "file://" + plain
      assert(graft.io.Genome.read(uri) === graft.io.Genome.read(plain), uri)
    }
  }

  test("FASTQ reader extracts sequence lines, loader dispatches by extension") {
    fastqLoaderChecks()
  }

  test("FASTQ DSv2 connector: full schema, pruned scan, gz, multi-file dir") {
    fastqConnectorChecks()
  }

  test("FASTQ specs hold when every file is split into 5-byte ranges") {
    withSplitBytes(5) {
      fastqLoaderChecks()
      fastqConnectorChecks()
    }
  }

  private def fastqLoaderChecks(): Unit = {
    val fq = Files.createTempFile("graft_reads", ".fastq")
    Files.writeString(fq,
      "@r1\nCAATCCTTCG\n+\nIIIIIIIIII\n@r2\nGCAGTGCA\n+\nIIIIIIII\n")
    val seqs = graft.io.Fastq.loadReads(spark, fq.toString)
      .collect().map(_.getString(0)).sorted
    assert(seqs.toSeq === Seq("CAATCCTTCG", "GCAGTGCA"))
  }

  private def fastqConnectorChecks(): Unit = {
    val dir = Files.createTempDirectory("graft_fq_dir")
    Files.writeString(dir.resolve("a.fastq"),
      "@r1\nCAATCCTTCG\n+\nIIIIIIIIII\n@r2\nGCAGTGCA\n+\n@IIIIIII\n")
    val gz = dir.resolve("b.fastq.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write("@r3\nTTTT\n+\nIIII\n".getBytes("UTF-8")); out.close()

    val df = spark.read.format("graft.fastq").load(dir.toString)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    // quality line starting with '@' (legal FASTQ) must not derail framing
    assert(rows.toSeq === Seq(
      ("r1", "CAATCCTTCG", "IIIIIIIIII"),
      ("r2", "GCAGTGCA", "@IIIIIII"),
      ("r3", "TTTT", "IIII")))
    // column pruning reaches the reader: the scan's output is only
    // the selected column (SupportsPushDownRequiredColumns)
    val pruned = df.select("sequence")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("sequence") && !scan.contains("quality"),
      s"pruned scan should read only `sequence`:\n$scan")
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("CAATCCTTCG", "GCAGTGCA", "TTTT"))
  }

  /** The FASTQ connector's (name, sequence, quality) rows for `content`. */
  private def fastqRows(content: String): Seq[(String, String, String)] = {
    val fq = Files.createTempFile("graft_reads", ".fastq")
    Files.writeString(fq, content)
    spark.read.format("graft.fastq").load(fq.toString).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
  }

  /** The IOException that reading `content` as FASTQ fails with. */
  private def fastqFailure(content: String): java.io.IOException = {
    val fq = Files.createTempFile("graft_bad", ".fastq")
    Files.writeString(fq, content)
    val e = intercept[Exception] {
      spark.read.format("graft.fastq").load(fq.toString).collect()
    }
    val io = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: java.io.IOException => x }
    assert(io.isDefined, s"no IOException in the cause chain of $e")
    assert(io.get.getMessage.contains(fq.getFileName.toString), io.get.getMessage)
    io.get
  }

  private val goodRecord = "@r1\nACGT\n+\nIIII\n" // 16 bytes

  test("FASTQ: blank lines after the last record are ignored; an empty file has no rows") {
    for (split <- Seq(128L << 20, 3L)) withSplitBytes(split) {
      assert(fastqRows(goodRecord + "\n") === Seq(("r1", "ACGT", "IIII")), split)
      assert(fastqRows(goodRecord + "\r\n\n\n\n\n") === Seq(("r1", "ACGT", "IIII")), split)
      assert(fastqRows("") === Nil, split)
    }
  }

  test("FASTQ: a record without '@' or '+', or with a short quality line, fails at its offset") {
    // a multi-line FASTA named .fastq
    assert(fastqFailure(">chr1\nACGT\nACGT\n>chr2\nGG\nTT\n").getMessage
      .contains("at byte 0"))
    assert(fastqFailure(goodRecord + "r2\nACGT\n+\nIIII\n").getMessage
      .contains("at byte 16"))
    assert(fastqFailure(goodRecord + "@r2\nACGT\n-\nIIII\n").getMessage
      .contains("at byte 16"))
    assert(fastqFailure(goodRecord + "@r2\nACGT\n+\nIII\n" + goodRecord).getMessage
      .contains("at byte 16"))
    // offsets count the CR of CRLF line ends
    assert(fastqFailure((goodRecord + "@r2\nACGT\n+\nIII\n").replace("\n", "\r\n"))
      .getMessage.contains("at byte 20"))
    // under any split the file still fails, and the error names the file
    for (split <- 1L to 20L) withSplitBytes(split) {
      fastqFailure(">chr1\nACGT\nACGT\n>chr2\nGG\nTT\n")
      fastqFailure(goodRecord * 3 + "@r2\nACGT\n+\nIII\n" + goodRecord * 3)
    }
  }

  test("FASTQ: a truncated final record fails, also in the last of several ranges") {
    val content = goodRecord * 4 + "@r5\nACGT\n+\n"
    assert(fastqFailure(content).getMessage.contains("truncated FASTQ record starting at byte 64"))
    for (split <- 1L to 24L) withSplitBytes(split) {
      assert(fastqFailure(content).getMessage.contains("truncated"), split)
    }
  }

  test("SAM reader extracts SEQ column, loader dispatches .sam") {
    val sam = Files.createTempFile("graft_reads", ".sam")
    Files.writeString(sam,
      "@HD\tVN:1.6\tSO:unsorted\n" +
        "@SQ\tSN:chr1\tLN:20\n" +
        "r1\t0\tchr1\t1\t60\t10M\t*\t0\t0\tCAATCCTTCG\tIIIIIIIIII\n" +
        "r2\t4\t*\t0\t0\t*\t*\t0\t0\tGCAGTGCA\tIIIIIIII\n" +
        "r3\t4\t*\t0\t0\t*\t*\t0\t0\t*\t*\n") // SEQ '*' → dropped
    val seqs = graft.io.Fastq.loadReads(spark, sam.toString)
      .collect().map(_.getString(0)).sorted
    assert(seqs.toSeq === Seq("CAATCCTTCG", "GCAGTGCA"))
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** One unmapped BAM alignment record (spec v1.6 §4.2) holding `seq`. */
  private def record(name: String, seq: String): Array[Byte] = {
    val bases = "=ACMGRSVTWYHKDNB"
    val packed = seq.grouped(2).map { pair =>
      val hi = bases.indexOf(pair(0))
      val lo = if (pair.length > 1) bases.indexOf(pair(1)) else 0
      ((hi << 4) | lo).toByte
    }.toArray
    val nameZ = (name + "\u0000").getBytes("ISO-8859-1")
    val qual = Array.fill[Byte](seq.length)(0xff.toByte)
    val body = le32(-1) ++ le32(-1) ++ // refID, pos
      Array(nameZ.length.toByte, 0.toByte) ++ // l_read_name, mapq
      Array(0.toByte, 0.toByte) ++ // bin
      Array(0.toByte, 0.toByte) ++ // n_cigar_op
      le32(4).take(2) ++ // flag = 4 (unmapped), 2 bytes
      le32(seq.length) ++ le32(-1) ++ le32(-1) ++ le32(0) ++ // l_seq, next*, tlen
      nameZ ++ packed ++ qual
    le32(body.length) ++ body
  }

  /** The uncompressed BAM stream: magic, an empty header text, one
    * reference (chr1, 20 bp), then `records`. */
  private def bamPayload(records: Array[Byte]): Array[Byte] =
    "BAM\u0001".getBytes("ISO-8859-1") ++ le32(0) ++
      le32(1) ++ le32(5) ++ "chr1\u0000".getBytes("ISO-8859-1") ++ le32(20) ++ records

  /** One real BGZF block (its BC extra subfield carries BSIZE) holding
    * `payload(from until from + len)`. */
  private def bgzfBlock(payload: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(payload, from, len); d.finish()
    val comp = new Array[Byte](len + 128)
    var n = 0
    while (!d.finished()) n += d.deflate(comp, n, comp.length - n)
    d.end()
    val crc = new java.util.zip.CRC32(); crc.update(payload, from, len)
    val bsize = 12 + 6 + n + 8 - 1
    Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x04,
      0, 0, 0, 0, 0, 0xff.toByte, // mtime, xfl, os
      6, 0, // xlen
      66, 67, 2, 0, (bsize & 0xff).toByte, ((bsize >> 8) & 0xff).toByte) ++
      comp.take(n) ++ le32(crc.getValue.toInt) ++ le32(len)
  }

  test("BAM reader decodes 4-bit packed sequences, loader dispatches .bam") {
    // BGZF is concatenated gzip members, so a plain GZIPOutputStream stream
    // is a valid input to the decoder
    val payload = bamPayload(record("r1", "CAATCCTTCG") ++ record("r2", "GCAGTGCA"))
    val bam = Files.createTempFile("graft_reads", ".bam")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(bam))
    gz.write(payload); gz.close()
    val seqs = graft.io.Fastq.loadReads(spark, bam.toString)
      .collect().map(_.getString(0)).sorted
    assert(seqs.toSeq === Seq("CAATCCTTCG", "GCAGTGCA"))
  }

  test("BAM stream path decodes multi-member BGZF split mid-record") {
    // BGZF in earnest: several independent gzip members whose boundaries do
    // NOT align with record boundaries — the decoder must read across member
    // joins transparently, through the streaming (binaryFiles +
    // PortableDataStream) path, never materializing the file.
    val payload = bamPayload(record("r1", "CAATCCTTCG") ++ record("r2", "GCAGTGCA") ++
      record("r3", "TTTTGGGGCCCCAAAA"))
    val bam = Files.createTempFile("graft_reads_multi", ".bam")
    val out = Files.newOutputStream(bam)
    // three members with cut points chosen inside record bodies
    val cuts = Seq(payload.length / 3, 2 * payload.length / 3, payload.length)
    var from = 0
    cuts.foreach { to =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(payload, from, to - from)
      gz.finish() // ends the member but keeps the file stream open
      from = to
    }
    out.close()
    val seqs = graft.io.Bam.reads(spark, bam.toString)
      .collect().map(_.getString(0)).sorted
    assert(seqs.toSeq === Seq("CAATCCTTCG", "GCAGTGCA", "TTTTGGGGCCCCAAAA"))
  }

  test("BAM intra-file split decode: chunked BGZF matches whole-file decode") {
    // Real BGZF this time — members carry the BC/BSIZE extra subfield — so
    // the split path activates: tiny blocks (512 B of payload) and a tiny
    // chunk size (700 B compressed) force many mid-file splits whose starts
    // land inside blocks and whose blocks cut records, exercising block-
    // boundary discovery, the record-boundary guesser, and split ownership.
    val expected = (0 until 300).map(i => ("ACGTTGCA" * 5).substring(0, 8 + i % 25))
    val payload = bamPayload(expected.zipWithIndex.flatMap { case (s, i) => record(s"r$i", s) }.toArray)
    // three geometries: many tiny blocks with chunks cutting them mid-block;
    // blocks bigger than chunks (several chunks land inside one block and
    // must yield nothing); and tiny chunks whose boundaries land inside the
    // header region
    for ((blockBytes, chunkBytes) <- Seq((512, 700), (2048, 512), (256, 64))) {
      val bam = Files.createTempFile(s"graft_reads_split_$blockBytes", ".bam")
      val out = Files.newOutputStream(bam)
      payload.indices.by(blockBytes).foreach { from =>
        out.write(bgzfBlock(payload, from, math.min(blockBytes, payload.length - from)))
      }
      out.write(bgzfBlock(Array.emptyByteArray, 0, 0)) // BGZF EOF marker
      out.close()

      val fileLen = Files.size(bam)
      assert(fileLen / chunkBytes > 5, "fixture must span several chunks")
      val seqs = graft.io.Bam.reads(spark, bam.toString, chunkBytes = chunkBytes)
        .collect().map(_.getString(0)).sorted
      assert(seqs.toSeq === expected.sorted,
        s"block=$blockBytes chunk=$chunkBytes mismatched")
    }
  }

  test("BAM degraded head scan partitions records exactly by block ownership") {
    // the guesser-failure fallback: scanning from the file head with the
    // ownership filter must (a) over the full range reproduce every record
    // and (b) over any split of the range partition them with no dup/loss —
    // the same contract the guesser path satisfies
    val expected = (0 until 120).map(i => ("ACGTTGCA" * 4).substring(0, 8 + i % 17))
    val payload = bamPayload(expected.zipWithIndex.flatMap { case (s, i) => record(s"r$i", s) }.toArray)
    val bam = Files.createTempFile("graft_reads_headscan", ".bam")
    val out = Files.newOutputStream(bam)
    payload.indices.by(300).foreach { from =>
      out.write(bgzfBlock(payload, from, math.min(300, payload.length - from)))
    }
    out.close()

    val p = new org.apache.hadoop.fs.Path(bam.toString)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val len = Files.size(bam)
    def scan(s: Long, e: Long): Seq[String] = {
      val in = fs.open(p)
      try graft.io.Bam.headScan(in, bam.toString, len, s, e).toList finally in.close()
    }
    assert(scan(0, len).sorted === expected.sorted)
    for (mid <- Seq(len / 4, len / 2, 3 * len / 4)) {
      val parts = scan(0, mid) ++ scan(mid, len)
      assert(parts.sorted === expected.sorted, s"split at $mid lost or duplicated records")
    }
  }

  test("BAM: a truncated or corrupt file fails with an error naming the file and the record") {
    val seqs = (0 until 40).map(i => ("ACGTTGCA" * 4).substring(0, 8 + i % 17))
    val recs = seqs.zipWithIndex.map { case (s, i) => record(s"r$i", s) }
    val header = bamPayload(Array.emptyByteArray).length
    val payload = bamPayload(recs.flatten.toArray)
    val r7 = header + recs.take(7).map(_.length).sum // record 7's first byte
    def bgzf(p: Array[Byte]): Array[Byte] =
      p.indices.by(256).flatMap(f => bgzfBlock(p, f, math.min(256, p.length - f))).toArray ++
        bgzfBlock(Array.emptyByteArray, 0, 0)
    def gzip(p: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out); gz.write(p); gz.close()
      out.toByteArray
    }
    def patched(at: Int, v: Int): Array[Byte] = {
      val p = payload.clone(); le32(v).copyToArray(p, at); p
    }
    /** The IOException that reading `file` fails with, through the loader
      * with `chunkBytes`-sized splits; it must name the file. */
    def failure(tag: String, file: Array[Byte], chunkBytes: Long): String = {
      val bam = Files.createTempFile(s"graft_bad_$tag", ".bam")
      Files.write(bam, file)
      val e = intercept[Exception] {
        graft.io.Bam.reads(spark, bam.toString, chunkBytes).collect()
      }
      val io = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: java.io.IOException => x }
      assert(io.isDefined, s"$tag: no IOException in the cause chain of $e")
      assert(io.get.getMessage.contains(bam.toString), s"$tag: ${io.get.getMessage}")
      io.get.getMessage
    }
    // (tag, payload, the error's text after the record's offset, or all of
    // it when no record is at fault)
    val broken = Seq(
      // EOF inside a record: the payload ends mid-record 7
      ("cut_record", payload.take(r7 + 20), Some("ends early")),
      // a negative l_seq; one too long for block_size; a block_size below 32
      ("neg_l_seq", patched(r7 + 20, -6), Some("has negative l_seq -6")),
      ("long_l_seq", patched(r7 + 20, Int.MaxValue / 2), Some("which do not fit its block_size")),
      ("short_block", patched(r7, 12), Some("has block_size 12")),
      ("bad_magic", patched(0, 0x4d41422f), None),
      ("cut_header", payload.take(header - 3), None))
    val noRecord = Map("bad_magic" -> "not a BAM file (bad magic)",
      "cut_header" -> "truncated BAM header")
    for ((tag, p, what) <- broken) {
      def check(m: String, at: String): Unit = what match {
        case Some(w) => assert(m.contains(s"the record at $at") && m.contains(w), s"$tag: $m")
        case None => assert(m.contains(noRecord(tag)), s"$tag: $m")
      }
      // plain gzip: one streaming partition, offsets in uncompressed bytes
      check(failure(tag, gzip(p), 1L << 20), s"uncompressed byte $r7 ")
      // BGZF, whole and in 300-byte splits: offsets are virtual offsets
      for (chunk <- Seq(1L << 20, 300L)) check(failure(tag, bgzf(p), chunk), "virtual offset")
    }
    // the BGZF file itself cut short, inside its last data block
    val whole = bgzf(payload)
    val cut = whole.take(whole.length - 28 - 40)
    for (chunk <- Seq(1L << 20, 300L))
      assert(failure("cut_bgzf", cut, chunk).contains("truncated"), chunk)
    // the offset names the record: virtual offset = block start << 16 | byte in it
    val v = failure("cut_record_bgzf", bgzf(payload.take(r7 + 20)), 1L << 20)
    val blockStart = bgzf(payload.take(256 * (r7 / 256))).length - 28
    assert(v.contains(s"virtual offset ${blockStart.toLong << 16 | r7 % 256} "), v)
  }

  test("events loader normalizes ts across fixture vintages (nanos-Long, NTZ, LTZ)") {
    // the driver has regenerated the corpus with a different parquet
    // timestamp encoding before; pin all three vintages through one loader
    // so the next regeneration cannot silently break the events surface
    import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val us = Seq(0L, 1700000000000000L, 1700000000123456L)
    val base = us.toDF("us")
    val root = Files.createTempDirectory("graft_events_vintage")
    def check(label: String, dfW: org.apache.spark.sql.DataFrame): Unit = {
      val d = root.resolve(label).toString
      dfW.write.mode("overwrite").parquet(s"$d/events.parquet")
      val got = Tables.events(spark, d)
      assert(got.schema("ts").dataType === TimestampType, label)
      val vals = got.select(unix_micros(col("ts"))).as[Long].collect().sorted
      assert(vals.toSeq === us.sorted, label)
    }
    // old corpus: TIMESTAMP(NANOS) under nanosAsLong arrives as epoch-nanos Long
    check("nanos_long", base.select(($"us" * 1000).as("ts")))
    // current corpus: TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as NTZ
    check("ntz", base.select(
      timestamp_micros($"us").cast(TimestampNTZType).as("ts")))
    // an adjusted-to-UTC corpus arrives as LTZ and passes through
    check("ltz", base.select(timestamp_micros($"us").as("ts")))
  }

  /** `index` then `quantify` through the CLI on the QuantifySuite stub
    * genome (QuantifySuite.scala:31-37) laid out as chr1, with reads drawn
    * verbatim from its two transcripts.
    * @return the output dir and the stage timers after each command */
  private def cliIndexThenQuantify(tag: String)
      : (String, Map[String, Double], Map[String, Double]) = {
    val fa = write("genome_" + tag, ">chr1\nCAATCCTTCGCCGCAGTGCA\n")
    val gtf = write("ann_" + tag,
      """chr1	t	exon	1	10	.	+	.	gene_id "g1"; transcript_id "transcript1";
        |chr1	t	exon	12	20	.	+	.	gene_id "g1"; transcript_id "transcript2";
        |""".stripMargin)
    val out = Files.createTempDirectory("graft_cli_" + tag).toString
    graft.cli.Main.main(Array("index", fa, gtf, "5", s"$out/idx"))
    val afterIndex = graft.util.Timers.snapshot()
    Seq("CAATCCTTCG", "CGCAGTGCA", "CAATCCTTCG")
      .toDF("sequence").write.mode("overwrite").parquet(s"$out/reads")
    graft.cli.Main.main(Array("quantify", s"$out/reads", s"$out/idx", gtf, "5",
      s"$out/abundances", "-max_iterations", "5",
      "-disable_kmer_calibration", "-disable_length_calibration"))
    (out, afterIndex, graft.util.Timers.snapshot())
  }

  test("cli index + quantify end to end on the stub fixture") {
    val (out, afterIndex, afterQuantify) = cliIndexThenQuantify("e2e")
    val kmers = spark.read.parquet(s"$out/idx_kmers")
    assert(kmers.count() > 0)
    assert(kmers.filter($"kmer" === "CAATC").count() === 1)

    val lines = spark.read.text(s"$out/abundances").collect().map(_.getString(0))
    assert(lines.length === 2)
    assert(lines.forall(_.contains(", ")))

    // reporting parity: both commands record (and print) stage timers
    for (stage <- Seq("loadGenome", "buildIndex", "writeIndex"))
      assert(afterIndex.contains(stage), s"missing timer for $stage")
    for (stage <- Seq("countKmers", "writeAbundances"))
      assert(afterQuantify.contains(stage), s"missing timer for $stage")
  }

  test("each cli command reports only its own stage timers") {
    graft.util.Timers.time("leftover") { () }
    val (_, afterIndex, afterQuantify) = cliIndexThenQuantify("timers")
    assert(!afterIndex.contains("leftover"))
    assert(afterIndex.contains("buildIndex"))
    assert(!afterQuantify.contains("buildIndex"))
    assert(!afterQuantify.contains("writeIndex"))
    assert(afterQuantify.contains("em"))
  }

  test("-avro_compat index round-trips through the reference's avdl field names") {
    // the interop contract: rice.avdl:21-33 record field names on disk
    // (KmerToClass{kmer, equivalenceClass}, ClassContents{equivalenceClass,
    // kmers}), and quantify accepts that layout unchanged
    val fa = write("genome_ac", ">chr1\nCAATCCTTCGCCGCAGTGCA\n")
    val gtf = write("ann_ac",
      """chr1	t	exon	1	10	.	+	.	gene_id "g1"; transcript_id "transcript1";
        |chr1	t	exon	12	20	.	+	.	gene_id "g1"; transcript_id "transcript2";
        |""".stripMargin)
    val out = Files.createTempDirectory("graft_cli_avro").toString
    graft.cli.Main.main(Array("index", fa, gtf, "5", s"$out/idx", "-avro_compat"))

    // on-disk layout carries the avdl record field names, in order
    val kmers = spark.read.parquet(s"$out/idx_kmers")
    assert(kmers.columns.toSeq === Seq("kmer", "equivalenceClass"))
    val classes = spark.read.parquet(s"$out/idx_classes")
    assert(classes.columns.toSeq === Seq("equivalenceClass", "kmers"))
    // avdl array<string>: element type is the contract; Spark's parquet
    // writer marks list elements optional on disk, so containsNull is a
    // writer detail, not part of the interop surface
    assert(classes.schema("kmers").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.StringType)

    // the two side tables agree: exploding ClassContents reproduces
    // KmerToClass exactly (same contract the reference's writer satisfies)
    val exploded = classes
      .select($"equivalenceClass",
        org.apache.spark.sql.functions.explode($"kmers").as("kmer"))
      .select($"kmer", $"equivalenceClass")
    assert(exploded.exceptAll(kmers).isEmpty && kmers.exceptAll(exploded).isEmpty)

    // and quantify consumes the avro-compat index without a conversion pass
    Seq("CAATCCTTCG", "CGCAGTGCA", "CAATCCTTCG")
      .toDF("sequence").write.mode("overwrite").parquet(s"$out/reads")
    graft.cli.Main.main(Array("quantify", s"$out/reads", s"$out/idx", gtf, "5",
      s"$out/abundances", "-max_iterations", "5",
      "-disable_kmer_calibration", "-disable_length_calibration"))
    val lines = spark.read.text(s"$out/abundances").collect().map(_.getString(0))
    assert(lines.length === 2)
    assert(lines.forall(_.contains(", ")))
  }

  test("reference-layout index (no _tx): clear failure; -classes_as_tx mirrors the reference CLI") {
    // a REFERENCE-written index has only _kmers and _classes (rice-cli
    // Index.scala:83,92) — simulate one by building a graft index and
    // dropping the _tx side table
    val fa = write("genome_rt", ">chr1\nCAATCCTTCGCCGCAGTGCA\n")
    val gtf = write("ann_rt",
      """chr1	t	exon	1	10	.	+	.	gene_id "g1"; transcript_id "transcript1";
        |chr1	t	exon	12	20	.	+	.	gene_id "g1"; transcript_id "transcript2";
        |""".stripMargin)
    val out = Files.createTempDirectory("graft_cli_reftx").toString
    graft.cli.Main.main(Array("index", fa, gtf, "5", s"$out/idx", "-avro_compat"))
    val txDir = java.nio.file.Paths.get(s"$out/idx_tx")
    Files.walk(txDir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))

    // default: a clear error that names the missing _tx table and why —
    // not a bare missing-path failure deep inside a parquet scan
    val e = intercept[IllegalArgumentException] {
      graft.io.IndexSchema.readEcToTx(spark, s"$out/idx")
    }
    assert(e.getMessage.contains("_tx") && e.getMessage.contains("-classes_as_tx"))

    // opt-in: reproduce the reference CLI's own wiring (the ClassContents
    // strings handed to Quantify as transcript ids, Quantify.scala:90-99)
    val derived = graft.io.IndexSchema.readEcToTx(spark, s"$out/idx",
      classesAsTx = true)
    assert(derived.columns.toSeq === Seq("ec", "tid"))
    val classes = spark.read.parquet(s"$out/idx_classes")
    val contents = classes.select($"equivalenceClass".as("ec"),
      org.apache.spark.sql.functions.explode($"kmers").as("tid"))
    assert(derived.exceptAll(contents).isEmpty && contents.exceptAll(derived).isEmpty)

    // graft-written index (with _tx) is unaffected
    graft.cli.Main.main(Array("index", fa, gtf, "5", s"$out/idx2"))
    val tx = graft.io.IndexSchema.readEcToTx(spark, s"$out/idx2")
    assert(tx.columns.toSeq === Seq("ec", "tid") && tx.count() > 0)
  }
}
