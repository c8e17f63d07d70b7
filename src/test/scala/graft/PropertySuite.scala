package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the pure kernels behind the custom
  * expressions/operators — the invariants that must hold on EVERY input,
  * not just the corpus: Morton-interleave bit placement and invertibility,
  * the band-join bin-cover lemma RangeBinJoin's correctness rests on,
  * top-k merge associativity under arbitrary splits, the WAV header
  * round trip over the full parameter space, the FASTQ connector's
  * byte-range splits, the per-transcript equivalence-class index against
  * the shuffle chain it replaced, and the table-counted read k-mers against
  * the per-position count they replaced. */
class PropertySuite extends SparkSuite {

  private def check(name: String, p: Prop, cases: Int = 500): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("z_value: bit placement, invertibility, mask semantics") {
    import graft.functions.ZValue.{interleave, spread}
    def deinterleave(z: Long): (Long, Long) = {
      def gather(v: Long): Long =
        (0 until 24).map(i => ((v >> (2 * i)) & 1L) << i).reduce(_ | _)
      (gather(z), gather(z >> 1))
    }
    check("placement", Prop.forAll(Gen.choose(0L, (1L << 24) - 1)) { a =>
      (0 until 24).forall(i => ((spread(a) >> (2 * i)) & 1L) == ((a >> i) & 1L))
    })
    check("invertible", Prop.forAll(
      Gen.choose(0L, (1L << 24) - 1), Gen.choose(0L, (1L << 24) - 1)) { (a, b) =>
      deinterleave(interleave(a, b)) == ((a, b))
    })
    check("mask", Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(0L, Long.MaxValue)) {
      (a, b) => interleave(a, b) == interleave(a & 0xffffff, b & 0xffffff)
    })
  }

  test("band-join bin cover: |x−y| ≤ w ⟹ y's bin lies in x's bin range") {
    // the lemma RangeBinJoin's rewrite rests on, under the same truncating
    // (Java/IntegralDivide) division semantics, including negatives
    val g = Gen.choose(-1000000L, 1000000L)
    val gw = Gen.choose(1L, 10000L)
    check("cover", Prop.forAll(g, gw, Gen.choose(-10000L, 10000L)) { (x, w, d) =>
      val y = x + (d % (w + 1)) // |x − y| ≤ w by construction
      val (lo, hi) = ((x - w) / w, (x + w) / w)
      val by = y / w
      lo <= by && by <= hi
    })
  }

  test("q72 2-bin cover: |p − t| ≤ w ⟹ p's 2w-bin is one of t's two") {
    // the completeness lemma the round-9 stream-join binning rests on: an
    // interval of length 2w spans at most TWO bins of width 2w, so the
    // probe side may store exactly {bin(t−w), bin(t+w)} instead of three
    // w-wide bins. Checked under the SAME semantics Spark executes —
    // floor of bigint/bigint DOUBLE division (exact here: unix_micros
    // magnitudes sit below 2^53) — over the plausible timestamp range.
    val w = 300L * 1000000L
    val W = 2 * w
    def bin(x: Long): Long = math.floor(x.toDouble / W).toLong
    check("cover", Prop.forAll(
      Gen.choose(1500000000000000L, 1800000000000000L),
      Gen.choose(-w, w)) { (t, d) =>
      val pb = bin(t + d)
      pb == bin(t - w) || pb == bin(t + w)
    })
  }

  test("top-k aggregator: any split-and-merge equals sort-take") {
    import graft.functions.{ScoredId, TopKAggregator, TopKState}
    val agg = new TopKAggregator(5)
    val gRows = Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 1000L)))
    check("merge", Prop.forAll(gRows, Gen.choose(1, 7)) { (rows, nParts) =>
      val parts = rows.zipWithIndex.groupBy(_._2 % nParts).values
        .map(_.map(_._1)).toList
      val merged = parts
        .map(p => p.foldLeft(agg.zero) { case (s, (score, id)) =>
          agg.reduce(s, ScoredId(score, id)) })
        .foldLeft(agg.zero)(agg.merge)
      val out = agg.finish(merged)
      val want = rows.map { case (score, id) => (score, id) }
        .sortBy { case (score, id) => (-score, id) }.take(5)
      out.scores.zip(out.ids).toList == want
    })
  }

  test("WAV header round-trips over the full parameter space") {
    import graft.ops.Multimodal
    val g = Gen.zip(Gen.choose(8000, 192000), Gen.choose(1, 8),
      Gen.oneOf(8, 16, 24, 32), Gen.choose(0, 1 << 20))
    check("wav", Prop.forAll(g) { case (rate, ch, bits, n) =>
      val f = Multimodal.decodeWav(1L, Multimodal.wavHeader(rate, ch, bits, n))
      f.sample_rate == rate && f.channels == ch && f.bits == bits &&
        f.n_samples == n.toLong && f.duration_ms == n.toLong * 1000 / rate
    })
  }

  test("FASTQ byte-range splits read every record once, in file order") {
    val text = Gen.listOf(Gen.choose(' ', '~')).map(_.mkString)
    val record = for {
      name <- Gen.oneOf(text, text.map("@" + _))
      seq <- Gen.listOf(Gen.oneOf('A', 'C', 'G', 'T', 'N')).map(_.mkString)
      qual <- Gen.listOfN(seq.length, Gen.choose('!', '~')).map(_.mkString)
      lead <- Gen.oneOf("", "@", "+")
      plus <- Gen.oneOf("+", "+" + name)
    } yield (name, seq, if (qual.isEmpty || lead.isEmpty) qual else lead + qual.tail, plus)
    val file = Gen.zip(Gen.choose(1, 12).flatMap(Gen.listOfN(_, record)),
      Gen.oneOf("\n", "\r\n"), Gen.oneOf(true, false))
    // no shrinking: a shrunk String need not be a line ending or a FASTQ line
    check("splits", Prop.forAllNoShrink(file, Gen.choose(1, 40)) {
        case ((records, eol, finalEol), small) =>
      // a last record with an empty quality line needs its terminator, or
      // the file would end in a truncated record
      val content = records.flatMap { case (n, s, q, p) => Seq("@" + n, s, p, q) }
        .mkString(eol) + (if (finalEol || records.last._2.isEmpty) eol else "")
      val fq = java.nio.file.Files.createTempFile("graft_split", ".fastq")
      java.nio.file.Files.writeString(fq, content)
      val len = content.length.toLong
      def read(split: Long) = withSplitBytes(split) {
        val df = spark.read.format("graft.fastq").load(fq.toString)
        (df.rdd.getNumPartitions,
          df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
      }
      val (one, whole) = read(len)
      val expected = records.map { case (n, s, q, _) => (n, s, q) }
      val splits = Seq(small.toLong, len / 3 + 1, len - 1).filter(_ > 0).map { split =>
        val (parts, rows) = read(split)
        parts == (len + split - 1) / split && (split >= len || parts > 1) && rows == whole
      }
      java.nio.file.Files.delete(fq)
      one == 1 && whole == expected && splits.forall(identity)
    }, cases = 60)
  }

  test("Indexer equals the shuffle-chain model on random transcript sets") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    // tandem repeats (multiplicity > 1), N bases, sequences shorter than k,
    // nulls and multibyte text (the generator's char-indexed fallback)
    val dna = Gen.listOf(Gen.frequency(8 -> Gen.oneOf('A', 'C', 'G', 'T'), 1 -> Gen.const('N')))
      .map(_.mkString)
    val seq = Gen.frequency(
      4 -> dna,
      3 -> Gen.zip(Gen.choose(1, 4), Gen.choose(1, 8), dna).map { case (p, n, tail) =>
        "ACGT".take(p) * n + tail },
      1 -> Gen.listOfN(2, Gen.oneOf('A', 'C', 'G')).map(_.mkString),
      1 -> Gen.listOf(Gen.oneOf('A', 'C', 'α', '日', 'é')).map(_.mkString),
      1 -> Gen.const(null: String))
    val sets = Gen.zip(Gen.choose(0, 8).flatMap(Gen.listOfN(_, seq)),
      Gen.choose(1, 5), Gen.oneOf(true, false))
    def tables(r: graft.index.Indexer.Result): Seq[DataFrame] =
      Seq(r.kmerToEc, r.ecToKmers, r.ecToTx)
    // a table as a sorted multiset of rows, each `kmers` array as a list
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq
      .map(_.toSeq.map { case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v) }.mkString("|")).sorted
    check("index", Prop.forAllNoShrink(sets) { case (seqs, k, longIds) =>
      val idType = if (longIds) LongType else StringType
      val input = spark.createDataFrame(
        java.util.Arrays.asList(seqs.zipWithIndex.map { case (s, i) =>
          Row(if (longIds) 1000L + i else s"tx$i", s) }: _*),
        StructType(Seq(StructField("id", idType), StructField("sequence", StringType))))
      val got = tables(graft.index.Indexer(input, k))
      val want = tables(utils.ShuffleIndexer(input, k))
      got.zip(want).forall { case (g, w) => g.schema == w.schema && rows(g) == rows(w) }
    }, cases = 40)
  }

  test("countKmers equals the kmer_explode count on random read sets") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import graft.kmer.KmerTable
    // N bases, lower case, multibyte text (the char-indexed slicing), nulls
    // and reads shorter than k; repeats so that counts exceed 1
    val base = Gen.frequency(12 -> Gen.oneOf('A', 'C', 'G', 'T'), 1 -> Gen.const('N'),
      1 -> Gen.oneOf('a', 'c', 'g', 't', 'n'), 1 -> Gen.oneOf('α', '日', 'é'))
    val seq = Gen.frequency(
      6 -> Gen.choose(0, 90).flatMap(Gen.listOfN(_, base)).map(_.mkString),
      2 -> Gen.zip(Gen.choose(1, 6), Gen.choose(2, 30)).map { case (p, n) => "ACGTAC".take(p) * n },
      1 -> Gen.listOfN(3, base).map(_.mkString),
      1 -> Gen.const(null: String))
    val cases = Gen.zip(Gen.choose(0, 40).flatMap(Gen.listOfN(_, seq)),
      Gen.oneOf(1, 4, 20, 31, 32, 33, 40), Gen.oneOf(1, 3, 7),
      Gen.choose(1, 8), Gen.choose(0, 400))
    def rows(df: DataFrame): Seq[(String, Long)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sorted
    check("counts", Prop.forAllNoShrink(cases) { case (seqs, k, parts, entries, extraBytes) =>
      val input = spark.createDataFrame(
        spark.sparkContext.parallelize(seqs.map(Row(_)), parts),
        StructType(Seq(StructField("sequence", StringType))))
      val got = graft.quantify.Quantify.countKmers(input, k)
      val want = utils.ExplodeKmerCounts(input, k)
      val model = rows(want)
      // the kernel alone, with a table of a few keys and bytes (a k-mer of
      // k chars is at most 3k bytes here), flushes over and over: the sums
      // of its batches are the counts
      val batches = KmerTable.counts(seqs.iterator.map(s => if (s == null) null
        else s.getBytes("UTF-8")), k, entries, 3 * k + extraBytes).toSeq
      val merged = batches.groupMapReduce(b => new String(b._1, "UTF-8"))(_._2)(_ + _)
      got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)) &&
        rows(got) == model && merged.toSeq.sorted == model
    }, cases = 30)
  }

  test("countKmers flushes a partition with more distinct k-mers than its table holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(16)
    // one partition of random DNA: ~1.1 M distinct 20-mers, past the table's
    // capacity, so it is emitted in two batches that the sum merges
    val reads = Seq.fill(110)(Seq.fill(10019)("ACGT"(rnd.nextInt(4))).mkString)
    val input = spark.sparkContext.parallelize(reads, 1).toDF("sequence")
    val got = graft.quantify.Quantify.countKmers(input, 20)
    val want = utils.ExplodeKmerCounts(input, 20)
    assert(want.count() > graft.kmer.KmerTable.MaxEntries)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
